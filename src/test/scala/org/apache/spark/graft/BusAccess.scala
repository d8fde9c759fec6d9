package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is package-private: wait
  * until every posted event has reached its listeners, so a counter a
  * listener keeps is complete when read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
