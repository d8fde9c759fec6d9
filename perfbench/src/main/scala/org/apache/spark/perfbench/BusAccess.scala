package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the ledger reads its
  * counters only after every event posted so far has been delivered. The
  * bus is package-private to Spark, hence this file's package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
