package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it: the benchmark operation that
  * caused it, its interval and its task counters. */
final class JobRecord(val id: Int, val op: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
}

/** Spark job accounting from outside the program.
  *
  * The benchmark sets [[Ledger.OpKey]] as a local property on its own
  * calling thread around every operation. Spark copies local properties
  * into threads the operation creates (the runner's per-phase pool,
  * stream execution threads) and AQE captures them for the jobs its own
  * pool submits, so every job carries the operation that caused it. A
  * job without the property is counted as unattributed. */
final class Ledger extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Ledger.OpKey))).getOrElse("")
    val j = new JobRecord(e.jobId, op, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }

  /** Every job seen so far, after the bus has delivered all posted events. */
  def jobsSoFar(sc: SparkContext): Seq[JobRecord] = {
    org.apache.spark.perfbench.BusAccess.drain(sc)
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object Ledger {
  val OpKey = "perfbench.op"

  /** Run `f` with every Spark job it causes tagged `op`. */
  def scoped[A](sc: SparkContext, op: String)(f: => A): A = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }

  /** Length of the union of intervals (never their sum: jobs overlap). */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
