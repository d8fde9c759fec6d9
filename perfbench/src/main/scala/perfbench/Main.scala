package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Settings and shared state of one benchmark run. */
final case class Ctx(spark: SparkSession, work: Path, workload: String,
    seed: Long, seconds: Double, ledger: Option[Ledger]) {
  def traced: Boolean = ledger.nonEmpty
  def stage: Path = work.resolve("stage")
  def check: Path = work.resolve("check")
  def scoped[A](op: String)(f: => A): A =
    Ledger.scoped(spark.sparkContext, op)(f)
}

/** What one workload measured: operations attempted and failed (thrown
  * exceptions; output checks are added by the caller), end-to-end
  * metrics, and per-layer metrics when traced. */
final case class Outcome(attempted: Int, failed: Int, errors: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    check: Map[String, Any])

/** Benchmark harness: one JVM, `local[4]`, 4 shuffle partitions.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * Inputs are generated beforehand under `<workDir>/stage`; the result is
  * written to `<workDir>/result.json`. Everything is timed from outside the
  * program, around calls into its public entry points. */
object Main {
  val Cores = 4
  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def say(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, workDir) = args
    val work = Paths.get(workDir).toAbsolutePath
    val spark = graft.analytics.GraftSession.configure(SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = Option.when(trace == "1") {
      val l = new Ledger
      spark.sparkContext.addSparkListener(l)
      l
    }
    val ctx = Ctx(spark, work, workload, seed.toLong, seconds.toDouble, ledger)
    try {
      say("session started")
      // the calibration probe is an environment reading of the traced
      // run; the untraced run spends its time budget on the workload
      def probe(warm: Boolean): Double =
        if (ctx.traced) ctx.scoped("calib")(calibrate(spark, warm)) else 0.0
      val calibBefore = probe(warm = true)
      if (ctx.traced) say("calibration probe done")
      val out = workload match {
        case "cdc_trickle" | "bulk_reload" => Pipelines.run(ctx)
        case "query_mix" => QueryMix.run(ctx)
        case other => throw new IllegalArgumentException(
          s"unknown workload '$other'")
      }
      say("workload done")
      val calibAfter = probe(warm = false)
      val unattributed = ledger.map(_.jobsSoFar(spark.sparkContext)
        .count(_.op.isEmpty).toDouble)
      // the traced run's own end-to-end figures: minus the untraced run's,
      // they give the tracing overhead
      val perLayer = out.perLayer ++
        unattributed.map("unattributed_jobs" -> _) ++
        (if (ctx.traced) Map("env.calib_before_s" -> calibBefore,
          "env.calib_after_s" -> calibAfter) ++
          out.endToEnd.map { case (k, v) => s"traced.$k" -> v }
        else Map.empty)
      val result = Map(
        "workload" -> workload, "seed" -> seed.toLong,
        "trace" -> ctx.traced,
        "attempted" -> out.attempted, "failed" -> out.failed,
        "errors" -> out.errors.take(20),
        "end_to_end" -> out.endToEnd,
        "per_layer" -> perLayer,
        "calib" -> Map("before_s" -> calibBefore, "after_s" -> calibAfter),
        "check" -> out.check)
      Files.writeString(work.resolve("result.json"), Json.render(result))
    } finally spark.stop()
  }

  /** The fixed calibration probe of `graft.Bench`: an 8M-row xxhash
    * group-by that reads no input, so it measures the machine, not the
    * program. One untimed pass first when `warm`: the first Spark job of a
    * session pays its start-up. */
  def calibrate(spark: SparkSession, warm: Boolean): Double = {
    def pass(): Unit = {
      spark.range(0L, 8L * 1000L * 1000L, 1L, 32)
        .select(pmod(xxhash64(col("id")), lit(4096L)).as("k"),
          pmod(xxhash64(col("id"), lit(1L)), lit(1048576L)).as("h"))
        .groupBy(col("k"))
        .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
        .agg(sum(col("s")), sum(col("n"))).collect()
      ()
    }
    if (warm) pass()
    settle()
    seconds(pass())._2
  }

  /** Collect the previous operation's garbage before the next one is
    * timed, so it is not charged to it (`graft.Bench` does the same): the
    * order of operations, which the seed chooses, otherwise moved whole
    * runs' figures. */
  def settle(): Unit = System.gc()

  /** Result and wall seconds of `f`. */
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Geometric mean: every operation counts, whatever its size, and a
    * stall of one does not swap which operation sits in the middle. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Short one-line description of a failure. */
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(1).mkString.take(300)

  /** Counts attempted and failed operations of a workload. */
  final class Tally {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    /** Run `f` as one operation: Some(result), or None when it threw. */
    def attempt[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f) catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          failed += 1
          errors += s"$what: ${describe(e)}"
          None
      }
    }
  }
}
