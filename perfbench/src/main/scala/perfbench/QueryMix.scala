package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The `query_mix` workload: one analyst runs a fixed list of declared
  * queries, one at a time, in an order the seed shuffles per pass.
  *
  * Each query is timed in three parts from outside: the registry call
  * that returns the DataFrame (`build`), `queryExecution.executedPlan`
  * (`plan`: analysis, optimisation and physical planning) and `collect`
  * on that planned execution (`exec`). Set-up is a warm pass over the
  * same list at a small scale factor, so JIT and code generation are paid
  * before timing. A query's latency is its best of the measured passes,
  * which keeps a stall of the machine during one pass out of the figures. */
object QueryMix {
  /** Warm passes of the set-up; `setup_s` is their median. */
  val SetupRepeats = 2
  /** Measured passes per run, at least; more while time remains. */
  val MinPasses = 2

  private lazy val registries = Seq(
    "llm" -> graft.LlmQueries.queries.keySet,
    "rel" -> graft.RelQueries.queries.keySet,
    "multimodal" -> graft.MultimodalQueries.queries.keySet)

  def registryOf(name: String): String =
    registries.collectFirst { case (r, names) if names(name) => r }
      .getOrElse("core")

  final case class Timing(name: String, pass: Int, buildS: Double,
      planS: Double, execS: Double) {
    def totalS: Double = buildS + planS + execS
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tally = new Main.Tally
    val names = Files.readAllLines(ctx.stage.resolve("queries.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val dir = ctx.stage.resolve("sf").toString
    val warmDir = ctx.stage.resolve("warm").toString

    // ---- set-up: a warm pass at the small scale, several times
    val setupTimes = (0 until SetupRepeats).map { k =>
      Main.settle()
      Main.seconds(ctx.scoped(s"setup:$k") {
        names.foreach { n =>
          try all(n)(spark, warmDir).collect()
          catch { case e: Throwable if scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] warm-up of $n failed: " +
              Main.describe(e))
          }
        }
      })._2
    }
    Main.say("set-up done")

    // ---- measured passes, closed loop with one client
    val timings = mutable.ArrayBuffer.empty[Timing]
    val results = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val start = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val order = new scala.util.Random(ctx.seed * 1000003L + pass)
        .shuffle(names)
      order.foreach { n =>
        Main.settle()
        tally.attempt(n) {
          ctx.scoped(s"q:$n:$pass") {
            val (df, build) = Main.seconds(all(n)(spark, dir))
            val (_, plan) = Main.seconds(df.queryExecution.executedPlan)
            val (rows, exec) = Main.seconds(df.collect())
            if (pass == 0) results(n) = (rows, df.schema)
            timings += Timing(n, pass, build, plan, exec)
          }
        }
      }
      pass += 1
    }
    Main.say(s"$pass measured passes done")
    val best = timings.groupBy(_.name).values.map(_.map(_.totalS).min).toSeq
    val endToEnd = Map(
      "setup_s" -> Main.median(setupTimes),
      "op_gmean_s" -> Main.gmean(best),
      "ops_per_min" -> best.size * 60.0 / best.sum)

    // ---- results of the first pass, dumped for the oracle check (untimed)
    val oracle = graft.SparkEntry.oracleSql
    ctx.scoped("verify") {
      results.foreach { case (n, (rows, schema)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(ctx.check.resolve(s"q/$n").toString)
      }
    }
    Files.writeString(ctx.check.resolve("q/oracle_sql.json"),
      Json.render(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))

    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else layerMetrics(ctx, timings.toSeq, pass)
    Outcome(tally.attempted, tally.failed, tally.errors.toSeq, endToEnd,
      perLayer,
      Map("kind" -> "query_mix", "dir" -> dir,
        "results" -> ctx.check.resolve("q").toString,
        "passes" -> pass,
        "executions" -> timings.groupBy(_.name).map { case (n, ts) =>
          n -> ts.size },
        "seconds" -> timings.groupBy(_.name).map { case (n, ts) =>
          n -> Main.median(ts.map(_.totalS).toSeq) }))
  }

  /** Per registry: seconds per pass in each part (median over passes) and
    * the first pass's Spark jobs and shuffle bytes. */
  private def layerMetrics(ctx: Ctx, timings: Seq[Timing], passes: Int)
      : Map[String, Double] = {
    val jobs = ctx.ledger.get.jobsSoFar(ctx.spark.sparkContext)
    val firstPass = jobs.filter(_.op.endsWith(":0")).groupBy(j =>
      registryOf(j.op.stripPrefix("q:").stripSuffix(":0")))
    Seq("core", "rel", "llm", "multimodal").flatMap { r =>
      val ts = timings.filter(t => registryOf(t.name) == r)
      def perPass(f: Timing => Double): Double = Main.median(
        (0 until passes).map(p => ts.filter(_.pass == p).map(f).sum))
      val js = firstPass.getOrElse(r, Nil)
      Seq(s"query.$r.build_s" -> perPass(_.buildS),
        s"query.$r.plan_s" -> perPass(_.planS),
        s"query.$r.exec_s" -> perPass(_.execS),
        s"query.$r.jobs" -> js.size.toDouble,
        s"query.$r.shuffle_bytes" ->
          js.map(j => j.shuffleRead + j.shuffleWrite).sum.toDouble)
    }.toMap ++ Map(
      "query.p80_s" -> percentile(timings.map(_.totalS), 0.8),
      "query.passes" -> passes.toDouble)
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
    }
}
