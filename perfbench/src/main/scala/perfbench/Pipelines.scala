package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.config.{ConfigLoader, PipelineParams}
import graft.pipeline.PipelineRunner

/** The two pipeline workloads, driven the way a scheduler drives the
  * reference job: one triggered `PipelineRunner.run` at a time (the job's
  * `max_concurrent_runs: 1`), the next one only after the previous one
  * returned, with consumer reads of the published tables in between.
  *
  *  - `cdc_trickle`: small CDC waves into incremental silver (merge-on-read
  *    orders, copy-on-write customers), a streaming-cadence join mart and
  *    an incrementally maintained aggregate mart over full-mode line items.
  *    Triggers come in blocks of two, one of which finds no new files.
  *  - `bulk_reload`: large restatement batches of line items into
  *    full-mode silver and a batch aggregate mart.
  *
  * A trigger is split into the runner's own phases at the lines it prints
  * (`phase bronze done`, `phase silver done`, `phase gold done`), stamped
  * as they arrive. */
object Pipelines {
  private val CdcConfig =
    """{"orders": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["o_orderkey"],
      |  "silver_mode": "incremental", "silver_merge": "merge_on_read",
      |  "silver_buckets": 4,
      |  "expect_all_or_drop": {"price_ok": "o_totalprice IS NOT NULL"},
      |  "gold": {"cadence": "streaming",
      |    "join": [{"entity": "customer", "on": "o_custkey = c_custkey",
      |              "broadcast": true}],
      |    "select": ["o_orderkey", "o_totalprice", "o_orderstatus",
      |               "c_name AS customer", "c_mktsegment AS segment"]}},
      |"customer": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["c_custkey"],
      |  "silver_mode": "incremental", "silver_merge": "copy_on_write",
      |  "silver_buckets": 4},
      |"lineitem": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["l_orderkey", "l_linenumber"],
      |  "gold": {"mode": "incremental",
      |    "aggregate": {"group_by": ["l_returnflag", "l_linestatus"],
      |      "aggs": [{"op": "count", "as": "n"},
      |               {"op": "sum_x1e6", "expr": "l_extendedprice",
      |                "as": "price_x1e6"},
      |               {"op": "sum_x1e6", "expr": "l_quantity",
      |                "as": "qty_x1e6"}]}}}
      |}""".stripMargin

  private val BulkConfig =
    """{"lineitem": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["l_orderkey", "l_linenumber"],
      |  "gold": {"aggregate": {"group_by": ["l_returnflag", "l_linestatus"],
      |    "aggs": [{"op": "count", "as": "n"},
      |             {"op": "sum_x1e6", "expr": "l_extendedprice",
      |              "as": "price_x1e6"},
      |             {"op": "sum_x1e6", "expr": "l_quantity",
      |              "as": "qty_x1e6"}]}}}
      |}""".stripMargin

  /** Set-ups per run; `setup_s` is their median and the last one is
    * measured. Two, because one initial load costs several seconds. */
  val SetupRepeats = 2
  /** Measured blocks per run, at least; more while time remains. */
  val MinBlocks = 2
  val Layers = Seq("bronze", "silver", "gold")

  /** A run's store and source folder, and how to trigger it. */
  final case class Pipe(root: Path, catalog: String, concurrency: Int) {
    def src: Path = root.resolve("src")
    def store: Path = root.resolve("store")
    def params(index: Int): PipelineParams = PipelineParams(
      sourceLocation = src.toString, catalogName = catalog,
      fixedIngestedAt = Some(new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime +
          index * 60000L)))
  }

  /** One triggered run as measured. `lines` are the runner's log lines,
    * each with the epoch millisecond it arrived. */
  final case class Trigger(index: Int, idle: Boolean, ok: Boolean,
      wallS: Double, startMs: Long, endMs: Long, lines: Seq[(Long, String)],
      written: Map[String, (Long, Long)]) {
    def mark(msg: String): Option[Long] =
      lines.collectFirst { case (t, l) if l.endsWith(s"] $msg") => t }
    /** Phase windows [start, end) in epoch ms. */
    def phases: Seq[(String, Long, Long)] = {
      val b = mark("phase bronze done").getOrElse(endMs)
      val s = mark("phase silver done").getOrElse(b)
      val g = mark("phase gold done").getOrElse(s)
      Seq(("bronze", startMs, b), ("silver", b, s), ("gold", s, g))
    }
  }

  /** Collects lines printed to it, stamped on arrival. */
  final class LineClock(echo: PrintStream) extends OutputStream {
    private val buf = new java.io.ByteArrayOutputStream()
    val lines = mutable.ArrayBuffer.empty[(Long, String)]
    override def write(b: Int): Unit = synchronized {
      if (b == '\n') {
        val line = buf.toString(StandardCharsets.UTF_8)
        lines += ((System.currentTimeMillis(), line))
        echo.println(line)
        buf.reset()
      } else buf.write(b)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val cdc = ctx.workload == "cdc_trickle"
    val tally = new Main.Tally
    val entities = if (cdc) Seq("customer", "lineitem", "orders")
      else Seq("lineitem")
    // the schedule: per trigger, the wave it lands (0 = an idle trigger)
    // and its block; a run measures whole blocks
    val (schedule, blocks): (Seq[Int], Seq[Int]) =
      if (cdc) Files.readAllLines(ctx.stage.resolve("schedule.txt"))
        .asScala.map(_.trim.split(" ").map(_.toInt))
        .map(a => (a(0), a(1))).toSeq.unzip
      else {
        val bs = listFiles(ctx.stage.resolve("batches/lineitem"))
          .map(_.getFileName.toString.stripPrefix("b")
            .stripSuffix(".parquet").toInt).filter(_ > 0).sorted
        (bs, bs)
      }
    def waveFile(entity: String, wave: Int): Path =
      if (cdc) ctx.stage.resolve(f"waves/$entity/w$wave%04d.parquet")
      else ctx.stage.resolve(f"batches/$entity/b$wave%04d.parquet")
    def land(p: Pipe, wave: Int): Unit = entities.foreach { e =>
      val from = if (wave == 0 && cdc)
        ctx.stage.resolve(s"base/$e/w0000.parquet") else waveFile(e, wave)
      val to = p.src.resolve(e).resolve(from.getFileName)
      Files.createDirectories(to.getParent)
      Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    }

    def trigger(p: Pipe, index: Int, idle: Boolean): Trigger = {
      val clock = new LineClock(System.err)
      val out = new PrintStream(clock, true, StandardCharsets.UTF_8)
      val before = if (ctx.traced) Store.files(p.store) else Map.empty[String, (Long, Long)]
      Main.settle()
      val startMs = System.currentTimeMillis()
      val (ok, wall) = Main.seconds(tally.attempt(s"trigger $index") {
        ctx.scoped(s"t:$index") {
          Console.withErr(out) {
            new PipelineRunner(spark, p.params(index), p.store.toString)
              .run(ConfigLoader.load(spark, p.src.toString),
                concurrency = p.concurrency)
          }
        }
      }.nonEmpty)
      val endMs = System.currentTimeMillis()
      val written = if (ctx.traced) Store.written(before, Store.files(p.store))
        else Map.empty[String, (Long, Long)]
      Trigger(index, idle, ok, wall, startMs, endMs,
        clock.synchronized(clock.lines.toList), written)
    }

    // consumer reads of the published tables: (layer, name, read). The
    // merge-on-read silver is a view over base and delta files, so its
    // read cost moves with the merge strategy.
    def reads(p: Pipe): Seq[(String, String, () => Unit)] = {
      val params = p.params(0)
      val (fact, measure, mart) =
        if (cdc) ("orders", "o_totalprice", "orders")
        else ("lineitem", "l_extendedprice", "lineitem")
      Seq(
        ("silver", s"silver_$fact", () => {
          spark.table(params.silverFqn(fact))
            .agg(count(lit(1)), sum(col(measure))).collect(); ()
        }),
        ("gold", s"gold_$mart", () => {
          spark.table(params.goldFqn(mart)).agg(count(lit(1))).collect(); ()
        }))
    }

    // ---- set-up: a fresh store and the initial load, several times
    val config = if (cdc) CdcConfig else BulkConfig
    val concurrency = entities.size.min(3)
    val setups = (0 until SetupRepeats).map { k =>
      val p = Pipe(ctx.work.resolve(s"pipe$k"), s"pb$k", concurrency)
      Files.createDirectories(p.src)
      Files.writeString(p.src.resolve("dp_config_template.json"), config)
      Main.settle()
      val (t, s) = Main.seconds(ctx.scoped(s"setup:$k") {
        land(p, 0)
        trigger(p, 0, idle = false)
      })
      require(t.ok, s"initial load failed: ${tally.errors.mkString("; ")}")
      Main.say(s"set-up $k done")
      (p, s)
    }
    val pipe = setups.last._1

    // ---- the measured schedule, closed loop with one client
    val triggers = mutable.ArrayBuffer.empty[Trigger]
    val readTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val loopStart = System.nanoTime()
    var lastDone = loopStart
    var i = 0
    while (i < schedule.size && (blocks(i) < MinBlocks ||
        blocks(i) == blocks(i - 1) ||
        (System.nanoTime() - loopStart) / 1e9 < ctx.seconds)) {
      val wave = schedule(i)
      i += 1
      val index = i
      if (wave > 0) land(pipe, wave)
      triggers += trigger(pipe, index, idle = wave == 0)
      reads(pipe).foreach { case (layer, name, f) =>
        Main.settle()
        tally.attempt(s"read $name") {
          ctx.scoped(s"r:$index:$name")(Main.seconds(f())._2)
        }.foreach(s => readTimes += ((layer, s)))
      }
      lastDone = System.nanoTime()
    }
    require(triggers.nonEmpty, "the schedule is empty")
    Main.say(s"${triggers.size} measured triggers done")
    val loopS = (lastDone - loopStart) / 1e9
    val busy = triggers.filter(t => !t.idle && t.ok)
    val idles = triggers.filter(t => t.idle && t.ok)
    val endToEnd = Map(
      "setup_s" -> Main.median(setups.map(_._2)),
      "op_gmean_s" -> Main.gmean(busy.map(_.wallS).toSeq),
      "ops_per_min" -> triggers.count(_.ok) * 60.0 / loopS)

    // ---- the final state, dumped for the independent check (untimed)
    val params = pipe.params(0)
    val tables = entities.map(e => s"silver_$e" -> params.silverFqn(e)) ++
      (if (cdc) Seq("gold_orders" -> params.goldFqn("orders")) else Nil) ++
      Seq("gold_lineitem" -> params.goldFqn("lineitem"))
    ctx.scoped("verify") {
      tables.foreach { case (name, fqn) =>
        spark.table(fqn).coalesce(1).write.mode("overwrite")
          .parquet(ctx.check.resolve(name).toString)
      }
    }

    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        // rows the measured non-idle triggers loaded, from the generator's
        // manifest of row counts per staged file
        val rowsOf = Files.readAllLines(ctx.stage.resolve("rows.txt")).asScala
          .map(_.split(" ")).map(a => a(0) -> a(1).toDouble).toMap
        val landed = busy.map(t => entities.map(e => rowsOf.getOrElse(
          ctx.stage.relativize(waveFile(e, schedule(t.index - 1))).toString,
          0.0)).sum).sum
        layerMetrics(ctx, pipe, busy.toSeq, idles.toSeq, readTimes.toSeq,
          landed) ++ Map("trigger.count" -> triggers.size.toDouble,
          "trigger.busy_count" -> busy.size.toDouble)
      }
    Outcome(tally.attempted, tally.failed, tally.errors.toSeq, endToEnd,
      perLayer,
      Map("kind" -> ctx.workload, "src" -> pipe.src.toString,
        "tables" -> tables.map(_._1),
        "triggers" -> triggers.size))
  }

  private def layerMetrics(ctx: Ctx, pipe: Pipe, busy: Seq[Trigger],
      idles: Seq[Trigger], readTimes: Seq[(String, Double)],
      landedRows: Double)
      : Map[String, Double] = {
    val jobs = ctx.ledger.get.jobsSoFar(ctx.spark.sparkContext)
      .groupBy(_.op)
    val med = Main.median _
    def perTrigger(t: Trigger): Map[String, Double] = {
      val tj = jobs.getOrElse(s"t:${t.index}", Nil)
      t.phases.flatMap { case (layer, from, to) =>
        val lj = tj.filter(j => layer match {
          case "bronze" => j.startMs < to
          case "silver" => j.startMs >= from && j.startMs < to
          case _ => j.startMs >= from
        })
        val wall = (to - from) / 1000.0
        val busyS = Ledger.unionMs(lj.map(j =>
          (j.startMs.max(from), j.endMs.min(to)))) / 1000.0
        val (bytes, files) = t.written.getOrElse(layer, (0L, 0L))
        Seq(
          s"$layer.wall_s" -> wall,
          s"$layer.busy_s" -> busyS,
          s"$layer.driver_s" -> (wall - busyS),
          s"$layer.jobs" -> lj.size.toDouble,
          s"$layer.tasks" -> lj.map(_.tasks).sum.toDouble,
          s"$layer.task_s" -> lj.map(_.taskMs).sum / 1000.0,
          s"$layer.shuffle_read_bytes" -> lj.map(_.shuffleRead).sum.toDouble,
          s"$layer.shuffle_write_bytes" -> lj.map(_.shuffleWrite).sum.toDouble,
          s"$layer.bytes_written" -> bytes.toDouble,
          s"$layer.files_written" -> files.toDouble)
      }.toMap ++ feed(t) + ("trigger.phase_coverage" ->
        t.phases.map { case (_, a, b) => b - a }.sum / (t.wallS * 1000.0))
    }
    val rows = busy.map(perTrigger)
    val keys = rows.flatMap(_.keys).distinct
    val medians = keys.map(k => k -> med(rows.map(_.getOrElse(k, 0.0)))).toMap
    val live = Store.files(pipe.store).values
    val liveBytes = live.map(_._1).sum.toDouble
    val inputBytes = Store.files(pipe.src).values.map(_._1).sum.toDouble
    val idleBytes = idles.map(_.written.values.map(_._1).sum.toDouble)
    medians ++ Map(
      "trigger.phase_coverage_min" ->
        rows.map(_.getOrElse("trigger.phase_coverage", 0.0)).minOption
          .getOrElse(0.0),
      "driver_s.min" -> rows.flatMap(r => Layers.map(l =>
        r.getOrElse(s"$l.driver_s", 0.0))).minOption.getOrElse(0.0),
      "store.bytes_live" -> liveBytes,
      "store.files_live" -> live.size.toDouble,
      "store.bytes_per_input_byte" -> liveBytes / inputBytes,
      "idle.trigger_p50_s" -> med(idles.map(_.wallS)),
      "idle.bytes_written" -> med(idleBytes),
      "idle.noop_ratio" -> (if (idles.isEmpty) 0.0
        else idleBytes.count(_ == 0.0).toDouble / idles.size),
      "read.silver_s" -> med(readTimes.filter(_._1 == "silver").map(_._2)),
      "read.gold_s" -> med(readTimes.filter(_._1 == "gold").map(_._2)),
      "read.p50_s" -> med(readTimes.map(_._2)),
      "load.rows_per_s" -> landedRows / busy.map(_.wallS).sum) -
      "trigger.phase_coverage"
  }

  private val FeedRe = """\] feed (extract|drain) [^:]*: (?:[^0-9]*)([0-9.]+)s""".r

  /** Feed extract and drain seconds and pairs written, from the runner's
    * `feed extract` / `feed drain` lines of one trigger. */
  private def feed(t: Trigger): Map[String, Double] = {
    var extract = 0.0
    var drain = 0.0
    var pairs = 0
    t.lines.foreach { case (_, l) =>
      FeedRe.findFirstMatchIn(l).foreach { m =>
        val s = m.group(2).toDouble
        if (m.group(1) == "extract") {
          extract += s
          if (!l.contains("empty delta")) pairs += 1
        } else drain += s
      }
    }
    Map("feed.extract_s" -> extract, "feed.drain_s" -> drain,
      "feed.pairs" -> pairs.toDouble)
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.toList finally s.close()
    }
}

/** The store directory, walked from outside: per file its size and
  * modification time. */
object Store {
  def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
      finally s.close()
    }

  /** Bytes and files written between two walks, per layer: files that
    * are new or changed in size or time. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    after.toSeq.filter { case (p, v) => !before.get(p).contains(v) }
      .groupBy { case (p, _) => layerOf(p) }
      .map { case (layer, fs) => layer -> ((fs.map(_._2._1).sum, fs.size.toLong)) }

  /** The pipeline layer a store path belongs to: `bronze`, `silver` and
    * `gold*` (mart and stream stores) by their top directory, checkpoints
    * by their name, and the expectation log to silver, which writes it. */
  def layerOf(rel: String): String = {
    val parts = rel.split(java.io.File.separatorChar)
    def prefixed(name: String): Option[String] =
      Pipelines.Layers.find(name.startsWith)
    parts.headOption match {
      case Some("_checkpoints") if parts.length > 1 =>
        prefixed(parts(1)).getOrElse("other")
      case Some("_expectation_log") => "silver"
      case Some(top) => prefixed(top).getOrElse("other")
      case None => "other"
    }
  }
}
