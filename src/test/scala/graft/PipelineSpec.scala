package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ConfigLoader, PipelineParams}
import graft.pipeline.PipelineRunner

/** End-to-end pipeline tests over engine-generated fixtures (FIXTURES.md §B):
  * a temp source tree with dp_config_template.json + one folder per entity,
  * driven twice to prove incremental ingestion, dedup, expectations, CDC
  * deletes, soft-delete views, and schema evolution.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Live generation data dir of a GenStore-layout incremental store
    * (`<root>/g<N>` named by the `_gen` marker, 0 when absent). */
  private def liveGen(root: String): String = {
    val m = Path.of(root, "_gen")
    val g = if (Files.exists(m)) Files.readString(m).trim.toLong else 0L
    s"$root/g$g"
  }

  /** The live generation of one substore (`rows`, `facts`, `dim_<e>`,
    * `agg_partials`) of an entity's stream-store mart. */
  private def streamStore(store: String, entity: String,
      sub: String): String =
    liveGen(s"$store/gold_stream/$entity/store/$sub")

  /** Highest micro-batch seq in a stream-store mart's rows substore —
    * the boundary between one run's upserts and the next. */
  private def maxRowSeq(store: String, entity: String): Long =
    spark.read.option("mergeSchema", "true")
      .parquet(streamStore(store, entity, "rows"))
      .agg(max(col("_sj_seq"))).head().getLong(0)

  private val configJson = """{
    "app_downloads": {
      "raw_file_format": "parquet",
      "clustering_cols": ["id"],
      "skipping_indexes": ["id", "op"],
      "unique_primary_key": ["id"],
      "renamed_columns": [],
      "expect_all_or_drop": {
        "has_id": "id IS NOT NULL",
        "has_created": "created_at IS NOT NULL"
      }
    },
    "locations": {
      "raw_file_format": "json",
      "clustering_cols": [],
      "skipping_indexes": [],
      "unique_primary_key": ["loc_id"],
      "renamed_columns": [],
      "expect_all_or_drop": {}
    },
    "rates": {
      "raw_file_format": "csv",
      "unique_primary_key": ["code"],
      "renamed_columns": ["code:currency_code"]
    }
  }"""

  /** batch 1: id 1..4 (id=2 twice w/ distinct versions), one D-row (id=4),
    * one null created_at (id=3, dropped by expectations). int32 `downloads`
    * exercises P1. */
  private def writeBatch1(src: String): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("downloads", IntegerType),
      StructField("created_at", StringType), StructField("op", StringType),
      StructField("v", StringType)))
    val rows = Seq(
      Row(1L, 10, "2024-01-01", "I", "one"),
      Row(2L, 20, "2024-01-01", "I", "two-old"),
      Row(2L, 21, "2024-01-02", "U", "two-new"),
      Row(3L, 30, null, "I", "three-bad"),
      Row(4L, 40, "2024-01-01", "D", "four-deleted"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$src/app_downloads")
    Seq("""{"loc_id": 1, "city": "berlin"}""",
      """{"loc_id": 2, "city": "lima"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/locations")
    Seq("code,rate", "EUR,1.08", "GBP,1.27").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/rates")
  }

  private def writeConfig(src: String): Unit =
    Files.writeString(Path.of(src, "dp_config_template.json"), configJson)

  /** Spark jobs started while `f` runs (the listener bus drained on
    * both sides) — a deterministic cost counter where wall time is noise. */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.BusAccess.drain(sc)
    sc.addSparkListener(counter)
    try { f; org.apache.spark.graft.BusAccess.drain(sc) }
    finally sc.removeSparkListener(counter)
    n.get
  }

  /** Job budgets of the single-batch merges the two bucketed-silver
    * specs run: the most jobs seen over three runs of the code before
    * every bucketed write went through one publish. A merge that needs
    * more jobs fails its spec. */
  private val CowMergeJobBudget = 10
  private val MorMergeJobBudget = 11

  /** `republish = true` disables the no-change run skip — for tests
    * that exercise the republish machinery itself by re-running over an
    * unchanged feed (version rotation, per-publish event-log rows,
    * empty-delta partials); the skip has its own dedicated test. */
  private def mkRunner(src: String, store: String, clock: String,
      softDeletes: String = "N", catalog: String = "t1",
      republish: Boolean = false)
      : (PipelineRunner, PipelineParams) = {
    val params = PipelineParams(
      sourceLocation = src, catalogName = catalog,
      softDeletes = softDeletes,
      fixedIngestedAt = Some(Timestamp.valueOf(clock)),
      republishUnchanged = republish)
    (new PipelineRunner(spark, params, store), params)
  }

  test("e2e: bronze ingests, silver dedups + drops D + enforces expectations") {
    val src = tmpDir("graft-src"); val store = tmpDir("graft-store")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
    assert(entities.keySet == Set("app_downloads", "locations", "rates"))

    val (runner, params) = mkRunner(src, store, "2024-02-01 00:00:00")
    runner.run(entities, concurrency = 2) // phases parallel across entities

    val bronze = spark.table(params.bronzeFqn("app_downloads"))
    assert(bronze.count() == 5) // bronze is raw append: all rows
    assert(bronze.schema("downloads").dataType == LongType) // P1 in bronze
    assert(bronze.columns.contains("_ingested_at") &&
      bronze.columns.contains("_source_file") &&
      bronze.columns.contains("_file_modification_time")) // P2
    assert(bronze.select("_source_file").as[String].collect()
      .forall(_.contains("app_downloads")))

    val silver = spark.table(params.silverFqn("app_downloads"))
    val byId = silver.collect().map(r => r.getAs[Long]("id") -> r).toMap
    // id=2: both versions share the injected clock -> deterministic
    // tie-break picks one; either way exactly one survivor per PK
    assert(silver.groupBy("id").count().filter($"count" > 1).count() == 0)
    assert(byId.contains(1L) && byId.contains(2L))
    assert(!byId.contains(3L)) // expectation violation (null created_at)
    assert(!byId.contains(4L)) // op='D' dropped when soft_deletes=N

    // entity without op column passes the P5 guard untouched
    val locations = spark.table(params.silverFqn("locations"))
    assert(locations.count() == 2)

    // S4 csv entity: header + inferSchema, P8 rename applied in silver
    val rates = spark.table(params.silverFqn("rates"))
    assert(rates.count() == 2)
    assert(rates.columns.contains("currency_code"))
    assert(rates.schema("rate").dataType.typeName == "double")
  }

  test("S4b: an ORC entity rides the generic format dispatch end-to-end " +
      "(inference, streaming bronze, silver dedup)") {
    val src = tmpDir("orc-src"); val store = tmpDir("orc-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"metrics": {
        |  "raw_file_format": "orc",
        |  "unique_primary_key": ["mid"]
        |}}""".stripMargin)
    Seq((1L, "cpu", 0.9), (2L, "mem", 0.4), (2L, "mem", 0.4))
      .toDF("mid", "name", "v")
      .coalesce(1).write.mode("overwrite").orc(s"$src/metrics")
    val (runner, params) = mkRunner(src, store, "2024-03-01 00:00:00",
      catalog = "t_orc")
    runner.run(ConfigLoader.load(spark, src), concurrency = 1)
    assert(spark.table(params.bronzeFqn("metrics")).count() == 3)
    val silver = spark.table(params.silverFqn("metrics"))
    assert(silver.count() == 2) // PK dedup collapsed the duplicate mid=2
    assert(silver.select("name").as[String].collect().toSet ==
      Set("cpu", "mem"))
  }

  test("gold layer: config-declared decontamination against another " +
      "entity's silver table") {
    import spark.implicits._
    val src = tmpDir("decon-src"); val store = tmpDir("decon-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "profile_on_publish": true,
        |  "gold": {
        |    "curation": {"id_col": "doc_id", "text_col": "text",
        |                 "min_quality": 0.0, "max_repetition": 1.0,
        |                 "contamination_probes_entity": "bench"}
        |  }
        |},
        |"bench": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"]
        |}}""".stripMargin)
    val probeSpan = "benchmark question alpha beta gamma delta epsilon zeta"
    val clean = "fish swim slowly down the long calm river past green " +
      "reeds and quiet stones while herons wait patiently in the evening"
    Seq(
      (1L, s"$clean $probeSpan"), // contains the benchmark -> removed
      (2L, clean) // clean -> survives
    ).toDF("doc_id", "text").write.parquet(s"$src/docs")
    Seq((100L, probeSpan)).toDF("doc_id", "text")
      .write.parquet(s"$src/bench")

    val entities = ConfigLoader.load(spark, src)
    assert(entities("docs").gold.exists(
      _.curation.contaminationProbesEntity.contains("bench")))
    val (runner, params) = mkRunner(src, store, "2024-03-02 00:00:00",
      catalog = "decont")
    runner.run(entities)
    val gold = spark.table(params.goldFqn("docs"))
    assert(gold.select("doc_id").as[Long].collect().toSet == Set(2L),
      "the contaminated doc must be decontaminated out of gold")
  }

  test("gold layer: warn tier counts without filtering and the fail " +
      "tier aborts the gold publish, keeping the last good version") {
    import spark.implicits._
    val src = tmpDir("goldexp-src"); val store = tmpDir("goldexp-store")
    val text = "fish swim slowly down the long calm river past green " +
      "reeds and quiet stones while herons wait patiently in the evening"
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "profile_on_publish": true,
        |  "gold": {
        |    "curation": {"id_col": "doc_id", "text_col": "text",
        |                 "min_quality": 0.0, "max_repetition": 1.0},
        |    "expect_all": {"id_small": "doc_id < 2"},
        |    "expect_all_or_fail": {"id_sane": "doc_id < 100"}
        |  }
        |}}""".stripMargin)
    val text2 = "mountain goats climb steep rocky cliffs under bright " +
      "morning skies while eagles circle high above the silent valley"
    Seq((1L, text), (2L, text2))
      .toDF("doc_id", "text").write.parquet(s"$src/docs")
    val (r1, params) = mkRunner(src, store, "2024-03-02 00:00:00",
      catalog = "goldexp")
    r1.run(ConfigLoader.load(spark, src))
    val gold = spark.table(params.goldFqn("docs"))
    // warn tier violated by doc 2 but the row is KEPT
    assert(gold.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    val props = spark.sql(s"SHOW TBLPROPERTIES ${params.goldFqn("docs")}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("expectations.violations_id_small") == "1")
    assert(props("expectations.violations_id_sane") == "0")

    // a doc violating the fail tier arrives: gold publish aborts before
    // the repoint; readers keep the 2-row version, candidate dir gone
    val text3 = "desert winds carry warm sand across ancient dunes as " +
      "camels walk slowly toward the distant shimmering oasis water"
    Seq((200L, text3)).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$src/docs")
    val (r2, _) = mkRunner(src, store, "2024-03-03 00:00:00",
      catalog = "goldexp")
    val e = intercept[IllegalStateException](
      r2.run(ConfigLoader.load(spark, src)))
    assert(e.getMessage.contains("id_sane"))
    assert(spark.table(params.goldFqn("docs"))
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val versions = new java.io.File(s"$store/gold/docs")
      .listFiles().filter(_.getName.startsWith("v")).map(_.getName).toSeq
    assert(versions == Seq("v1"))
  }

  test("changeFeed / signedChangeFeed: the medallion->streaming-mart " +
      "bridge — full-row CDC images drive GoldJoinOps.factSink to the " +
      "final join state, and signed deltas compose under the aggregate " +
      "algebra to the final totals") {
    import spark.implicits._
    val src = tmpDir("cf-src"); val store = tmpDir("cf-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "expect_all_or_drop": {"text_ok": "text IS NOT NULL"}
        |}}""".stripMargin)
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("doc_id", "text", "grp").write.parquet(s"$src/docs")
    def runAt(clock: String): PipelineRunner =
      mkRunner(src, store, clock, catalog = "cfb")._1 match {
        case r => r.run(ConfigLoader.load(spark, src)); r
      }
    runAt("2024-08-01 00:00:00")
    // wave: update doc 2, retract doc 3 via the expectation gate
    Seq((2L, "B2", 20L), (3L, null.asInstanceOf[String], 30L))
      .toDF("doc_id", "text", "grp")
      .write.mode("append").parquet(s"$src/docs")
    val runner = runAt("2024-08-02 00:00:00")
    val Seq(v1, v2) = runner.tableVersions("docs").map(_.version).sorted
    // 1. full-row CDC images
    val feed = runner.changeFeed("docs", v1, v2, Seq("doc_id"))
      .select($"doc_id", $"text", $"grp", $"_cdc_deleted")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(feed == Set((2L, "B2", 20L, false), (3L, "c", 30L, true)),
      s"changeFeed images wrong: $feed")
    // 2. signed deltas compose additively: base(+1) ++ deltas == v2 agg
    val signed = runner.signedChangeFeed("docs", v1, v2, Seq("doc_id"))
    val base = runner.readVersion("docs", v1)
      .withColumn("_cdc_sign", lit(1L))
    import graft.config.{GoldAgg, GoldAggregate}
    val a = GoldAggregate(Seq("grp"), Seq(GoldAgg("count", as = "n")))
    val es = graft.pipeline.GoldAggOps
      .partialExprs(a, col("_cdc_sign"))
    val cols = Seq("doc_id", "text", "grp", "_cdc_sign")
    val composed = base.select(cols.map(col): _*)
      .unionByName(signed.select(cols.map(col): _*))
      .groupBy($"grp").agg(es.head, es.tail: _*)
      .filter($"_agg_n" > 0).select($"grp", $"n")
      .as[(Long, Long)].collect().toSet
    val direct = runner.readVersion("docs", v2)
      .groupBy($"grp").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(composed == direct, s"signed deltas $composed != $direct")
    // 3. the images drive the streaming join mart to the v2 join state
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    val star = StreamStar(pkCols = Seq("doc_id"),
      dims = Seq(StreamDim("g", Seq("grp" -> "g_id"))),
      select = Seq("doc_id", "text", "g_name"),
      factDeleteCol = Some("_cdc_deleted"))
    val mroot = Path.of(tmpDir("cf-mart"))
    val dimMem = MemoryStream[(Long, String)](spark)
    val dimQ = GoldJoinOps.dimSink(dimMem.toDF.toDF("g_id", "g_name"),
        "g", star, mroot.resolve("store").toString,
        mroot.resolve("cpd").toString).start()
    dimMem.addData((10L, "X"), (20L, "Y"), (30L, "Z"))
    dimQ.processAllAvailable(); dimQ.stop()
    val factMem = MemoryStream[(Long, String, Long, Boolean)](spark)
    val factQ = GoldJoinOps.factSink(
        factMem.toDF.toDF("doc_id", "text", "grp", "_cdc_deleted"),
        star, mroot.resolve("store").toString,
        mroot.resolve("cpf").toString).start()
    // batch 1 = the v1 initial load; batch 2 = the v1->v2 change feed
    factMem.addData(runner.readVersion("docs", v1)
      .select($"doc_id", $"text", $"grp", lit(false))
      .as[(Long, String, Long, Boolean)].collect().toIndexedSeq: _*)
    factQ.processAllAvailable()
    factMem.addData(runner.changeFeed("docs", v1, v2, Seq("doc_id"))
      .select($"doc_id", $"text", $"grp", $"_cdc_deleted")
      .as[(Long, String, Long, Boolean)].collect().toIndexedSeq: _*)
    factQ.processAllAvailable(); factQ.stop()
    val mart = GoldJoinOps.readMart(spark,
        mroot.resolve("store").toString, star)
      .as[(Long, String, String)].collect().toSet
    assert(mart == Set((1L, "a", "X"), (2L, "B2", "Y")),
      s"replayed change feed did not converge to the v2 join state: $mart")
  }

  test("gold.cadence streaming: config-declared marts are maintained " +
      "by the stream-store sinks across triggered CDC runs — the " +
      "aggregate totals and the join mart equal their batch twins " +
      "after updates, a gate-tombstone delete, and a dim change; the " +
      "store, checkpoints and feed pairs persist across runs") {
    import spark.implicits._
    val src = tmpDir("gcs-src"); val store = tmpDir("gcs-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "expect_all_or_drop": {"ok": "amount IS NOT NULL"},
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "shops", "on": "shop_id = s_id"}],
        |    "select": ["sale_id", "amount", "s_name AS shop"]}
        |},
        |"shops": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"]
        |},
        |"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  "expect_all_or_drop": {"ok": "amount IS NOT NULL"},
        |  "gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin)
    Seq((1L, java.lang.Double.valueOf(5.0), 10L),
        (2L, java.lang.Double.valueOf(6.0), 20L))
      .toDF("sale_id", "amount", "shop_id").write.parquet(s"$src/sales")
    Seq((10L, "North"), (20L, "South"))
      .toDF("s_id", "s_name").write.parquet(s"$src/shops")
    Seq((1L, java.lang.Double.valueOf(1.5), "a"),
        (2L, java.lang.Double.valueOf(2.5), "a"),
        (3L, java.lang.Double.valueOf(4.0), "b"))
      .toDF("r_id", "amount", "grp").write.parquet(s"$src/receipts")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "gcstream")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val p1 = run("2024-09-01 00:00:00")
    assert(spark.table(p1.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet ==
      Set((1L, 5.0, "North"), (2L, 6.0, "South")),
      "initial streaming join mart wrong")
    assert(spark.table(p1.goldFqn("receipts")).orderBy($"grp")
        .as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 4000000L), ("b", 1L, 4000000L)),
      "initial streaming aggregate mart wrong")
    // wave 2: sale 1 moves shop + amount, sale 2 DELETES via the gate
    // tombstone (null amount drops at silver -> a 'removed' CDC image);
    // a new sale 3; receipt 3 deletes, receipt 4 arrives in grp b;
    // shop 20 renames (dim delta -> affected-fact re-derivation)
    Seq((1L, java.lang.Double.valueOf(7.5), 20L),
        (2L, null.asInstanceOf[java.lang.Double], 20L),
        (3L, java.lang.Double.valueOf(9.0), 10L))
      .toDF("sale_id", "amount", "shop_id")
      .write.mode("append").parquet(s"$src/sales")
    Seq((20L, "South2")).toDF("s_id", "s_name")
      .write.mode("append").parquet(s"$src/shops")
    Seq((3L, null.asInstanceOf[java.lang.Double], "b"),
        (4L, java.lang.Double.valueOf(10.0), "b"))
      .toDF("r_id", "amount", "grp")
      .write.mode("append").parquet(s"$src/receipts")
    val p2 = run("2024-09-02 00:00:00")
    // twins: the published gold equals the batch star / aggregate over
    // the FINAL silver state — the stream machinery must be invisible
    val joinTwin = spark.table(p2.silverFqn("sales"))
      .join(spark.table(p2.silverFqn("shops")),
        $"shop_id" === $"s_id")
      .select($"sale_id", $"amount", $"s_name".as("shop"))
      .as[(Long, Double, String)].collect().toSet
    assert(spark.table(p2.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == joinTwin &&
      joinTwin == Set((1L, 7.5, "South2"), (3L, 9.0, "North")),
      "streaming join mart diverged from the batch star after wave 2")
    val aggTwin = spark.table(p2.silverFqn("receipts"))
      .groupBy($"grp").agg(count(lit(1)).as("n"),
        sum(floor($"amount" * lit(1e6))).as("total_x1e6"))
      .as[(String, Long, Long)].collect().toSet
    assert(spark.table(p2.goldFqn("receipts"))
        .as[(String, Long, Long)].collect().toSet == aggTwin,
      "streaming aggregate mart diverged from the batch twin")
    // the stream state persisted and advanced across runs: no feed
    // pair or stream checkpoint anywhere under gold_stream/ (the sinks
    // are called on the deltas directly; the _consumed marker carries
    // the high water), live replay markers in the store
    val salesFeed = new java.io.File(
      s"$store/gold_stream/sales/feed_sales")
    import scala.jdk.CollectionConverters._
    val streamDirs = Files.walk(Path.of(s"$store/gold_stream"))
      .iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filter(n => n.matches("v-?\\d+_\\d+") || n.startsWith("cp_")).toSet
    assert(streamDirs.isEmpty,
      s"feed pairs or stream checkpoints under gold_stream/: $streamDirs")
    assert(new java.io.File(s"$salesFeed/_consumed").isFile,
      "feed high-water marker missing after vacuum")
    assert(new java.io.File(
        s"$store/gold_stream/sales/store/_fact_marker").isFile &&
      new java.io.File(
        s"$store/gold_stream/receipts/store/_last_batch").isFile,
      "stream-store replay markers missing")
    // run 3 with NO changes: published content stays identical
    val p3 = run("2024-09-03 00:00:00")
    assert(spark.table(p3.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == joinTwin,
      "an idle run changed the streaming join mart")
    // run 4 with NO source changes but FORCED republish (the bench's
    // steady-state posture): the silver republish mints a new version
    // whose CDC delta is EMPTY — the feed must advance its _consumed
    // marker WITHOUT committing a pair or paying a stream drain (the
    // empty-delta fast path), and the mart content must stay identical
    val consumedOf = (e: String) => Files.readString(
      Path.of(s"$store/gold_stream/$e/feed_$e/_consumed")).trim.toLong
    val cBefore = consumedOf("sales")
    val (r4, p4) = mkRunner(src, store, "2024-09-04 00:00:00",
      catalog = "gcstream", republish = true)
    r4.run(ConfigLoader.load(spark, src))
    val cAfter = consumedOf("sales")
    assert(cAfter == cBefore + 1,
      s"empty-delta republish did not advance the feed marker " +
        s"($cBefore -> $cAfter, expected ${cBefore + 1})")
    val pairs4 = new java.io.File(s"$store/gold_stream/sales/feed_sales")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(pairs4.isEmpty,
      s"empty delta committed a feed pair instead of skipping: $pairs4")
    assert(spark.table(p4.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == joinTwin,
      "the empty-delta fast path changed the streaming join mart")
    // and a LATER real change still flows: the marker-advanced feed
    // extracts (new-marker -> live) and converges to the batch star
    Seq((5L, java.lang.Double.valueOf(3.25), 10L))
      .toDF("sale_id", "amount", "shop_id")
      .write.mode("append").parquet(s"$src/sales")
    val p5 = run("2024-09-05 00:00:00")
    assert(spark.table(p5.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet ==
      joinTwin + ((5L, 3.25, "North")),
      "a change after the empty-delta fast path did not flow through")
  }

  test("streaming-mart feed overlap gate (GoldJoinOps.dimStoresReady): " +
      "a virgin mart reads NOT ready (first pass keeps dims-then-fact " +
      "order — derive fails loud for a never-fed left-join dim), a warm " +
      "store reads ready (fact/dim feeds may drain concurrently), and " +
      "the virgin sequential pass builds the batch star") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    val src = tmpDir("ovl-src"); val store = tmpDir("ovl-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "shops", "on": "shop_id = s_id"}],
        |    "select": ["sale_id", "amount", "s_name AS shop"]}
        |},
        |"shops": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"]
        |}}""".stripMargin)
    Seq((1L, 5.0, 10L), (2L, 6.0, 20L))
      .toDF("sale_id", "amount", "shop_id").write.parquet(s"$src/sales")
    Seq((10L, "North"), (20L, "South")).toDF("s_id", "s_name")
      .write.parquet(s"$src/shops")
    // the gate consults dim substore presence only — this mirror star
    // matches what the runner derives from the config above
    val star = GoldJoinOps.StreamStar(Seq("sale_id"),
      Seq(GoldJoinOps.StreamDim("shops", Seq("shop_id" -> "s_id"))))
    val storeDir = s"$store/gold_stream/sales/store"
    assert(!GoldJoinOps.dimStoresReady(spark, storeDir, star),
      "virgin mart must read NOT ready - the fact drain may not race " +
        "a dim's first batch")
    val (r1, p1) = mkRunner(src, store, "2024-09-01 00:00:00",
      catalog = "ovlstream")
    r1.run(ConfigLoader.load(spark, src))
    assert(spark.table(p1.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet ==
      Set((1L, 5.0, "North"), (2L, 6.0, "South")),
      "virgin (sequential) pass built the wrong mart")
    assert(GoldJoinOps.dimStoresReady(spark, storeDir, star),
      "warm store must read ready - later passes may overlap the " +
        "fact and dim drains")
  }

  test("gold.cadence streaming over INCREMENTAL silver: the merge-time " +
      "CDF feeds the stream-store sinks (no versioned snapshots exist " +
      "to diff) — join mart over merge-on-read fact + copy-on-write " +
      "dim and an aggregate mart over copy-on-write all equal their " +
      "batch twins across update/delete/dim-change waves; consumed CDF " +
      "batches vacuum; an idle run skips; a re-minted CDF epoch " +
      "(upstream full refresh) rebuilds the mart loud") {
    import spark.implicits._
    val src = tmpDir("gci-src"); val store = tmpDir("gci-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "silver_mode": "incremental",
        |  "silver_merge": "merge_on_read",
        |  "silver_buckets": 4,
        |  "silver_compact_after": 1,
        |  "expect_all_or_drop": {"ok": "amount IS NOT NULL"},
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "shops", "on": "shop_id = s_id"}],
        |    "select": ["sale_id", "amount", "s_name AS shop"]}
        |},
        |"shops": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"],
        |  "silver_mode": "incremental",
        |  "silver_merge": "copy_on_write",
        |  "silver_buckets": 2
        |},
        |"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  "silver_mode": "incremental",
        |  "silver_buckets": 4,
        |  "expect_all_or_drop": {"ok": "amount IS NOT NULL"},
        |  "gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin)
    Seq((1L, java.lang.Double.valueOf(5.0), 10L),
        (2L, java.lang.Double.valueOf(6.0), 20L))
      .toDF("sale_id", "amount", "shop_id").write.parquet(s"$src/sales")
    Seq((10L, "North"), (20L, "South"))
      .toDF("s_id", "s_name").write.parquet(s"$src/shops")
    Seq((1L, java.lang.Double.valueOf(1.5), "a"),
        (2L, java.lang.Double.valueOf(2.5), "a"),
        (3L, java.lang.Double.valueOf(4.0), "b"))
      .toDF("r_id", "amount", "grp").write.parquet(s"$src/receipts")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "gcicdf")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val p1 = run("2024-10-01 00:00:00")
    assert(spark.table(p1.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet ==
      Set((1L, 5.0, "North"), (2L, 6.0, "South")),
      "initial streaming join mart over incremental silver wrong")
    assert(spark.table(p1.goldFqn("receipts")).orderBy($"grp")
        .as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 4000000L), ("b", 1L, 4000000L)),
      "initial streaming aggregate mart over incremental silver wrong")
    // the CDF exists and carries its identity + clock markers
    assert(Files.exists(Path.of(s"$store/silver/sales/_cdf/_epoch")) &&
      Files.exists(Path.of(s"$store/silver/shops/_cdf/_epoch")) &&
      Files.exists(Path.of(s"$store/silver/receipts/_cdf/_epoch")),
      "CDF epoch markers missing after run 1")
    // wave 2: sale 1 moves shop + amount; sale 2 DELETES via the gate
    // (null amount -> MOR tombstone -> CDF 'delete'); new sale 3; shop
    // 20 renames (copy-on-write dim -> CDF update pre/post -> affected-
    // fact re-derivation); receipt 3 deletes, receipt 4 arrives
    Seq((1L, java.lang.Double.valueOf(7.5), 20L),
        (2L, null.asInstanceOf[java.lang.Double], 20L),
        (3L, java.lang.Double.valueOf(9.0), 10L))
      .toDF("sale_id", "amount", "shop_id")
      .write.mode("append").parquet(s"$src/sales")
    Seq((20L, "South2")).toDF("s_id", "s_name")
      .write.mode("append").parquet(s"$src/shops")
    Seq((3L, null.asInstanceOf[java.lang.Double], "b"),
        (4L, java.lang.Double.valueOf(10.0), "b"))
      .toDF("r_id", "amount", "grp")
      .write.mode("append").parquet(s"$src/receipts")
    val p2 = run("2024-10-02 00:00:00")
    val joinTwin = spark.table(p2.silverFqn("sales"))
      .join(spark.table(p2.silverFqn("shops")),
        $"shop_id" === $"s_id")
      .select($"sale_id", $"amount", $"s_name".as("shop"))
      .as[(Long, Double, String)].collect().toSet
    assert(spark.table(p2.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == joinTwin &&
      joinTwin == Set((1L, 7.5, "South2"), (3L, 9.0, "North")),
      "streaming join mart diverged from the batch star after wave 2")
    val aggTwin = spark.table(p2.silverFqn("receipts"))
      .groupBy($"grp").agg(count(lit(1)).as("n"),
        sum(floor($"amount" * lit(1e6))).as("total_x1e6"))
      .as[(String, Long, Long)].collect().toSet
    assert(spark.table(p2.goldFqn("receipts"))
        .as[(String, Long, Long)].collect().toSet == aggTwin &&
      aggTwin == Set(("a", 2L, 4000000L), ("b", 1L, 10000000L)),
      "streaming aggregate mart diverged from the batch twin")
    // consumed CDF batches vacuumed (the mart's _consumed marker is the
    // high water; batches at or below it delete)
    def cdfBatches(e: String): Set[String] = {
      val d = new java.io.File(s"$store/silver/$e/_cdf")
      d.listFiles().filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("b")).toSet
    }
    assert(cdfBatches("sales").isEmpty && cdfBatches("shops").isEmpty &&
      cdfBatches("receipts").isEmpty,
      s"consumed CDF batches were not vacuumed: sales=" +
        s"${cdfBatches("sales")} shops=${cdfBatches("shops")} " +
        s"receipts=${cdfBatches("receipts")}")
    // idle run: CDF clock unchanged -> the gold provenance skip fires
    // and nothing moves
    val p3 = run("2024-10-03 00:00:00")
    assert(spark.table(p3.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == joinTwin,
      "an idle run changed the streaming join mart")
    // epoch rebuild: simulate an upstream full refresh by re-minting
    // the fact's CDF epoch — the mart must detect the restarted clock,
    // clear its stream state, and rebuild to the same contents
    val epochP = new org.apache.hadoop.fs.Path(
      s"$store/silver/sales/_cdf/_epoch")
    val fs = epochP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(epochP, true)
    out.write("re-minted-epoch".getBytes("UTF-8")); out.close()
    Seq((5L, java.lang.Double.valueOf(2.0), 10L))
      .toDF("sale_id", "amount", "shop_id")
      .write.mode("append").parquet(s"$src/sales")
    val p4 = run("2024-10-04 00:00:00")
    val joinTwin4 = spark.table(p4.silverFqn("sales"))
      .join(spark.table(p4.silverFqn("shops")),
        $"shop_id" === $"s_id")
      .select($"sale_id", $"amount", $"s_name".as("shop"))
      .as[(Long, Double, String)].collect().toSet
    assert(spark.table(p4.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == joinTwin4 &&
      joinTwin4.contains((5L, 2.0, "North")),
      "the epoch-change rebuild did not converge to the batch star")
  }

  test("silver CDF self-review fixes: a batch row that LOSES the " +
      "keep-latest tie-break emits no change (post-image re-runs the " +
      "merge ordering, the mart stays on the batch twin); a RESET " +
      "silver checkpoint fails the CDF clock guard loud; and a " +
      "full->incremental input migration rebuilds the mart instead of " +
      "reinterpreting its consumed versions as CDF gens") {
    import spark.implicits._
    val src = tmpDir("cdfrev-src"); val store = tmpDir("cdfrev-store")
    def writeWave(rows: Seq[(Long, java.lang.Double, String)],
        name: String): Unit = {
      val stage = java.nio.file.Files
        .createTempDirectory("cdfrev-stage").resolve("out")
      rows.toDF("r_id", "amount", "grp").coalesce(1)
        .write.parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(Path.of(s"$src/receipts"))
      java.nio.file.Files.move(part.toPath,
        Path.of(s"$src/receipts/$name"))
      ()
    }
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  "silver_mode": "incremental",
        |  "silver_merge": "merge_on_read",
        |  "silver_buckets": 4,
        |  "gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin)
    // wave file names control the keep-latest tie-break: under the SAME
    // injected clock, _source_file DESC wins — "zzz" (wave 1) beats
    // "aaa" (wave 2), so wave 2's conflicting row LOSES the merge
    writeWave(Seq((1L, java.lang.Double.valueOf(10.0), "a"),
      (2L, java.lang.Double.valueOf(4.0), "b")), "zzz.parquet")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "cdfrev")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val clock = "2024-10-01 00:00:00"
    val p1 = run(clock)
    assert(spark.table(p1.goldFqn("receipts")).orderBy($"grp")
        .as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10000000L), ("b", 1L, 4000000L)))
    // finding 3: the losing batch row must not emit CDC — post == pre
    writeWave(Seq((1L, java.lang.Double.valueOf(99.0), "a")),
      "aaa.parquet")
    val p2 = run(clock) // SAME clock -> tie -> source-file DESC -> loses
    val silverTwin = spark.table(p2.silverFqn("receipts"))
      .groupBy($"grp").agg(count(lit(1)).as("n"),
        sum(floor($"amount" * lit(1e6))).as("total_x1e6"))
      .as[(String, Long, Long)].collect().toSet
    assert(silverTwin == Set(("a", 1L, 10000000L), ("b", 1L, 4000000L)),
      s"tie-break fixture broke: $silverTwin")
    assert(spark.table(p2.goldFqn("receipts"))
        .as[(String, Long, Long)].collect().toSet == silverTwin,
      "a keep-latest-losing batch row leaked into the CDF mart")
    // finding 1: reset the silver checkpoint -> replayed batch ids are
    // below the CDF high-water -> loud, never a silent stall
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/_checkpoints/silver_receipts"))
    writeWave(Seq((3L, java.lang.Double.valueOf(1.0), "b")),
      "mmm.parquet")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val e1 = intercept[Exception] { run("2024-10-02 00:00:00") }
    assert(causes(e1).exists(c => Option(c.getMessage)
        .exists(_.contains("below the feed's high-water"))),
      s"expected the CDF restarted-clock guard, got: $e1")
  }

  test("gold.cadence streaming: a full->incremental INPUT MIGRATION " +
      "under an existing mart rebuilds it loud (the consumed markers' " +
      "clock domain changed from published versions to CDF gens), for " +
      "both the recorded-empty-epochs and the legacy-no-epochs forms") {
    import spark.implicits._
    val src = tmpDir("mig-src"); val store = tmpDir("mig-store")
    def cfgJson(incremental: Boolean): String = {
      val mode = if (incremental)
        """"silver_mode": "incremental", "silver_buckets": 4,
          |  """.stripMargin
      else ""
      s"""{"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  $mode"gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin
    }
    Files.writeString(Path.of(src, "dp_config_template.json"),
      cfgJson(incremental = false))
    Seq((1L, 1.5, "a"), (2L, 2.5, "a"), (3L, 4.0, "b"))
      .toDF("r_id", "amount", "grp").write.parquet(s"$src/receipts")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "cdfmig")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val p1 = run("2024-11-01 00:00:00")
    val before = Set(("a", 2L, 4000000L), ("b", 1L, 4000000L))
    assert(spark.table(p1.goldFqn("receipts"))
        .as[(String, Long, Long)].collect().toSet == before)
    val epP = new org.apache.hadoop.fs.Path(
      s"$store/gold_stream/receipts/_input_epochs")
    val fs = epP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(epP),
      "_input_epochs must be recorded even with no bucketed inputs")
    // out-of-band migration: the operator full-refreshes silver to the
    // bucketed layout under a new config, WITHOUT refreshing gold
    Files.writeString(Path.of(src, "dp_config_template.json"),
      cfgJson(incremental = true))
    val (r2, _) = mkRunner(src, store, "2024-11-02 00:00:00",
      catalog = "cdfmig")
    val cfg2 = ConfigLoader.load(spark, src)("receipts")
    r2.runSilver("receipts", cfg2, fullRefresh = true)
    // next regular run: the epoch set changed ("" -> "receipts=...");
    // the mart must rebuild and converge, not stall on a version-space
    // consumed marker
    Seq((4L, 6.0, "b")).toDF("r_id", "amount", "grp")
      .write.mode("append").parquet(s"$src/receipts")
    val p3 = run("2024-11-03 00:00:00")
    val after = Set(("a", 2L, 4000000L), ("b", 2L, 10000000L))
    assert(spark.table(p3.goldFqn("receipts"))
        .as[(String, Long, Long)].collect().toSet == after,
      "the full->incremental migration did not rebuild the mart")
    // legacy form: a pre-r14 mart never recorded _input_epochs at all —
    // delete the marker and migrate again; the hadState guard rebuilds
    fs.delete(epP, false)
    Seq((5L, 3.0, "a")).toDF("r_id", "amount", "grp")
      .write.mode("append").parquet(s"$src/receipts")
    val p4 = run("2024-11-04 00:00:00")
    val after4 = Set(("a", 3L, 7000000L), ("b", 2L, 10000000L))
    assert(spark.table(p4.goldFqn("receipts"))
        .as[(String, Long, Long)].collect().toSet == after4,
      "the legacy no-epochs migration did not rebuild the mart")
  }

  test("gold.cadence streaming: CHAINED streaming marts — a " +
      "streaming-cadence mart reads another entity's PUBLISHED gold as " +
      "a dim (layer 'gold', Kahn-wave ordered); a region rename and a " +
      "gate-retracted shop propagate through BOTH streaming marts to " +
      "the batch-twin star") {
    import spark.implicits._
    val src = tmpDir("gchain-src"); val store = tmpDir("gchain-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "shops", "on": "shop_id = s_id",
        |              "layer": "gold"}],
        |    "select": ["sale_id", "amount", "region"]}
        |},
        |"shops": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"],
        |  "expect_all_or_drop": {"named": "s_name IS NOT NULL"},
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "regions", "on": "s_region = r_id"}],
        |    "select": ["s_id", "s_name", "r_name AS region"]}
        |},
        |"regions": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"]
        |}}""".stripMargin)
    Seq((1L, 5.0, 10L), (2L, 6.0, 20L), (3L, 7.0, 10L))
      .toDF("sale_id", "amount", "shop_id").write.parquet(s"$src/sales")
    Seq((10L, "North shop", 1L), (20L, "South shop", 2L))
      .toDF("s_id", "s_name", "s_region").write.parquet(s"$src/shops")
    Seq((1L, "EMEA"), (2L, "APAC"))
      .toDF("r_id", "r_name").write.parquet(s"$src/regions")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "gstrchain")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val p1 = run("2024-12-01 00:00:00")
    assert(spark.table(p1.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet ==
      Set((1L, 5.0, "EMEA"), (2L, 6.0, "APAC"), (3L, 7.0, "EMEA")),
      "initial chained streaming mart wrong")
    // wave 2: region 1 renames (propagates through the shops GOLD mart
    // into the sales mart), shop 20 retracts via the gate (its gold row
    // REMOVES -> inner-join drops sale 2), new sale 4 in shop 20 (no
    // dim row left -> also absent)
    Seq((1L, "EMEA2")).toDF("r_id", "r_name")
      .write.mode("append").parquet(s"$src/regions")
    Seq((20L, null.asInstanceOf[String], 2L))
      .toDF("s_id", "s_name", "s_region")
      .write.mode("append").parquet(s"$src/shops")
    Seq((4L, 8.0, 20L)).toDF("sale_id", "amount", "shop_id")
      .write.mode("append").parquet(s"$src/sales")
    val p2 = run("2024-12-02 00:00:00")
    val twin = spark.table(p2.silverFqn("sales"))
      .join(spark.table(p2.silverFqn("shops")), $"shop_id" === $"s_id")
      .join(spark.table(p2.silverFqn("regions")), $"s_region" === $"r_id")
      .select($"sale_id", $"amount", $"r_name".as("region"))
      .as[(Long, Double, String)].collect().toSet
    assert(spark.table(p2.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == twin &&
      twin == Set((1L, 5.0, "EMEA2"), (3L, 7.0, "EMEA2")),
      "chained streaming mart diverged from the batch star after wave 2")
    // idle run: both marts' provenance skips fire, nothing moves
    val p3 = run("2024-12-03 00:00:00")
    assert(spark.table(p3.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == twin,
      "an idle run changed the chained streaming mart")
  }

  test("gold.cadence streaming: maxFilesPerTrigger THROTTLES the feed " +
      "drain — a multi-file first-consumption pair splits into several " +
      "micro-batches (pairs are key-unique, so the per-key sink " +
      "contract holds under any split) and the mart still equals the " +
      "batch twin") {
    import spark.implicits._
    val src = tmpDir("gct-src"); val store = tmpDir("gct-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "shops", "on": "shop_id = s_id"}],
        |    "select": ["sale_id", "amount", "s_name AS shop"]}
        |},
        |"shops": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"]
        |}}""".stripMargin)
    (1L to 400L).map(i => (i, i * 1.5, (i % 3) * 10L))
      .toDF("sale_id", "amount", "shop_id").write.parquet(s"$src/sales")
    Seq((0L, "Zero"), (10L, "North"), (20L, "South"))
      .toDF("s_id", "s_name").write.parquet(s"$src/shops")
    def run(clock: String): PipelineParams = {
      val params = PipelineParams(sourceLocation = src,
        catalogName = "gcthrottle",
        fixedIngestedAt = Some(Timestamp.valueOf(clock)),
        maxFilesPerTrigger = Some(1))
      new PipelineRunner(spark, params, store)
        .run(ConfigLoader.load(spark, src))
      params
    }
    // shrink the AQE coalesce floor so the silver write fans out into
    // several files at test scale the way a table-sized one would
    val conf = spark.conf
    val advK = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minK = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val adv0 = conf.get(advK); val min0 = conf.get(minK)
    conf.set(advK, "2KB"); conf.set(minK, "1KB")
    val p1 = try run("2024-11-01 00:00:00")
    finally { conf.set(advK, adv0); conf.set(minK, min0) }
    val twin = spark.table(p1.silverFqn("sales"))
      .join(spark.table(p1.silverFqn("shops")), $"shop_id" === $"s_id")
      .select($"sale_id", $"amount", $"s_name".as("shop"))
      .as[(Long, Double, String)].collect().toSet
    assert(spark.table(p1.goldFqn("sales"))
        .as[(Long, Double, String)].collect().toSet == twin &&
      twin.size == 400,
      "throttled streaming mart diverged from the batch star")
    // the initial load really split: every fact sink batch mints its
    // own seq, so >1 distinct _sj_seq in the fact store = >1 sink batch
    // for one delta
    val facts = s"$store/gold_stream/sales/store/facts"
    val gen = Some(Path.of(s"$facts/_gen")).filter(Files.isRegularFile(_))
      .map(Files.readString(_).trim).getOrElse("0")
    val batches = spark.read.parquet(s"$facts/g$gen")
      .select("_sj_seq").distinct().count()
    assert(batches > 1,
      s"expected a split drain (several sink batches), got " +
        s"$batches batch(es) - the silver input did not fan out or " +
        "the throttle was ignored")
  }

  test("gold.cadence streaming: a corrupt feed _consumed marker fails " +
      "loud (r13 ADVICE - a silent None would re-mint a v-1 initial " +
      "pair and DOUBLE an aggregate mart), and a DELETED marker over a " +
      "sink that already consumed pairs refuses the re-mint") {
    import spark.implicits._
    val src = tmpDir("gcm-src"); val store = tmpDir("gcm-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  "gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin)
    Seq((1L, 1.5, "a"), (2L, 2.5, "a"), (3L, 4.0, "b"))
      .toDF("r_id", "amount", "grp").write.parquet(s"$src/receipts")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "gcmark")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val p1 = run("2024-09-01 00:00:00")
    val before = spark.table(p1.goldFqn("receipts")).orderBy($"grp")
      .as[(String, Long, Long)].collect().toSeq
    assert(before == Seq(("a", 2L, 4000000L), ("b", 1L, 4000000L)))
    val consumedP = new org.apache.hadoop.fs.Path(
      s"$store/gold_stream/receipts/feed_receipts/_consumed")
    val fs = consumedP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(consumedP), "feed marker missing after run 1")
    // corrupt the marker (through the Hadoop fs - checksum-consistent);
    // a fresh wave per run so the gold no-change provenance skip does
    // not short-circuit before the feed is read
    val out = fs.create(consumedP, true)
    out.write("not-a-version".getBytes("UTF-8")); out.close()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    Seq((4L, 3.0, "b")).toDF("r_id", "amount", "grp")
      .write.mode("append").parquet(s"$src/receipts")
    val e1 = intercept[Exception] { run("2024-09-02 00:00:00") }
    assert(causes(e1).exists(c => Option(c.getMessage)
        .exists(_.contains("refusing to guess the consumed version"))),
      s"expected the unreadable-marker guard, got: $e1")
    // delete the marker outright: the feed looks virgin - but the
    // sink's store marker shows committed batches, and a fresh initial
    // load would re-append the whole live version as +1 partials over
    // the live totals
    fs.delete(consumedP, false)
    Seq((5L, 6.0, "a")).toDF("r_id", "amount", "grp")
      .write.mode("append").parquet(s"$src/receipts")
    val e2 = intercept[Exception] { run("2024-09-03 00:00:00") }
    assert(causes(e2).exists(c => Option(c.getMessage)
        .exists(_.contains("consumed state was lost"))),
      s"expected the lost-consumed-state guard, got: $e2")
    // the mart state is untouched by either refused run
    assert(spark.table(p1.goldFqn("receipts")).orderBy($"grp")
        .as[(String, Long, Long)].collect().toSeq == before,
      "a refused run mutated the mart")
  }

  test("gold.cadence streaming: a crash inside a feed's sink call " +
      "replays exactly the pinned range at the same batch ids - orphan " +
      "aggregate partials are not counted twice, a committed batch " +
      "skips at the gate, and an interrupted initial load rebuilds") {
    import spark.implicits._
    val src = tmpDir("gcp-src"); val store = tmpDir("gcp-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  "gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin)
    Seq((1L, 1.5, "a"), (2L, 2.5, "a"), (3L, 4.0, "b"))
      .toDF("r_id", "amount", "grp").write.parquet(s"$src/receipts")
    var day = 0
    def run(): PipelineParams = {
      day += 1
      val (r, p) = mkRunner(src, store, f"2024-09-$day%02d 00:00:00",
        catalog = "gcpin")
      r.run(ConfigLoader.load(spark, src)); p
    }
    def land(rows: (Long, Double, String)*): Unit =
      rows.toDF("r_id", "amount", "grp")
        .write.mode("append").parquet(s"$src/receipts")
    def assertTwin(p: PipelineParams, what: String): Unit = {
      val twin = spark.table(p.silverFqn("receipts"))
        .groupBy($"grp").agg(count(lit(1)).as("n"),
          sum(floor($"amount" * lit(1e6))).as("total_x1e6"))
        .as[(String, Long, Long)].collect().toSet
      assert(spark.table(p.goldFqn("receipts"))
          .as[(String, Long, Long)].collect().toSet == twin, what)
    }
    // markers go through the Hadoop fs (checksum-consistent)
    import org.apache.hadoop.fs.{Path => HPath}
    val feed = s"$store/gold_stream/receipts/feed_receipts"
    val consumedP = new HPath(feed, "_consumed")
    val pinP = new HPath(feed, "_pin")
    val lastP = new HPath(s"$store/gold_stream/receipts/store/_last_batch")
    val fs = consumedP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(p: HPath): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }
    def write(p: HPath, txt: String): Unit = {
      val out = fs.create(p, true)
      try out.write(txt.getBytes("UTF-8")) finally out.close()
    }
    run()
    // crash after run 2's partial append, before its `_last_batch`: both
    // markers as before run 2, run 2's pin, and its partials in the store
    land((1L, 2.0, "a"), (4L, 3.0, "b"))
    val (c1, last1) = (read(consumedP), read(lastP))
    run()
    val c2 = read(consumedP)
    write(consumedP, c1); write(lastP, last1); write(pinP, s"$c1 $c2")
    land((5L, 6.0, "a"))
    val p3 = run()
    assertTwin(p3, "a replayed pinned range counted the orphan partials " +
      "twice (or a wider delta overlapped them)")
    assert(!fs.exists(pinP), "the replayed pin was not cleared")
    // crash after run 3's last sink marker, before `_consumed`: the
    // replay of the pinned range skips at the gate
    val c3 = read(consumedP)
    write(consumedP, c2); write(pinP, s"$c2 $c3")
    land((2L, 0.5, "c"), (6L, 1.0, "c"))
    val p4 = run()
    assertTwin(p4, "a committed pinned batch was applied again")
    assert(read(consumedP).toLong > c3.toLong,
      "the feed did not extend past the replayed range")
    val parts = s"$store/gold_stream/receipts/store/agg_partials"
    val gen = Some(Path.of(s"$parts/_gen")).filter(Files.isRegularFile(_))
      .map(Files.readString(_).trim).getOrElse("0")
    assert(spark.read.parquet(s"$parts/g$gen")
        .filter($"_batch_id" === (c3.toLong << 16))
        .groupBy($"grp").count().filter($"count" > 1L).isEmpty,
      "the replayed batch passed the gate instead of skipping")
    // an interrupted initial load: a pin with no `from` and no
    // `_consumed` rebuilds the mart loud instead of replaying
    val c4 = read(consumedP)
    fs.delete(consumedP, false)
    write(pinP, s"- $c4")
    land((8L, 4.5, "b"))
    val err = new java.io.ByteArrayOutputStream()
    val p5 = Console.withErr(err) { run() }
    assert(err.toString("UTF-8").contains("initial load was interrupted"),
      "the interrupted initial load did not rebuild loud")
    assertTwin(p5, "the rebuilt mart diverged from the batch twin")
    assert(!fs.exists(pinP), "the rebuild left the stale pin behind")
  }

  test("gold.cadence streaming: silver schema evolution flows into the " +
      "mart (the feed schema tracks the NEWEST pair, not the initial " +
      "load's), and a derivation-config edit rebuilds the stream state " +
      "instead of publishing a stale projection") {
    import spark.implicits._
    val src = tmpDir("gcse-src"); val store = tmpDir("gcse-store")
    def writeCfg(select: String): Unit =
      Files.writeString(Path.of(src, "dp_config_template.json"),
        s"""{"sales": {
           |  "raw_file_format": "parquet",
           |  "unique_primary_key": ["sale_id"],
           |  "gold": {"cadence": "streaming",
           |    "join": [{"entity": "shops", "on": "shop_id = s_id"}]$select}
           |},
           |"shops": {
           |  "raw_file_format": "parquet",
           |  "unique_primary_key": ["s_id"]
           |}}""".stripMargin)
    writeCfg("") // empty select = every column the join produces
    Seq((1L, 5.0, 10L)).toDF("sale_id", "amount", "shop_id")
      .write.parquet(s"$src/sales")
    Seq((10L, "North")).toDF("s_id", "s_name")
      .write.parquet(s"$src/shops")
    def run(clock: String): PipelineParams = {
      val (r, p) = mkRunner(src, store, clock, catalog = "gcsevo")
      r.run(ConfigLoader.load(spark, src)); p
    }
    val p1 = run("2024-10-01 00:00:00")
    val cols1 = spark.table(p1.goldFqn("sales")).columns.toSet
    assert(cols1.contains("amount") && cols1.contains("s_name") &&
      !cols1.contains("note"), s"initial mart columns wrong: $cols1")
    // wave 2 ADDS a column (S7 schema evolution): the new delta
    // carries it and the mart must too — a feed schema fixed at the
    // initial load would silently drop it
    Seq((2L, 7.0, 10L, "rush")).toDF("sale_id", "amount", "shop_id", "note")
      .write.mode("append").parquet(s"$src/sales")
    val p2 = run("2024-10-02 00:00:00")
    val m2 = spark.table(p2.goldFqn("sales"))
      .select($"sale_id", $"note").as[(Long, Option[String])]
      .collect().toMap
    assert(m2 == Map(1L -> None, 2L -> Some("rush")),
      s"evolved column did not flow into the streaming mart: $m2")
    // config edit (projection change): consumed versions equal the live
    // ones, so nothing would re-derive — the derivation fingerprint
    // must clear and REBUILD the stream state under the new shape
    writeCfg(""",
      |    "select": ["sale_id", "s_name AS shop"]""".stripMargin)
    val p3 = run("2024-10-03 00:00:00")
    val g3 = spark.table(p3.goldFqn("sales"))
    // every row re-derived under the NEW projection (the rebuild —
    // without it the consumed versions equal the live ones and nothing
    // re-derives, so 'shop' would be null for the old rows)
    assert(g3.select($"sale_id", $"shop").as[(Long, String)]
        .collect().toSet == Set((1L, "North"), (2L, "North")),
      "rebuilt mart content wrong")
    // the catalog keeps superseded columns ADDITIVELY (the shared S7
    // publish posture, all gold modes alike) but their stale VALUES
    // are gone — the new version's data carries only the new shape
    assert(g3.filter($"amount".isNotNull).isEmpty,
      "stale projection values survived the config-edit rebuild")
  }

  test("no-change run skip across storage roots: a runner on a fresh " +
      "root that reuses a catalog name publishes silver and gold under " +
      "its own root instead of skipping") {
    val src = tmpDir("ncr-src")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {"raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"cadence": "streaming",
        |    "join": [{"entity": "shops", "on": "shop_id = s_id"}],
        |    "select": ["sale_id", "s_name AS shop"]}},
        |"shops": {"raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"]}}""".stripMargin)
    Seq((1L, 10L), (2L, 20L)).toDF("sale_id", "shop_id")
      .write.parquet(s"$src/sales")
    Seq((10L, "North"), (20L, "South")).toDF("s_id", "s_name")
      .write.parquet(s"$src/shops")
    Seq(tmpDir("ncr-a"), tmpDir("ncr-b")).foreach { store =>
      val (r, p) = mkRunner(src, store, "2024-06-01 00:00:00",
        catalog = "ncroot")
      r.run(ConfigLoader.load(spark, src))
      Seq("sales" -> "silver", "shops" -> "silver", "sales" -> "gold")
        .foreach { case (e, layer) =>
          assert(r.tableVersions(e, layer).exists(_.live),
            s"$layer $e has no live version under $store")
        }
      assert(spark.table(p.goldFqn("sales")).as[(Long, String)]
        .collect().toSet == Set((1L, "North"), (2L, "South")))
    }
  }

  test("no-change run skip: a second run over an unchanged feed " +
      "publishes no new silver/gold version (metadata-only); new files " +
      "or a changed config force a republish; content always identical") {
    import spark.implicits._
    val src = tmpDir("ncs-src"); val store = tmpDir("ncs-store")
    def writeCfg(minQ: String): Unit =
      Files.writeString(Path.of(src, "dp_config_template.json"),
        s"""{"docs": {
           |  "raw_file_format": "parquet",
           |  "unique_primary_key": ["doc_id"],
           |  "gold": {
           |    "curation": {"id_col": "doc_id", "text_col": "text",
           |                 "min_quality": $minQ, "max_repetition": 1.0,
           |                 "near_dup_jaccard": 1.01}
           |  }
           |}}""".stripMargin)
    writeCfg("0.0")
    val text = "rivers wind through quiet green valleys carrying cold " +
      "mountain water past small stone villages toward the open sea"
    Seq((1L, text), (2L, text + " again")).toDF("doc_id", "text")
      .write.parquet(s"$src/docs")
    def versions(layer: String): Seq[String] =
      new java.io.File(s"$store/$layer/docs").listFiles()
        .filter(_.getName.startsWith("v")).map(_.getName).toSeq.sorted
    val (r1, params) = mkRunner(src, store, "2024-06-01 00:00:00",
      catalog = "ncs")
    r1.run(ConfigLoader.load(spark, src))
    assert(versions("silver") == Seq("v1") && versions("gold") == Seq("v1"))
    val before = spark.table(params.goldFqn("docs"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // run 2: nothing new — BOTH republishes skip, versions frozen
    val (r2, _) = mkRunner(src, store, "2024-06-02 00:00:00",
      catalog = "ncs")
    r2.run(ConfigLoader.load(spark, src))
    assert(versions("silver") == Seq("v1"),
      "an unchanged run republished silver")
    assert(versions("gold") == Seq("v1"),
      "an unchanged run republished gold")
    assert(spark.table(params.goldFqn("docs"))
      .select("doc_id").as[Long].collect().sorted.toSeq == before)
    // run 3: a CONFIG change with zero new rows must republish (the
    // fingerprint guard — content derivation changed)
    writeCfg("0.99")
    val (r3, _) = mkRunner(src, store, "2024-06-03 00:00:00",
      catalog = "ncs")
    r3.run(ConfigLoader.load(spark, src))
    assert(versions("silver") == Seq("v1", "v2") &&
      versions("gold") == Seq("v1", "v2"),
      "a config change over an unchanged feed did not republish")
    // run 4: new files resume publishing
    writeCfg("0.0")
    Seq((3L, text + " anew")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$src/docs")
    val (r4, _) = mkRunner(src, store, "2024-06-04 00:00:00",
      catalog = "ncs")
    r4.run(ConfigLoader.load(spark, src))
    assert(versions("silver") == Seq("v1", "v2", "v3"))
    assert(spark.table(params.goldFqn("docs"))
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // CRASH-STALENESS self-heal: simulate a run that died after the
    // bronze checkpoint commit but before the silver publish — bronze
    // advances alone, then the NEXT trigger over the (now idle) feed
    // ingests zero rows. The provenance marker (consumed bronze batch
    // != latest completed batch) must force the republish; a run-local
    // zero-rows signal would skip and stay stale forever.
    Seq((4L, text + " late")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$src/docs")
    val (r5, _) = mkRunner(src, store, "2024-06-05 00:00:00",
      catalog = "ncs")
    assert(r5.runBronze("docs",
      ConfigLoader.load(spark, src)("docs")) > 0L) // "crash" here
    val (r6, _) = mkRunner(src, store, "2024-06-06 00:00:00",
      catalog = "ncs")
    r6.run(ConfigLoader.load(spark, src)) // idle trigger, zero new rows
    assert(versions("silver") == Seq("v1", "v2", "v3", "v4"),
      "unconsumed bronze data did not force the silver republish")
    assert(spark.table(params.goldFqn("docs"))
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L),
      "gold did not pick up the re-published silver")
    // a SOFT-DELETES flip is a content change even with zero new rows —
    // the fingerprint covers content-deriving params, not just the
    // entity config
    val paramsSd = PipelineParams(sourceLocation = src,
      catalogName = "ncs", softDeletes = "Y",
      fixedIngestedAt = Some(Timestamp.valueOf("2024-06-07 00:00:00")))
    new PipelineRunner(spark, paramsSd, store)
      .run(ConfigLoader.load(spark, src))
    assert(versions("silver").size == 5,
      "a soft-deletes flip over an idle feed did not republish")
  }

  test("gold layer: keep_best_quality picks the component's best doc " +
      "instead of the min id") {
    import spark.implicits._
    val src = tmpDir("bestq-src"); val store = tmpDir("bestq-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "profile_on_publish": true,
        |  "gold": {
        |    "curation": {"id_col": "doc_id", "text_col": "text",
        |                 "min_quality": 0.0, "max_repetition": 1.0,
        |                 "keep_best_quality": true}
        |  }
        |}}""".stripMargin)
    // doc 1 is the min id but SHORT (< 50 chars -> quality 0.4); doc 2
    // extends it past 50 chars (quality 0.7); they near-dup at 0.8
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    Seq((1L, base), (2L, base + " twelve"))
      .toDF("doc_id", "text").write.parquet(s"$src/docs")
    val entities = ConfigLoader.load(spark, src)
    assert(entities("docs").gold.exists(_.curation.keepBestQuality))
    val (runner, params) = mkRunner(src, store, "2024-03-03 00:00:00",
      catalog = "bestq")
    runner.run(entities)
    assert(spark.table(params.goldFqn("docs"))
      .select("doc_id").as[Long].collect().toSet == Set(2L),
      "best-quality representative must win through the config path")
  }

  test("gold layer: config-declared boilerplate + line-dedup segment " +
      "cleanup rewrites text before the quality gate") {
    import spark.implicits._
    val src = tmpDir("segc-src"); val store = tmpDir("segc-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "profile_on_publish": true,
        |  "gold": {
        |    "curation": {"id_col": "doc_id", "text_col": "text",
        |                 "min_quality": 0.0, "max_repetition": 1.0,
        |                 "boilerplate_min_doc_freq": 3,
        |                 "boilerplate_span": 5,
        |                 "line_dedup_span": 5}
        |  }
        |}}""".stripMargin)
    val nav = "subscribe to our newsletter now"
    val b1 = "the quick brown fox jumps over the lazy dog and rests for " +
      "a while near the river bank in the morning light"
    val b2 = "a completely different second document about shipping " +
      "routes and the seasonal market for fresh produce in the region"
    Seq(
      (1L, s"$nav $b1"), (2L, s"$nav $b2"), (3L, s"$nav $b2 tail words"))
      .toDF("doc_id", "text").write.parquet(s"$src/docs")
    val entities = ConfigLoader.load(spark, src)
    assert(entities("docs").gold.exists(g =>
      g.curation.boilerplateMinDocFreq.contains(3) &&
        g.curation.boilerplateSpan == 5 &&
        g.curation.lineDedupSpan.contains(5)))
    val (runner, params) = mkRunner(src, store, "2024-03-04 00:00:00",
      catalog = "segc")
    runner.run(entities)
    val gold = spark.table(params.goldFqn("docs"))
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(gold.keySet == Set(1L, 2L, 3L))
    assert(!gold.values.exists(_.contains(nav)),
      "boilerplate must be removed from every gold row")
  }

  test("gold layer: config-declared curation runs bronze->silver->gold " +
      "with versioned publish, expectations, and component dedup") {
    val src = tmpDir("gold-src"); val store = tmpDir("gold-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "profile_on_publish": true,
        |  "gold": {
        |    "curation": {"id_col": "doc_id", "text_col": "text",
        |                 "lang_col": "lang", "min_quality": 0.0,
        |                 "max_repetition": 1.0, "near_dup_jaccard": 0.8},
        |    "expect_all_or_drop": {"has_lang": "lang IS NOT NULL"},
        |    "clustering_cols": ["doc_id"]
        |  }
        |}}""".stripMargin)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val fish = "fish swim slowly down the long calm river past green reeds " +
      "and quiet stones while herons wait patiently in the golden evening"
    Seq(
      (1L, base, "en"), (2L, base + " extra", "en"), // near-dup chain:
      (3L, base + " extra more", "en"), // components keep only doc 1
      (10L, fish, "en"), (11L, fish, "en") // exact dup: keep doc 10
    ).toDF("doc_id", "text", "lang").write.parquet(s"$src/docs")

    val entities = ConfigLoader.load(spark, src)
    assert(entities("docs").gold.nonEmpty)
    val (runner, params) = mkRunner(src, store, "2024-03-01 00:00:00",
      catalog = "goldt", republish = true)
    runner.run(entities)

    val gold = spark.table(params.goldFqn("docs"))
    assert(gold.columns.contains("quality"))
    assert(gold.select("doc_id").as[Long].collect().toSet == Set(1L, 10L))
    // audit columns ride through from silver (gold is a real pipeline table)
    assert(gold.columns.contains("_ingested_at"))
    // versioned publish landed under the storage root
    assert(new java.io.File(s"$store/gold/docs/v1").isDirectory)
    // expectation metrics persisted as table properties
    val props = spark.sql(
      s"SHOW TBLPROPERTIES ${params.goldFqn("docs")}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("expectations.violations_has_lang") == "0")
    assert(props("clustering_cols") == "doc_id")

    // second run: bronze is incremental (no new files), gold republishes
    // atomically to v2 and stays identical
    runner.run(entities)
    assert(new java.io.File(s"$store/gold/docs/v2").isDirectory)
    val gold2 = spark.table(params.goldFqn("docs"))
    assert(gold2.select("doc_id").as[Long].collect().toSet == Set(1L, 10L))

    // profile_on_publish covers BOTH layers: 2 runs x (silver + gold)
    val layers = spark.table(params.profileLogFqn)
      .filter($"col_name" === "doc_id")
      .groupBy($"layer").count().as[(String, Long)].collect().toMap
    assert(layers == Map("silver" -> 2L, "gold" -> 2L), layers.toString)
  }

  test("gold layer plan shape: ONE layout range exchange; CollectMetrics " +
      "sits ABOVE it so expectation metrics never ride the boundary-" +
      "sampling pass (no double execution)") {
    val src = tmpDir("goldplan-src"); val store = tmpDir("goldplan-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"docs": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["doc_id"],
        |  "profile_on_publish": true,
        |  "gold": {
        |    "curation": {"id_col": "doc_id", "text_col": "text",
        |                 "lang_col": "lang", "min_quality": 0.0,
        |                 "max_repetition": 1.0, "near_dup_jaccard": 0.8},
        |    "expect_all_or_drop": {"has_lang": "lang IS NOT NULL"},
        |    "clustering_cols": ["doc_id"]
        |  }
        |}}""".stripMargin)
    val prose = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    Seq((1L, prose, "en"), (2L, prose + " tail", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$src/docs")
    val entities = ConfigLoader.load(spark, src)
    val (runner, _) = mkRunner(src, store, "2024-03-02 00:00:00",
      catalog = "goldplan")
    runner.run(entities)
    val frame = runner.buildGoldFrame("docs", entities("docs"),
      entities("docs").gold.get)
    val plan = frame.queryExecution.executedPlan.toString
    val layoutExchanges =
      "Exchange rangepartitioning\\(doc_id".r.findAllIn(plan).length
    assert(layoutExchanges == 1,
      s"expected exactly 1 layout range exchange, plan:\n$plan")
    val metricsIdx = plan.indexOf("CollectMetrics")
    val exchangeIdx = plan.indexOf("Exchange rangepartitioning(doc_id")
    assert(metricsIdx >= 0, s"no CollectMetrics in plan:\n$plan")
    assert(plan.indexOf("CollectMetrics", metricsIdx + 1) < 0,
      s"CollectMetrics appears twice (double-counted metrics):\n$plan")
    // closer to the root = smaller index in the tree printout
    assert(metricsIdx < exchangeIdx,
      s"CollectMetrics must sit above the layout exchange:\n$plan")
  }

  test("version inspection + time travel: published versions listed with " +
      "live/superseded state; VERSION AS OF read; vacuumed version fails " +
      "loud with the available list") {
    val src = tmpDir("tt-src"); val store = tmpDir("tt-store")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
    val (runner, _) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "tt1", republish = true)
    runner.run(entities)
    runner.run(entities) // republish -> v2
    val vs = runner.tableVersions("app_downloads")
    assert(vs.map(_.version) == Seq(1L, 2L))
    assert(vs.find(_.version == 2L).exists(v => v.live &&
      v.supersededAtMs.isEmpty), s"v2 must be live: $vs")
    assert(vs.find(_.version == 1L).exists(v => !v.live &&
      v.supersededAtMs.nonEmpty), s"v1 must be superseded: $vs")
    // both versions readable inside the retention window; same content
    // (no new files arrived between the runs)
    val v1 = runner.readVersion("app_downloads", 1L)
    val v2 = runner.readVersion("app_downloads", 2L)
    assert(v1.count() == v2.count() && v1.count() > 0)
    val missing = intercept[NoSuchElementException](
      runner.readVersion("app_downloads", 99L))
    assert(missing.getMessage.contains("[1, 2]"))
    // zero retention: publishing v2 vacuums v1 immediately -> time travel
    // to it fails loud
    val params0 = PipelineParams(sourceLocation = src, catalogName = "tt2",
      deletedFileRetention = "interval 0 seconds",
      fixedIngestedAt = Some(Timestamp.valueOf("2024-02-01 00:00:00")),
      republishUnchanged = true)
    val store0 = tmpDir("tt-store0")
    val runner0 = new PipelineRunner(spark, params0, store0)
    runner0.run(entities)
    runner0.run(entities)
    val vs0 = runner0.tableVersions("app_downloads")
    assert(vs0.map(_.version) == Seq(2L), s"v1 must be vacuumed: $vs0")
    assert(intercept[NoSuchElementException](
      runner0.readVersion("app_downloads", 1L))
      .getMessage.contains("vacuumed"))
  }

  test("incremental silver (silver_mode): contents equal the full " +
      "recompute across two batches incl. rename/expectations/CDC " +
      "retraction; a no-new-files run publishes no version; full refresh " +
      "rebuilds") {
    def cfgJson = """{"app_downloads": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["id"],
      |  "silver_mode": "MODE",
      |  "expect_all_or_drop": {"created_ok": "created_at IS NOT NULL"},
      |  "renamed_columns": {"downloads": "n_downloads"}
      |}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"inc$tag-src"); val store = tmpDir(s"inc$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson.replace("MODE", mode))
      writeBatch1(src)
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    def batch2(src: String): Unit = {
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("downloads", IntegerType),
        StructField("created_at", StringType), StructField("op", StringType),
        StructField("v", StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, 11, "2024-03-01", "U", "one-v2"),   // newer version wins
        Row(2L, 22, "2024-03-01", "D", "two-del"),  // CDC retracts id=2
        Row(5L, 55, null, "I", "five-bad"),         // expectations drop
        Row(9L, 99, "2024-03-01", "I", "nine-new")), 1), schema)
        .write.mode("append").parquet(s"$src/app_downloads")
    }
    def silverRows(cat: String): Seq[(Long, Long, String)] =
      spark.table(s"${cat}_silver.silver_app_downloads")
        .select($"id", $"n_downloads", $"v") // exclude per-dir audit paths
        .as[(Long, Long, String)].collect().sorted.toSeq

    val entI = ConfigLoader.load(spark, srcI)
    val entF = ConfigLoader.load(spark, srcF)
    assert(entI("app_downloads").silverMode == "incremental")
    val (ri1, _) = mkRunner(srcI, storeI, "2024-02-01 00:00:00",
      catalog = "inci")
    val (rf1, _) = mkRunner(srcF, storeF, "2024-02-01 00:00:00",
      catalog = "incf")
    ri1.run(entI); rf1.run(entF)
    assert(silverRows("inci") == silverRows("incf"))
    assert(silverRows("inci").nonEmpty)

    // no new bronze files: the incremental checkpoint knows there is
    // nothing to merge — no new silver version (full mode republishes)
    ri1.run(entI)
    assert(ri1.tableVersions("app_downloads").map(_.version) == Seq(1L))

    batch2(srcI); batch2(srcF)
    val (ri2, _) = mkRunner(srcI, storeI, "2024-03-05 00:00:00",
      catalog = "inci")
    val (rf2, _) = mkRunner(srcF, storeF, "2024-03-05 00:00:00",
      catalog = "incf")
    ri2.run(entI); rf2.run(entF)
    val after = silverRows("inci")
    assert(after == silverRows("incf"),
      "incremental merge diverged from the full recompute")
    val ids = after.map(_._1)
    assert(ids.contains(9L) && !ids.contains(2L) && !ids.contains(5L),
      s"retraction/gate mismatch: $ids")
    assert(after.find(_._1 == 1L).exists(_._3 == "one-v2"))

    // full refresh: checkpoint + table dropped, the stream replays the
    // whole bronze directory in one rebuild and versions restart at v1.
    // (All replayed rows share the refresh run's injected clock, so
    // version ties resolve by file path — contested ids are not asserted;
    // with a wall clock every run carries its own ingestion time.)
    val (ri3, _) = mkRunner(srcI, storeI, "2024-03-05 00:00:00",
      catalog = "inci")
    ri3.run(entI, fullRefresh = true)
    val refreshed = silverRows("inci")
    assert(refreshed.map(_._1).contains(9L) && refreshed.nonEmpty)
    assert(ri3.tableVersions("app_downloads").map(_.version).max == 1L)
  }

  test("expectation event log: each publish appends queryable rows " +
      "(entity, run_id, expectation, violations)") {
    val src = tmpDir("elog-src"); val store = tmpDir("elog-store")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "elog", republish = true)
    r1.run(entities)
    r1.run(entities) // second publish appends, never overwrites
    val log = spark.table(params.expectationLogFqn)
    val rows = log.select($"entity", $"layer", $"run_id", $"expectation",
        $"violations")
      .as[(String, String, String, String, Long)].collect().toSeq
    // only app_downloads declares expectations: 2 expectations × 2 runs
    assert(rows.size == 4, rows.mkString("\n"))
    assert(rows.forall(r => r._1 == "app_downloads" && r._2 == "silver"))
    assert(rows.map(_._3).distinct.size == 2, "one run_id per run")
    // id=3 has a null created_at (dropped); every row has an id
    assert(rows.filter(_._4 == "has_created").map(_._5) == Seq(1L, 1L))
    assert(rows.filter(_._4 == "has_id").map(_._5) == Seq(0L, 0L))
    // history stays queryable by plain SQL over the catalog table
    assert(spark.sql(s"SELECT sum(violations) FROM ${params.expectationLogFqn}")
      .head().getLong(0) == 2L)
  }

  test("profile_on_publish: each silver publish appends the per-column " +
      "census to _profile_log, stamped and queryable") {
    val src = tmpDir("plog-src"); val store = tmpDir("plog-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{
        "app_downloads": {
          "raw_file_format": "parquet",
          "unique_primary_key": ["id"],
          "expect_all_or_drop": {"has_created": "created_at IS NOT NULL"},
          "profile_on_publish": true
        }
      }""")
    writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "plog", republish = true)
    r1.run(entities)
    r1.run(entities)
    val log = spark.table(params.profileLogFqn)
    val idRows = log.filter($"col_name" === "id")
      .select($"entity", $"layer", $"run_id", $"n_rows", $"n_nulls")
      .as[(String, String, String, Long, Long)].collect().toSeq
    // one id-row per publish; silver keeps ids 1,2 (3 dropped by the
    // gate, 4 is a D row filtered under soft_deletes=N)
    assert(idRows.size == 2, idRows.mkString("\n"))
    assert(idRows.forall(r => r._1 == "app_downloads" && r._2 == "silver"
      && r._4 == 2L && r._5 == 0L))
    assert(idRows.map(_._3).distinct.size == 2, "one run_id per publish")
    // every silver column is profiled (audit columns included)
    val cols = log.filter($"run_id" === idRows.head._3)
      .select($"col_name").as[String].collect().toSet
    assert(cols.contains("_ingested_at") && cols.contains("downloads"))
    // history queryable via SQL; the typed min/max landed for numerics
    // (id 2's survivor under the fixed-clock tie is one of its two
    // versions — either way the D-row's 40 must be filtered out)
    val maxDl = spark.sql(
      s"SELECT max(max_num) FROM ${params.profileLogFqn} " +
        "WHERE col_name = 'downloads'").head().getDecimal(0).doubleValue()
    assert(maxDl == 20.0 || maxDl == 21.0, s"got $maxDl")
  }

  test("bucketed incremental silver: a batch touching 1 of k buckets " +
      "rewrites only that bucket; full CDC retraction drops its partition; " +
      "a bucket-count change fails loud") {
    val src = tmpDir("bkt-src"); val store = tmpDir("bkt-store")
    def writeCfg(buckets: Int): Unit = Files.writeString(
      Path.of(src, "dp_config_template.json"),
      s"""{"app_downloads": {
         |  "raw_file_format": "parquet",
         |  "unique_primary_key": ["id"],
         |  "silver_mode": "incremental",
         |  "silver_buckets": $buckets
         |}}""".stripMargin)
    writeCfg(4)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("downloads", IntegerType),
      StructField("op", StringType)))
    def write(rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").parquet(s"$src/app_downloads")
    val ids = (0L until 16L).toSeq
    write(ids.map(i => Row(i, i.toInt * 10, "I")))

    // bucket membership as the engine computes it (Murmur3 pmod)
    val bucketOf: Map[Long, Int] = ids.toDF("id")
      .select($"id", pmod(hash($"id"), lit(4)).as("b"))
      .as[(Long, Int)].collect().toMap
    val byBucket = ids.groupBy(bucketOf)
    assert(byBucket.size == 4, s"ids 0..15 must span all 4 buckets: $byBucket")

    val ent = ConfigLoader.load(spark, src)
    assert(ent("app_downloads").silverBuckets == 4)
    val fqn = "`bkt_silver`.`silver_app_downloads`"
    val (r1, _) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "bkt")
    r1.run(ent)
    assert(spark.sql(s"SHOW PARTITIONS $fqn").count() == 4)
    assert(spark.table(fqn).count() == 16)
    def partLoc(b: Int): String =
      spark.sql(s"DESCRIBE EXTENDED $fqn PARTITION (`_bucket`=$b)")
        .where($"col_name" === "Location").select("data_type")
        .as[String].head()
    (0 to 3).foreach(b => assert(partLoc(b).contains("/v1/"), partLoc(b)))

    // batch 2: update ONE id (bucket U) and CDC-delete EVERY id of a
    // different bucket (bucket D); the other two buckets are untouched
    val bU = bucketOf(0L); val bD = (0 to 3).find(_ != bU).get
    write(Row(0L, 999, "U") +: byBucket(bD).map(i => Row(i, 0, "D")))
    val (r2, _) = mkRunner(src, store, "2024-03-01 00:00:00", catalog = "bkt")
    val mergeJobs = jobsOf(r2.run(ent))
    info(s"copy-on-write single-batch merge: $mergeJobs Spark jobs")
    assert(mergeJobs <= CowMergeJobBudget,
      s"the merge ran $mergeJobs jobs, budget $CowMergeJobBudget")

    // contents: id 0 updated, bucket D gone, everything else intact
    val got = spark.table(fqn).select($"id", $"downloads")
      .as[(Long, Long)].collect().toMap
    val expect = ids.filterNot(byBucket(bD).contains)
      .map(i => i -> (if (i == 0L) 999L else i * 10L)).toMap
    assert(got == expect)

    // only bucket U was rewritten: its partition now points into v2,
    // untouched buckets still point into v1, bucket D's partition is gone
    assert(partLoc(bU).contains("/v2/"), partLoc(bU))
    (0 to 3).filterNot(b => b == bU || b == bD)
      .foreach(b => assert(partLoc(b).contains("/v1/"), partLoc(b)))
    val parts = spark.sql(s"SHOW PARTITIONS $fqn").as[String].collect()
    assert(parts.sorted.toSeq ==
      (0 to 3).filter(_ != bD).map(b => s"_bucket=$b").sorted)
    // v2 on disk holds ONLY the touched bucket's dir (the write itself
    // was touched-only), and v1 still holds the superseded dirs for
    // retention-window readers / per-bucket restore
    val fsBase = new java.io.File(s"$store/silver/app_downloads")
    def bucketDirs(v: String): Set[String] =
      Option(new java.io.File(fsBase, v).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
        .map(_.getName).toSet
    assert(bucketDirs("v2") == Set(s"_bucket=$bU"))
    assert(bucketDirs("v1") == (0 to 3).map(b => s"_bucket=$b").toSet)
    assert(PipelineRunner.tableProp(spark, fqn,
      PipelineRunner.BucketCountProp).contains("4"))

    // partition pruning: a _bucket-filtered read (the shape of the
    // merge's previous-silver read) plans PartitionFilters and reads
    // only that bucket's files — the O(touched) read-side evidence
    val pruned = spark.table(fqn).where($"_bucket" === bU)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("_bucket"), planStr.take(800))
    pruned.collect()
    def scanNumFiles(df: org.apache.spark.sql.DataFrame): Option[Long] =
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles")).headOption.map(_.value)
    val prunedFiles = scanNumFiles(pruned)
    val all = spark.table(fqn); all.collect()
    val allFiles = scanNumFiles(all)
    assert(prunedFiles.nonEmpty && allFiles.nonEmpty &&
      prunedFiles.get < allFiles.get,
      s"pruned=$prunedFiles all=$allFiles")

    // a silent bucket-count change would prune the wrong partitions —
    // the merge must fail loud and name the remedy
    writeCfg(8)
    write(Seq(Row(99L, 1, "I")))
    val entChanged = ConfigLoader.load(spark, src)
    val (r3, _) = mkRunner(src, store, "2024-04-01 00:00:00", catalog = "bkt")
    val ex = intercept[Exception](r3.run(entChanged))
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("silver_buckets=4") && msgs.contains("full refresh"),
      msgs.take(500))
  }

  test("merge-on-read incremental silver: deltas are O(batch) appends, " +
      "the merge view equals the full recompute incl. CDC + expectation " +
      "tombstones, compaction folds deltas back, strategy switch fails " +
      "loud") {
    val src = tmpDir("mor-src"); val store = tmpDir("mor-store")
    val srcF = tmpDir("morf-src"); val storeF = tmpDir("morf-store")
    def cfgJson(mode: String, merge: String) = s"""{"app_downloads": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["id"],
      |  "silver_mode": "$mode",
      |  "silver_merge": "$merge",
      |  "silver_buckets": 4,
      |  "silver_compact_after": 1,
      |  "expect_all_or_drop": {"created_ok": "created_at IS NOT NULL"},
      |  "renamed_columns": {"downloads": "n_downloads"}
      |}}""".stripMargin
    Files.writeString(Path.of(src, "dp_config_template.json"),
      cfgJson("incremental", "merge_on_read"))
    Files.writeString(Path.of(srcF, "dp_config_template.json"),
      cfgJson("full", "copy_on_write"))
    writeBatch1(src); writeBatch1(srcF)

    val fqn = "`morm_silver`.`silver_app_downloads`"
    val rawFqn = "`morm_silver`.`silver_app_downloads_raw`"
    def silverRows(cat: String): Seq[(Long, Long, String)] =
      spark.table(s"`${cat}_silver`.`silver_app_downloads`")
        .select($"id", $"n_downloads", $"v")
        .as[(Long, Long, String)].collect().sorted.toSeq
    /** Returns the Spark jobs of the merge-on-read run. */
    def runBoth(clock: String): Int = {
      val (rm, _) = mkRunner(src, store, clock, catalog = "morm")
      val (rf, _) = mkRunner(srcF, storeF, clock, catalog = "morf")
      val ent = ConfigLoader.load(spark, src)
      val jobs = jobsOf(rm.run(ent))
      rf.run(ConfigLoader.load(spark, srcF))
      jobs
    }
    def rawParts(): Seq[(Int, Long)] =
      spark.sql(s"SHOW PARTITIONS $rawFqn").as[String].collect().toSeq
        .map { s =>
          val kv = s.split('/').map { p =>
            val Array(a, b) = p.split("=", 2); a -> b
          }.toMap
          (kv("_bucket").toInt, kv("_delta").toLong)
        }

    // batch 1: base build — view == full recompute, raw is all-base
    runBoth("2024-02-01 00:00:00")
    assert(silverRows("morm") == silverRows("morf"))
    assert(silverRows("morm").nonEmpty)
    assert(spark.catalog.getTable("morm_silver", "silver_app_downloads")
      .tableType == "VIEW", "merge-on-read silver must publish a view")
    assert(rawParts().nonEmpty && rawParts().forall(_._2 == 0L))
    assert(PipelineRunner.tableProp(spark, fqn,
      PipelineRunner.MergeStrategyProp).contains("merge_on_read"))

    // batch 2: newer version (id=1), CDC delete (id=2), expectation
    // violation (id=5), brand-new id=9 — retractions must work through
    // TOMBSTONES because their base winners live in already-published
    // base files that a delta append never touches
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("downloads", IntegerType),
      StructField("created_at", StringType), StructField("op", StringType),
      StructField("v", StringType)))
    def writeMore(dir: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").parquet(s"$dir/app_downloads")
    val batch2 = Seq(
      Row(1L, 11, "2024-03-01", "U", "one-v2"),
      Row(2L, 22, "2024-03-01", "D", "two-del"),
      Row(5L, 55, null, "I", "five-bad"),
      Row(9L, 99, "2024-03-01", "I", "nine-new"))
    writeMore(src, batch2); writeMore(srcF, batch2)
    val mergeJobs = runBoth("2024-03-05 00:00:00")
    info(s"merge-on-read single-batch merge: $mergeJobs Spark jobs")
    assert(mergeJobs <= MorMergeJobBudget,
      s"the merge ran $mergeJobs jobs, budget $MorMergeJobBudget")
    val after = silverRows("morm")
    assert(after == silverRows("morf"),
      "merge-on-read view diverged from the full recompute")
    val ids = after.map(_._1)
    assert(ids.contains(9L) && !ids.contains(2L) && !ids.contains(5L),
      s"tombstone retraction mismatch: $ids")
    assert(after.find(_._1 == 1L).exists(_._3 == "one-v2"))

    // physical evidence of O(batch) writes: the merge added ONLY delta
    // partitions; every base partition still points into v1 (no base
    // data was rewritten), and the raw deltas are exactly the batch's
    // per-PK-latest rows with 2 tombstones (id=2 delete, id=5 violation)
    val parts2 = rawParts()
    assert(parts2.exists(_._2 > 0L), s"no delta partitions: $parts2")
    def basePartLoc(b: Int): String =
      spark.sql(s"DESCRIBE EXTENDED $rawFqn " +
          s"PARTITION (`_bucket`=$b, `_delta`=0)")
        .where($"col_name" === "Location").select("data_type")
        .as[String].head()
    parts2.filter(_._2 == 0L).map(_._1).foreach(b =>
      assert(basePartLoc(b).contains("/v1/"),
        s"base bucket $b was rewritten: ${basePartLoc(b)}"))
    val draw = spark.table(rawFqn).where($"_delta" > 0)
    assert(draw.count() == 4, "delta must hold the batch-latest rows only")
    assert(draw.where($"_retracted").count() == 2)
    assert(draw.where($"_retracted").select($"id").as[Long]
      .collect().toSet == Set(2L, 5L))

    // read plan: delta-PK set is BROADCAST (base is never shuffled) and
    // a _bucket predicate partition-prunes through the view
    val planStr = spark.table(fqn).queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr.take(800))
    assert(!planStr.contains("SortMergeJoin"), planStr.take(800))
    val bucketOf: Map[Long, Int] = Seq(1L, 2L, 4L, 5L, 9L).toDF("id")
      .select($"id", pmod(hash($"id"), lit(4)).as("b"))
      .as[(Long, Int)].collect().toMap
    val b1 = bucketOf(1L)
    // the view's joins trigger AQE, so file metrics live inside
    // AdaptiveSparkPlanExec / QueryStageExec wrappers — unwrap them
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def walk(p: SparkPlan): Long = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case o => o.children.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val prunedN = scannedFiles(spark.table(fqn).where($"_bucket" === b1))
    val allN = scannedFiles(spark.table(fqn))
    assert(prunedN > 0 && prunedN < allN, s"pruned=$prunedN all=$allN")

    // batch 3: a second update to id=1 pushes its bucket past
    // silver_compact_after=1 → that bucket compacts back to base-only;
    // contents still equal the full recompute
    val batch3 = Seq(Row(1L, 12, "2024-04-01", "U", "one-v3"))
    writeMore(src, batch3); writeMore(srcF, batch3)
    runBoth("2024-04-05 00:00:00")
    assert(silverRows("morm") == silverRows("morf"),
      "post-compaction view diverged from the full recompute")
    assert(silverRows("morm").find(_._1 == 1L).exists(_._3 == "one-v3"))
    val parts3 = rawParts()
    assert(parts3.filter(_._1 == b1).map(_._2) == Seq(0L),
      s"bucket $b1 should be compacted to base-only: $parts3")
    // the compacted base holds winners only — no tombstones
    assert(spark.table(rawFqn).where($"_bucket" === b1)
      .where($"_retracted").count() == 0)

    // wave 4: retract EVERY PK of one bucket (ids 2, 4 and 5 — the
    // bucket of id 2's base row and batch 2's tombstones). Its second
    // delta passes silver_compact_after=1 and the compaction finds no
    // winner: the publish DROPs the base partition, then the deltas
    val bD = bucketOf(2L)
    assert(Seq(4L, 5L).forall(bucketOf(_) == bD) &&
      Seq(1L, 9L).forall(bucketOf(_) != bD),
      s"ids 2, 4, 5 must share a bucket without ids 1, 9: $bucketOf")
    val partsD = rawParts().filter(_._1 == bD).map(_._2)
    assert(partsD.contains(0L) && partsD.count(_ > 0L) == 1,
      s"bucket $bD should hold a base and one delta: ${rawParts()}")
    val wave4 = Seq(2L, 4L, 5L).map(i =>
      Row(i, 0, "2024-04-15", "D", s"del-$i"))
    writeMore(src, wave4); writeMore(srcF, wave4)
    runBoth("2024-04-20 00:00:00")
    assert(silverRows("morm") == silverRows("morf"),
      "view diverged from the full recompute after a bucket retraction")
    assert(!rawParts().exists(_._1 == bD),
      s"retracted bucket $bD kept a partition: ${rawParts()}")

    // strategy switch on an existing table: loud, names the remedy;
    // with --full-refresh it rebuilds under the new strategy as a TABLE
    Files.writeString(Path.of(src, "dp_config_template.json"),
      cfgJson("incremental", "copy_on_write"))
    writeMore(src, Seq(Row(7L, 70, "2024-05-01", "I", "seven")))
    val (r4, _) = mkRunner(src, store, "2024-05-05 00:00:00",
      catalog = "morm")
    val ex = intercept[Exception](r4.run(ConfigLoader.load(spark, src)))
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("silver_merge=merge_on_read") &&
      msgs.contains("full refresh"), msgs.take(500))
    r4.run(ConfigLoader.load(spark, src), fullRefresh = true)
    assert(spark.catalog.getTable("morm_silver", "silver_app_downloads")
      .tableType != "VIEW")
    assert(!spark.catalog.tableExists(rawFqn),
      "full refresh must drop the raw base+delta table")
    // (contested ids 2/5 are NOT asserted: the refresh replays all
    // bronze files under ONE injected clock, so their retracted-vs-kept
    // outcome tie-breaks on random part-file names — the documented
    // fixed-clock caveat, same as the copy-on-write twin test)
    val rebuilt = silverRows("morm").map(_._1)
    assert(rebuilt.contains(7L) && rebuilt.contains(9L) &&
      rebuilt.contains(1L), rebuilt.toString)
  }

  test("silver_mode switches on an existing table fail loud (both " +
      "directions) and rebuild under --full-refresh") {
    val src = tmpDir("msw-src"); val store = tmpDir("msw-store")
    def cfg(mode: String): Unit = Files.writeString(
      Path.of(src, "dp_config_template.json"),
      s"""{"app_downloads": {"raw_file_format": "parquet",
         |  "unique_primary_key": ["id"], "silver_mode": "$mode",
         |  "silver_buckets": 4}}""".stripMargin)
    cfg("incremental"); writeBatch1(src)
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "msw")
    r1.run(ConfigLoader.load(spark, src))
    val fqn = params.silverFqn("app_downloads")
    assert(PipelineRunner.tableProp(spark, fqn,
      PipelineRunner.BucketCountProp).nonEmpty)

    // incremental → full without refresh: stale-partition hazard → loud
    cfg("full")
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString("\n")
    val e1 = intercept[Exception](
      r1.run(ConfigLoader.load(spark, src)))
    assert(msgs(e1).contains("full refresh"), msgs(e1).take(400))
    // with --full-refresh: dropped and rebuilt flat
    r1.run(ConfigLoader.load(spark, src), fullRefresh = true)
    assert(!spark.table(fqn).columns.contains("_bucket"))
    assert(PipelineRunner.tableProp(spark, fqn,
      PipelineRunner.BucketCountProp).isEmpty)
    assert(spark.table(fqn).count() > 0)

    // full → incremental without refresh: missing _bucket layout → loud
    cfg("incremental")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(8L, 80, "2024-03-01", "I", "eight")), 1),
      StructType(Seq(StructField("id", LongType),
        StructField("downloads", IntegerType),
        StructField("created_at", StringType),
        StructField("op", StringType), StructField("v", StringType))))
      .write.mode("append").parquet(s"$src/app_downloads")
    val e2 = intercept[Exception](
      r1.run(ConfigLoader.load(spark, src)))
    assert(msgs(e2).contains("silver_mode=full") &&
      msgs(e2).contains("full refresh"), msgs(e2).take(400))
    // with --full-refresh: rebuilt bucketed, new row present
    r1.run(ConfigLoader.load(spark, src), fullRefresh = true)
    assert(spark.table(fqn).columns.contains("_bucket"))
    assert(spark.table(fqn).select($"id").as[Long].collect().contains(8L))
  }

  test("S4 ORC source: e2e bronze ingest + incremental second batch + " +
      "silver dedup through the shared format dispatch") {
    val src = tmpDir("orc-src"); val store = tmpDir("orc-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"metrics": {
        |  "raw_file_format": "orc",
        |  "unique_primary_key": ["mid"]
        |}}""".stripMargin)
    val schema = StructType(Seq(
      StructField("mid", LongType), StructField("score", IntegerType),
      StructField("tag", StringType)))
    def write(rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").orc(s"$src/metrics")
    write(Seq(Row(1L, 10, "a"), Row(2L, 20, "b")))
    val ent = ConfigLoader.load(spark, src)
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "orc1")
    r1.run(ent)
    val bronze1 = spark.table(params.bronzeFqn("metrics"))
    assert(bronze1.count() == 2)
    assert(bronze1.schema("score").dataType == LongType) // P1 upcast
    // second batch: new file only (checkpoint resume), updated mid=1
    write(Seq(Row(1L, 11, "a2")))
    val (r2, _) = mkRunner(src, store, "2024-03-01 00:00:00",
      catalog = "orc1")
    r2.run(ent)
    assert(spark.table(params.bronzeFqn("metrics")).count() == 3)
    val silver = spark.table(params.silverFqn("metrics"))
      .select($"mid", $"tag").as[(Long, String)].collect().toMap
    assert(silver == Map(1L -> "a2", 2L -> "b"))
  }

  test("T1 incremental: second run ingests only new files, dedup keeps latest") {
    val src = tmpDir("graft-src2"); val store = tmpDir("graft-store2")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)

    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t2")
    r1.run(entities)

    // batch 2: a NEW file updating id=1 and resurrecting id=4
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("downloads", IntegerType),
      StructField("created_at", StringType), StructField("op", StringType),
      StructField("v", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 11, "2024-03-01", "U", "one-v2"),
      Row(4L, 44, "2024-03-01", "U", "four-return")), 1), schema)
      .write.mode("append").parquet(s"$src/app_downloads")

    val (r2, _) = mkRunner(src, store, "2024-03-05 00:00:00", catalog = "t2")
    r2.run(entities)

    val bronze = spark.table(params.bronzeFqn("app_downloads"))
    assert(bronze.count() == 7) // 5 + 2, batch-1 files NOT reprocessed
    // rows from run 2 carry run 2's injected clock only
    val clocks = bronze.select("_ingested_at").distinct().as[Timestamp]
      .collect().map(_.toString).sorted
    assert(clocks.toSeq == Seq("2024-02-01 00:00:00.0", "2024-03-05 00:00:00.0"))

    val silver = spark.table(params.silverFqn("app_downloads"))
    val v = silver.select("id", "v").as[(Long, String)].collect().toMap
    assert(v(1L) == "one-v2") // latest _ingested_at wins
    assert(v(4L) == "four-return") // D superseded by later U
  }

  test("S7 schema evolution: new column widens bronze + silver, old rows null") {
    val src = tmpDir("graft-src3"); val store = tmpDir("graft-store3")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"receipts": {"raw_file_format": "json",
        |  "unique_primary_key": ["rid"]}}""".stripMargin)
    Seq("""{"rid": 1, "amount": 5.0}""", """{"rid": 2, "amount": 7.5}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$src/receipts")
    val entities = ConfigLoader.load(spark, src)

    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t3")
    r1.run(entities)
    assert(!spark.table(params.bronzeFqn("receipts"))
      .columns.contains("currency"))

    // file 2 introduces `currency`
    Seq("""{"rid": 3, "amount": 9.0, "currency": "EUR"}""")
      .toDF("value").coalesce(1).write.mode("append").text(s"$src/receipts")
    val (r2, _) = mkRunner(src, store, "2024-03-01 00:00:00", catalog = "t3")
    r2.run(entities)

    val bronze = spark.table(params.bronzeFqn("receipts"))
    assert(bronze.columns.contains("currency"))
    val rows = bronze.select("rid", "currency").as[(Long, Option[String])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty) // old rows null-filled
    assert(rows(3L).contains("EUR"))
    assert(spark.table(params.silverFqn("receipts"))
      .columns.contains("currency"))
  }

  test("soft deletes Y: silver keeps D rows, _active view filters them") {
    val src = tmpDir("graft-src4"); val store = tmpDir("graft-store4")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
      .filter(_._1 == "app_downloads")

    val (runner, params) =
      mkRunner(src, store, "2024-02-01 00:00:00", softDeletes = "Y", catalog = "t4")
    runner.run(entities)

    val silver = spark.table(params.silverFqn("app_downloads"))
    assert(silver.filter($"op" === "D").count() == 1) // id=4 retained

    val active = spark.table(params.activeViewFqn("app_downloads"))
    assert(active.filter($"op" === "D").count() == 0)
    assert(active.count() == silver.count() - 1)
  }

  test("S11 external location: tables land under {external}/bronze|silver/{entity}") {
    val src = tmpDir("graft-src6"); val store = tmpDir("graft-store6")
    val external = tmpDir("graft-ext")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"locations": {"raw_file_format": "json",
        |  "unique_primary_key": ["loc_id"]}}""".stripMargin)
    Seq("""{"loc_id": 1, "city": "berlin"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/locations")
    val entities = ConfigLoader.load(spark, src)
    val params = PipelineParams(
      sourceLocation = src, catalogName = "t6",
      externalLocation = external,
      fixedIngestedAt = Some(Timestamp.valueOf("2024-02-01 00:00:00")))
    new pipeline.PipelineRunner(spark, params, store).run(entities)
    assert(Files.list(Path.of(external, "bronze", "locations"))
      .anyMatch(p => p.toString.endsWith(".parquet")))
    // silver publishes atomically into versioned subdirs: {path}/v{N}
    assert(Files.walk(Path.of(external, "silver", "locations"))
      .anyMatch(p => p.toString.endsWith(".parquet")))
    assert(spark.table(params.silverFqn("locations")).count() == 1)
  }

  test("atomic silver publish: version dir rotates, table repointed, old dir removed") {
    val src = tmpDir("graft-src8"); val store = tmpDir("graft-store8")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"locations": {"raw_file_format": "json",
        |  "unique_primary_key": ["loc_id"]}}""".stripMargin)
    Seq("""{"loc_id": 1, "city": "berlin"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/locations")
    val entities = ConfigLoader.load(spark, src)
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t8")
    r1.run(entities)
    val silverDir = Path.of(store, "silver", "locations")
    assert(Files.exists(silverDir.resolve("v1")))

    Seq("""{"loc_id": 2, "city": "lima"}""").toDF("value")
      .coalesce(1).write.mode("append").text(s"$src/locations")
    val (r2, _) = mkRunner(src, store, "2024-03-01 00:00:00", catalog = "t8")
    r2.run(entities)
    assert(Files.exists(silverDir.resolve("v2")))
    // default retention "interval 14 days": superseded v1 RETAINED for
    // in-flight readers
    assert(Files.exists(silverDir.resolve("v1")))
    assert(spark.table(params.silverFqn("locations")).count() == 2)

    // zero retention: superseded versions vacuumed at the next publish
    val p3 = PipelineParams(sourceLocation = src, catalogName = "t8",
      deletedFileRetention = "interval 0 seconds",
      fixedIngestedAt = Some(Timestamp.valueOf("2024-04-01 00:00:00")),
      republishUnchanged = true)
    new PipelineRunner(spark, p3, store).run(entities)
    assert(Files.exists(silverDir.resolve("v3")))
    assert(!Files.exists(silverDir.resolve("v1")))
    assert(!Files.exists(silverDir.resolve("v2")))
  }

  test("clustering col configured under its post-rename name still lays out") {
    val src = tmpDir("graft-src13"); val store = tmpDir("graft-store13")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"rates": {"raw_file_format": "csv",
        |  "unique_primary_key": ["code"],
        |  "renamed_columns": ["code:currency_code"],
        |  "clustering_cols": ["currency_code"]}}""".stripMargin)
    Seq("code,rate", "EUR,1.08", "GBP,1.27").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/rates")
    val entities = ConfigLoader.load(spark, src)
    val (runner, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "t13")
    runner.run(entities)
    // layout runs pre-rename: "currency_code" must translate back to
    // "code" instead of silently filtering out (no layout at all)
    val frame = runner.buildSilverFrame("rates", entities("rates"))
    val logical = frame.queryExecution.logical.toString
    assert(logical.contains("RepartitionByExpression"),
      s"clustering dropped from plan:\n$logical")
    assert(spark.table(params.silverFqn("rates"))
      .columns.contains("currency_code"))
  }

  test("expectation violation counts are persisted as table properties") {
    val src = tmpDir("graft-src12"); val store = tmpDir("graft-store12")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
    val (runner, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "t12")
    runner.run(entities)
    // batch1: id=3 has null created_at -> exactly 1 has_created violation
    val props = spark.sql(
      s"SHOW TBLPROPERTIES ${params.silverFqn("app_downloads")}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("expectations.violations_has_created") == "1")
    assert(props("expectations.violations_has_id") == "0")
  }

  test("compaction: many small files -> few, data identical, ingest resumes") {
    val src = tmpDir("graft-src7"); val store = tmpDir("graft-store7")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"ticks": {"raw_file_format": "json",
        |  "unique_primary_key": ["tid"]}}""".stripMargin)
    // 6 separate source files -> 6+ bronze files across two runs
    (1 to 6).foreach { i =>
      Seq(s"""{"tid": $i, "v": "x$i"}""").toDF("value")
        .coalesce(1).write.mode("append").text(s"$src/ticks")
    }
    val entities = ConfigLoader.load(spark, src)
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t7")
    r1.run(entities)
    val tablePath = s"$store/bronze/ticks"
    val before = spark.table(params.bronzeFqn("ticks")).collect().toSet

    val (nBefore, nAfter) = pipeline.Compaction
      .compactPath(spark, tablePath, targetFileBytes = 1024L * 1024 * 1024)
    assert(nBefore > 1 && nAfter == 1)
    assert(spark.read.parquet(tablePath).collect().toSet == before)

    // ingestion resumes from the checkpoint after compaction
    Seq("""{"tid": 7, "v": "x7"}""").toDF("value")
      .coalesce(1).write.mode("append").text(s"$src/ticks")
    val (r2, _) = mkRunner(src, store, "2024-03-01 00:00:00", catalog = "t7")
    r2.run(entities)
    assert(spark.table(params.bronzeFqn("ticks")).count() == 7)
  }

  test("compaction: sink with >= compactInterval batches stays readable and resumes") {
    val src = tmpDir("graft-src9"); val store = tmpDir("graft-store9")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"ticks": {"raw_file_format": "json",
        |  "unique_primary_key": ["tid"]}}""".stripMargin)
    (1 to 12).foreach { i =>
      Seq(s"""{"tid": $i, "v": "x$i"}""").toDF("value")
        .coalesce(1).write.mode("append").text(s"$src/ticks")
    }
    val entities = ConfigLoader.load(spark, src)
    // maxFilesPerTrigger=1 -> 12 committed sink batches in one triggered
    // run, crossing the default compact interval (10): the synthesized
    // log MUST name batch 9 "9.compact" or every subsequent read throws
    val params = PipelineParams(sourceLocation = src, catalogName = "t9",
      maxFilesPerTrigger = Some(1),
      fixedIngestedAt = Some(Timestamp.valueOf("2024-02-01 00:00:00")))
    new PipelineRunner(spark, params, store).run(entities)
    val tablePath = s"$store/bronze/ticks"

    val (nBefore, nAfter) = pipeline.Compaction
      .compactPath(spark, tablePath, targetFileBytes = 1024L * 1024 * 1024)
    assert(nBefore > 1 && nAfter == 1)
    assert(spark.read.parquet(tablePath).count() == 12)

    Seq("""{"tid": 13, "v": "x13"}""").toDF("value")
      .coalesce(1).write.mode("append").text(s"$src/ticks")
    new PipelineRunner(spark, params.copy(
      fixedIngestedAt = Some(Timestamp.valueOf("2024-03-01 00:00:00"))), store)
      .run(entities)
    assert(spark.table(params.bronzeFqn("ticks")).count() == 13)
  }

  test("vacuum measures retention from supersede time, not version age") {
    val src = tmpDir("graft-src10"); val store = tmpDir("graft-store10")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"locations": {"raw_file_format": "json",
        |  "unique_primary_key": ["loc_id"]}}""".stripMargin)
    Seq("""{"loc_id": 1, "city": "berlin"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/locations")
    val entities = ConfigLoader.load(spark, src)
    val (r1, _) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t10")
    r1.run(entities)
    val silverDir = Path.of(store, "silver", "locations")
    // v1 has been the LIVE location for "2 days" (backdated mtime): long
    // past a 1-day retention window measured from creation
    Files.setLastModifiedTime(silverDir.resolve("v1"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 24 * 3600 * 1000))

    Seq("""{"loc_id": 2, "city": "lima"}""").toDF("value")
      .coalesce(1).write.mode("append").text(s"$src/locations")
    val p2 = PipelineParams(sourceLocation = src, catalogName = "t10",
      deletedFileRetention = "interval 1 day",
      fixedIngestedAt = Some(Timestamp.valueOf("2024-03-01 00:00:00")))
    new PipelineRunner(spark, p2, store).run(entities)
    // superseded JUST NOW -> the full window still applies; an mtime-based
    // vacuum would have deleted it here, breaking in-flight readers
    assert(Files.exists(silverDir.resolve("v1")))
    assert(Files.exists(silverDir.resolve("v1").resolve("_superseded_at")))

    // zero retention at the next publish removes all superseded versions
    Seq("""{"loc_id": 3, "city": "pune"}""").toDF("value")
      .coalesce(1).write.mode("append").text(s"$src/locations")
    new PipelineRunner(spark, p2.copy(
      deletedFileRetention = "interval 0 seconds",
      fixedIngestedAt = Some(Timestamp.valueOf("2024-04-01 00:00:00"))),
      store).run(entities)
    assert(!Files.exists(silverDir.resolve("v1")))
    assert(!Files.exists(silverDir.resolve("v2")))
    assert(Files.exists(silverDir.resolve("v3")))
  }

  test("parseRetentionMs: all units, optional keyword, unparseable throws") {
    import PipelineRunner.parseRetentionMs
    assert(parseRetentionMs("interval 14 days") == 14L * 24 * 3600 * 1000)
    assert(parseRetentionMs("14 days") == 14L * 24 * 3600 * 1000)
    assert(parseRetentionMs("2 weeks") == 14L * 24 * 3600 * 1000)
    assert(parseRetentionMs("interval 1 month") == 30L * 24 * 3600 * 1000)
    assert(parseRetentionMs("interval 1 hour") == 3600L * 1000)
    assert(parseRetentionMs("90 seconds") == 90L * 1000)
    intercept[IllegalArgumentException](parseRetentionMs("soon"))
    intercept[IllegalArgumentException](parseRetentionMs(""))
    intercept[IllegalArgumentException](parseRetentionMs("14 fortnights"))
  }

  test("config-supplied names are quoted: injection becomes a clean error") {
    // Every FQN part is backtick-quoted (reference 03_active_views.py:58-59),
    // so a hostile entity name is ONE identifier, never spliced SQL.
    val params = PipelineParams(sourceLocation = "/x", catalogName = "c")
    assert(params.bronzeFqn("web-logs") == "`c_bronze`.`bronze_web-logs`")
    assert(params.silverFqn("a`; DROP TABLE t; --")
      == "`c_silver`.`silver_a``; DROP TABLE t; --`")

    // e2e: the injection attempt reaches the catalog as a single (invalid)
    // name and fails with a validation error; the sentinel table survives.
    // (OSS SessionCatalog only admits [A-Za-z0-9_] names — stricter than
    // the reference's Unity Catalog, which allows quoted hyphens.)
    spark.sql("CREATE DATABASE IF NOT EXISTS inj_t")
    spark.sql("CREATE TABLE IF NOT EXISTS inj_t.keep (x INT) USING parquet")
    val src = tmpDir("graft-src11"); val store = tmpDir("graft-store11")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"e`; DROP TABLE inj_t.keep; --":
        |  {"raw_file_format": "json", "unique_primary_key": ["rid"]}}"""
        .stripMargin)
    Files.createDirectories(Path.of(src, "e`; DROP TABLE inj_t.keep; --"))
    Seq("""{"rid": 1}""").toDF("value").coalesce(1)
      .write.mode("overwrite").text(s"$src/e`; DROP TABLE inj_t.keep; --")
    val entities = ConfigLoader.load(spark, src)
    val (runner, _) =
      mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t11")
    intercept[Exception](runner.run(entities))
    assert(spark.catalog.tableExists("inj_t.keep"))
  }

  test("full refresh truncates and reingests") {
    val src = tmpDir("graft-src5"); val store = tmpDir("graft-store5")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"locations": {"raw_file_format": "json",
        |  "unique_primary_key": ["loc_id"]}}""".stripMargin)
    Seq("""{"loc_id": 1, "city": "berlin"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/locations")
    val entities = ConfigLoader.load(spark, src)

    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "t5")
    r1.run(entities)
    val (r2, _) = mkRunner(src, store, "2024-03-01 00:00:00", catalog = "t5")
    r2.run(entities, fullRefresh = true)

    val bronze = spark.table(params.bronzeFqn("locations"))
    assert(bronze.count() == 1) // reingested once, not duplicated
    val clock = bronze.select("_ingested_at").as[Timestamp].head.toString
    assert(clock == "2024-03-01 00:00:00.0") // data is from run 2
  }

  test("run lock: concurrent run fails fast, lock released, stale lock broken") {
    import graft.pipeline.{ConcurrentRunException, RunLock}
    val store = tmpDir("graft-lock")
    val root = s"$store/_checkpoints"

    // held lock -> second acquisition fails fast
    RunLock.withLock(spark, root) {
      intercept[ConcurrentRunException] {
        RunLock.withLock(spark, root)(fail("must not enter"))
      }
    }
    // released on completion -> re-acquirable
    RunLock.withLock(spark, root)(())

    // released even when the body throws
    intercept[RuntimeException] {
      RunLock.withLock(spark, root)(throw new RuntimeException("boom"))
    }
    RunLock.withLock(spark, root)(())

    // stale lock (holder crashed: heartbeat far in the past) is broken
    val lockFile = Path.of(root, "_pipeline_run_lock")
    Files.writeString(lockFile,
      (System.currentTimeMillis() - RunLock.staleAfterMs - 1000) + "\n")
    RunLock.withLock(spark, root)(assert(!"never".isEmpty))
    assert(!Files.exists(lockFile))

    // and PipelineRunner.run itself honors the lock (max_concurrent_runs=1)
    val src = tmpDir("graft-lock-src")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"locations": {"raw_file_format": "json",
        |  "unique_primary_key": ["loc_id"]}}""".stripMargin)
    Seq("""{"loc_id": 1, "city": "berlin"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/locations")
    val entities = ConfigLoader.load(spark, src)
    val (runner, _) = mkRunner(src, store, "2024-02-01 00:00:00", catalog = "tl")
    RunLock.withLock(spark, root) {
      intercept[ConcurrentRunException](runner.run(entities))
    }
  }

  test("run lock fencing: a holder whose lock was broken must not delete the rival's") {
    import graft.pipeline.RunLock
    val store = tmpDir("graft-fence")
    val root = s"$store/_checkpoints"
    val lockFile = Path.of(root, "_pipeline_run_lock")
    val rival = System.currentTimeMillis() + " rival-token\n"
    RunLock.withLock(spark, root) {
      // simulate: we were paused past staleAfterMs, a rival broke our
      // stale lock and now holds a FRESH one with its own token
      Files.writeString(lockFile, rival)
    }
    // our release must leave the rival's live lock in place
    assert(Files.exists(lockFile))
    assert(Files.readString(lockFile) == rival)
  }

  test("bronze run survives raw files being retired after ingestion") {
    val src = tmpDir("graft-ret-src"); val store = tmpDir("graft-ret-store")
    writeConfig(src); writeBatch1(src)
    val entities = ConfigLoader.load(spark, src)
    val (runner, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "tret")
    runner.run(entities)
    val before = spark.table(params.bronzeFqn("app_downloads")).count()

    // a raw-retention job deletes the already-checkpointed source files;
    // the next run must fall back to the table schema, not die inferring
    import scala.jdk.CollectionConverters._
    Files.list(Path.of(src, "app_downloads")).iterator().asScala.toSeq
      .foreach(f => Files.delete(f))
    runner.run(entities)
    assert(spark.table(params.bronzeFqn("app_downloads")).count() == before)
  }

  test("S7 type conflict: changed column type fails with a named error; " +
      "up-castable change widens the incoming data") {
    import graft.pipeline.SchemaConflictException
    val src = tmpDir("graft-evo-src"); val store = tmpDir("graft-evo-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"evo": {"raw_file_format": "json", "unique_primary_key": ["k"]}}""")

    // batch 1: a is long, b is double -> bronze has bigint a, double b
    Seq("""{"k": 1, "a": 1, "b": 1.5}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/evo")
    val entities = ConfigLoader.load(spark, src)
    val (runner, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "tevo")
    runner.run(entities)
    val fqn = params.bronzeFqn("evo")
    assert(spark.table(fqn).schema("a").dataType == LongType)
    assert(spark.table(fqn).schema("b").dataType == DoubleType)

    // batch 2 REPLACES the files: b now infers long -> up-casts into the
    // double column (Cast.canUpCast) instead of failing
    Seq("""{"k": 2, "a": 2, "b": 2}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/evo")
    runner.runBronze("evo", entities("evo"))
    val b2 = spark.table(fqn).filter($"k" === 2)
      .select("b").as[Double].collect()
    assert(b2.sameElements(Array(2.0)))

    // batch 3: a becomes a string -> NAMED error, not a stream failure
    Seq("""{"k": 3, "a": "not-a-number", "b": 3.0}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$src/evo")
    val e = intercept[SchemaConflictException](
      runner.runBronze("evo", entities("evo")))
    assert(e.getMessage.contains("'a'") &&
      e.getMessage.contains("full refresh"))
  }

  private val triadConfig = """{
    "items": {
      "raw_file_format": "parquet",
      "unique_primary_key": ["id"],
      "expect_all_or_drop": {"has_id": "id IS NOT NULL"},
      "expect_all": {"score_high": "score >= 50"},
      "expect_all_or_quarantine": {"score_valid": "score <= 100"}
    }
  }"""

  private def writeItems(src: String, rows: Seq[Row],
      mode: String = "overwrite"): Unit = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("score", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(mode).parquet(s"$src/items")
  }

  test("expectations triad: warn counts but keeps; quarantine splits to " +
    "the dead-letter table; both republish to current state on rerun") {
    val src = tmpDir("graft-src"); val store = tmpDir("graft-store")
    Files.writeString(Path.of(src, "dp_config_template.json"), triadConfig)
    writeItems(src, Seq(
      Row(1L, Integer.valueOf(60)), // clean
      Row(2L, Integer.valueOf(40)), // warn tier violated -> KEPT
      Row(3L, Integer.valueOf(150)), // quarantine tier -> diverted
      Row(null, Integer.valueOf(70)))) // drop tier -> gone entirely
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "triad")
    r1.run(ConfigLoader.load(spark, src))

    val silver = spark.table(params.silverFqn("items"))
    assert(silver.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L)) // warn row kept, quarantine + drop rows absent
    val quarantined = spark.table(params.quarantineFqn("items"))
    val qRows = quarantined
      .select("id", "_violated", "_run_id").collect()
    assert(qRows.map(_.getAs[Long]("id")).toSeq == Seq(3L))
    assert(qRows.head.getAs[scala.collection.Seq[String]]("_violated")
      .toSeq == Seq("score_valid"))
    assert(qRows.head.getAs[String]("_run_id").nonEmpty)
    // all three tiers counted on the one observe + in the event log
    val props = spark.sql(
      s"SHOW TBLPROPERTIES ${params.silverFqn("items")}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("expectations.violations_score_high") == "1")
    assert(props("expectations.violations_score_valid") == "1")
    assert(props("expectations.violations_has_id") == "1")
    val logged = spark.table(params.expectationLogFqn)
      .filter($"entity" === "items").select("expectation")
      .as[String].collect().toSet
    assert(logged == Set("score_high", "score_valid", "has_id"))

    // batch 2 fixes id=3 (later clock wins dedup): quarantine table
    // republishes to CURRENT state — empty, no stale rows
    writeItems(src, Seq(Row(3L, Integer.valueOf(90))), mode = "append")
    val (r2, _) = mkRunner(src, store, "2024-02-02 00:00:00",
      catalog = "triad")
    r2.run(ConfigLoader.load(spark, src))
    assert(spark.table(params.silverFqn("items"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(spark.table(params.quarantineFqn("items")).count() == 0)
  }

  test("expect_all_or_fail: a violating batch aborts BEFORE the repoint " +
    "— readers keep the last good version, candidate dir deleted") {
    val src = tmpDir("graft-src"); val store = tmpDir("graft-store")
    Files.writeString(Path.of(src, "dp_config_template.json"), """{
      "items": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["id"],
        "expect_all_or_fail": {"score_sane": "score <= 100"}
      }
    }""")
    writeItems(src, Seq(Row(1L, Integer.valueOf(60))))
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "triadfail")
    r1.run(ConfigLoader.load(spark, src)) // clean run publishes v1
    assert(spark.table(params.silverFqn("items")).count() == 1)

    writeItems(src, Seq(Row(9L, Integer.valueOf(999))), mode = "append")
    val (r2, _) = mkRunner(src, store, "2024-02-02 00:00:00",
      catalog = "triadfail")
    val e = intercept[IllegalStateException](
      r2.run(ConfigLoader.load(spark, src)))
    assert(e.getMessage.contains("score_sane") &&
      e.getMessage.contains("items"))
    // last good version still served; the aborted candidate dir is gone
    assert(spark.table(params.silverFqn("items"))
      .select("id").as[Long].collect().toSeq == Seq(1L))
    val versions = new java.io.File(s"$store/silver/items")
      .listFiles().filter(_.getName.startsWith("v")).map(_.getName).toSeq
    assert(versions == Seq("v1"))
  }

  test("expect_all_or_fail: an EMPTY publish (zero observed rows -> NULL " +
    "metric sums) passes the fail check instead of aborting") {
    val src = tmpDir("graft-src"); val store = tmpDir("graft-store")
    Files.writeString(Path.of(src, "dp_config_template.json"), """{
      "items": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["id"],
        "expect_all_or_drop": {"has_id": "id IS NOT NULL"},
        "expect_all_or_fail": {"score_sane": "score <= 100"}
      }
    }""")
    writeItems(src, Seq.empty) // schema-only parquet: zero rows
    val (r1, params) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "triadempty")
    r1.run(ConfigLoader.load(spark, src)) // must NOT throw
    assert(spark.table(params.silverFqn("items")).count() == 0)
  }

  test("expectations config validation: duplicate names across tiers and " +
    "fail/quarantine under incremental mode are rejected loud") {
    val src = tmpDir("graft-src")
    Files.writeString(Path.of(src, "dp_config_template.json"), """{
      "items": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["id"],
        "expect_all_or_drop": {"x": "id IS NOT NULL"},
        "expect_all": {"x": "id > 0"}
      }
    }""")
    val dup = intercept[IllegalArgumentException](
      ConfigLoader.load(spark, src))
    assert(dup.getMessage.contains("x"))
    Files.writeString(Path.of(src, "dp_config_template.json"), """{
      "items": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["id"],
        "silver_mode": "incremental",
        "expect_all_or_fail": {"y": "id IS NOT NULL"}
      }
    }""")
    val inc = intercept[IllegalArgumentException](
      ConfigLoader.load(spark, src))
    assert(inc.getMessage.contains("silver_mode"))
  }

  test("incremental gold (gold.mode): prefix batches + global suffix " +
      "equal the full recompute across three CDC batches (update into a " +
      "component, prefix-gate tombstone, lang tombstone, silver " +
      "retraction); prefix writes are O(batch)") {
    // distinct word sequences per doc (seeded PRNG per doc — an
    // arithmetic generator makes every doc a shifted window of one
    // cycle and near-dups EVERYTHING): shingle overlap across docs
    // stays near zero, so the near-dup stage only clusters the pairs
    // this test PLANTS
    val vocab = (0 until 200).map(i => s"word$i")
    def text(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 50).map(_ => vocab(r.nextInt(200))).mkString(" ")
    }
    def cfgJson(mode: String) = s"""{"docs": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["doc_id"],
      |  "silver_mode": "incremental",
      |  "expect_all_or_drop": {"text_ok": "text IS NOT NULL"},
      |  "gold": {"mode": "$mode",
      |    "curation": {"id_col": "doc_id", "text_col": "text",
      |                 "lang_col": "lang", "min_quality": 0.0,
      |                 "keep_langs": ["en"], "max_repetition": 0.9,
      |                 "near_dup_jaccard": 0.8}}
      |}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"goldinc$tag-src")
      val store = tmpDir(s"goldinc$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      // batch 1: 60 distinct docs, one planted near-dup pair (2 ≈ 1,
      // keep 1) and one exact-dup pair (11 == 10, keep 10)
      ((0 until 60).map(i => (i.toLong, text(i), "en")) ++ Seq(
        (101L, text(1) + " tail", "en"),  // near-dup of doc 1
        (110L, text(10), "en")            // exact dup of doc 10
      )).toDF("doc_id", "text", "lang")
        .write.parquet(s"$src/docs")
      (src, store)
    }
    def batch2(src: String): Unit = Seq(
      (2L, text(300), "en"),     // plain update: new distinct text
      (20L, Seq.fill(60)("spam").mkString(" "), "en"), // repetition gate
      (21L, text(21), "de"),     // lang gate -> prefix tombstone
      (30L, null.asInstanceOf[String], "en"), // silver retraction
      (200L, text(10) + " fin", "en") // new near-dup joins {10,110}
    ).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(s"$src/docs")
    def batch3(src: String): Unit = Seq(
      (300L, text(301), "en"), (301L, text(302), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(s"$src/docs")
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    val entI = ConfigLoader.load(spark, srcI)
    val entF = ConfigLoader.load(spark, srcF)
    assert(entI("docs").gold.get.mode == "incremental")
    def goldRows(cat: String): Seq[(Long, String, String)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("docs"))
        .select($"doc_id", $"text", $"lang")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    }
    def storeFiles(sub: String): Map[String, Long] = {
      val d = new java.io.File(liveGen(s"$storeI/$sub"))
      if (!d.isDirectory) Map.empty
      else d.listFiles().filter(_.isFile)
        .map(f => f.getName -> f.length()).toMap
    }
    def prefixBytes(): Map[String, Long] = storeFiles("gold_prefix/docs")
    def run(src: String, store: String, cat: String, clock: String,
        ent: Map[String, graft.config.EntityConfig]): Unit =
      mkRunner(src, store, clock, catalog = cat)._1.run(ent)

    run(srcI, storeI, "ginci", "2024-02-01 00:00:00", entI)
    run(srcF, storeF, "gincf", "2024-02-01 00:00:00", entF)
    val g1 = goldRows("ginci")
    assert(g1 == goldRows("gincf"),
      "batch-1 incremental gold diverged from full recompute")
    val ids1 = g1.map(_._1).toSet
    assert(ids1.contains(1L) && !ids1.contains(101L), "near-dup pair")
    assert(ids1.contains(10L) && !ids1.contains(110L), "exact-dup pair")
    val b1Files = prefixBytes()
    val b1Bytes = b1Files.values.sum
    // the suffix's persisted LSH state exists after run 1: band rows for
    // every live prefix version, and the planted near-dup edge
    val b1Bands = storeFiles("gold_suffix/docs/bands")
    assert(b1Bands.nonEmpty, "no persisted band index after batch 1")
    def liveSuffixEdges(): Set[(Long, Long)] =
      spark.read.parquet(liveGen(s"$storeI/gold_suffix/docs/edges"))
        .filter($"id_a".isNotNull)
        .select($"id_a".cast("long"), $"id_b".cast("long"))
        .as[(Long, Long)].collect().toSet
    assert(liveSuffixEdges().contains((1L, 101L)),
      "planted near-dup pair missing from the persisted edge store")

    batch2(srcI); batch2(srcF)
    run(srcI, storeI, "ginci", "2024-02-02 00:00:00", entI)
    run(srcF, storeF, "gincf", "2024-02-02 00:00:00", entF)
    val g2 = goldRows("ginci")
    assert(g2 == goldRows("gincf"),
      "batch-2 incremental gold diverged from full recompute")
    val ids2 = g2.map(_._1).toSet
    assert(g2.find(_._1 == 2L).exists(_._2 == text(300)), "update applied")
    assert(!ids2.contains(20L), "repetition-gate tombstone")
    assert(!ids2.contains(21L), "lang-gate tombstone")
    assert(!ids2.contains(30L), "silver retraction")
    assert(ids2.contains(10L) && !ids2.contains(200L),
      "new near-dup joins the existing component")

    batch3(srcI); batch3(srcF)
    run(srcI, storeI, "ginci", "2024-02-03 00:00:00", entI)
    run(srcF, storeF, "gincf", "2024-02-03 00:00:00", entF)
    val g3 = goldRows("ginci")
    assert(g3 == goldRows("gincf"),
      "batch-3 incremental gold diverged from full recompute")
    assert(g3.map(_._1).toSet.contains(300L))

    // O(batch) evidence: the 2-doc batch-3 append wrote a small
    // fraction of the 62-doc batch-1 prefix build
    val b3Bytes = prefixBytes()
      .filterNot { case (n, _) => b1Files.contains(n) }.values.sum
    assert(b3Bytes > 0, "batch 3 appended no prefix data?")
    assert(b3Bytes < b1Bytes / 2,
      s"prefix append not O(batch): batch3=$b3Bytes vs batch1=$b1Bytes")
    // O(batch) SUFFIX evidence: the 2-doc batch-3 run appended a small
    // fraction of the batch-1 band build (signatures are computed once
    // per version, never re-derived per publish), and the edge store
    // still resolves CDC by version: batch 2 updated doc 2 and added
    // 200 ≈ 10, so (10,200) is live while the stale edges of superseded
    // versions died with their version stamps
    val b3BandBytes = storeFiles("gold_suffix/docs/bands")
      .filterNot { case (n, _) => b1Bands.contains(n) }.values.sum
    assert(b3BandBytes > 0, "batch 3 appended no band rows?")
    assert(b3BandBytes < b1Bands.values.sum / 2,
      s"band append not O(batch): batch3=$b3BandBytes vs " +
        s"batch1=${b1Bands.values.sum}")
    assert(liveSuffixEdges().contains((10L, 200L)),
      "batch-2 mined near-dup edge missing from the persisted store")
  }

  test("incremental gold rejects the corpus-global segment-cleanup " +
      "knobs at config time") {
    val bad = intercept[IllegalArgumentException] {
      graft.config.GoldConfig(mode = "incremental",
        curation = graft.config.GoldCuration(lineDedupSpan = Some(3)))
    }
    assert(bad.getMessage.contains("segment-cleanup"))
  }

  test("cross-entity gold join (gold.join): dim⋈fact mart e2e through " +
      "bronze→silver→gold with broadcast, projection, expectations; " +
      "config rejects unknown/self entities and curation+join") {
    val src = tmpDir("goldjoin-src"); val store = tmpDir("goldjoin-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {
        |    "join": [
        |      {"entity": "stores", "on": "store_id = s_id",
        |       "type": "left", "broadcast": true}],
        |    "select": ["sale_id", "amount", "store_id",
        |               "s_city AS city", "s_region AS region"],
        |    "expect_all_or_drop": {"has_store": "city IS NOT NULL"},
        |    "clustering_cols": ["store_id"]}
        |},
        |"stores": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["s_id"]
        |}}""".stripMargin)
    Seq((1L, 100L, 10L), (2L, 250L, 11L), (3L, 75L, 10L),
        (4L, 30L, 99L)) // store 99 undeclared -> left join NULL -> dropped
      .toDF("sale_id", "amount", "store_id")
      .write.parquet(s"$src/sales")
    Seq((10L, "lima", "south"), (11L, "oslo", "north"))
      .toDF("s_id", "s_city", "s_region")
      .write.parquet(s"$src/stores")
    val ent = ConfigLoader.load(spark, src)
    val (runner, params) =
      mkRunner(src, store, "2024-04-01 00:00:00", catalog = "gjoin")
    runner.run(ent)
    val mart = spark.table(params.goldFqn("sales"))
    assert(mart.columns.toSeq ==
      Seq("sale_id", "amount", "store_id", "city", "region"))
    assert(mart.orderBy($"sale_id")
      .as[(Long, Long, Long, String, String)].collect().toSeq == Seq(
        (1L, 100L, 10L, "lima", "south"),
        (2L, 250L, 11L, "oslo", "north"),
        (3L, 75L, 10L, "lima", "south")))
    // the declared broadcast reached the plan: no shuffle on the fact
    // side for the dim join
    val g = ConfigLoader.load(spark, src)("sales").gold.get
    val plan = runner.buildGoldJoinFrame("sales",
      ConfigLoader.load(spark, src)("sales"), g)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // config validation: unknown entity, self-join, curation+join
    def loadCfg(json: String): Unit = {
      val bad = tmpDir("goldjoin-bad")
      Files.writeString(Path.of(bad, "dp_config_template.json"), json)
      ConfigLoader.load(spark, bad)
    }
    val unk = intercept[IllegalArgumentException] { loadCfg(
      """{"sales": {"raw_file_format": "parquet",
        |"unique_primary_key": ["sale_id"],
        |"gold": {"join": [{"entity": "nope", "on": "a = b"}]}}}"""
        .stripMargin) }
    assert(unk.getMessage.contains("not declared"))
    val self = intercept[IllegalArgumentException] { loadCfg(
      """{"sales": {"raw_file_format": "parquet",
        |"unique_primary_key": ["sale_id"],
        |"gold": {"join": [{"entity": "sales", "on": "a = b"}]}}}"""
        .stripMargin) }
    assert(self.getMessage.contains("itself"))
    val both = intercept[IllegalArgumentException] { loadCfg(
      """{"sales": {"raw_file_format": "parquet",
        |"unique_primary_key": ["sale_id"],
        |"gold": {"join": [{"entity": "stores", "on": "a = b"}],
        |         "curation": {"text_col": "t"}}},
        |"stores": {"raw_file_format": "parquet",
        |"unique_primary_key": ["s_id"]}}""".stripMargin) }
    assert(both.getMessage.contains("mutually exclusive"))
  }

  test("temporal gold mart (gold.join.temporal): facts join the SCD2 " +
      "dim version valid at event time e2e through bronze→silver→gold; " +
      "unchanged-attr rows merge; pre-history facts drop; broadcast " +
      "reaches the plan; guards reject latest-only " +
      "dim PKs, multi-term conditions, and non-inner types") {
    val src = tmpDir("goldscd2-src"); val store = tmpDir("goldscd2-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {
        |    "join": [
        |      {"entity": "prices", "on": "item_id = p_item",
        |       "broadcast": true,
        |       "temporal": {"fact_ts": "sold_ts", "dim_ts": "price_ts",
        |                    "tie_break": "change_id",
        |                    "attrs": ["price_cents"]}}],
        |    "select": ["sale_id", "item_id", "sold_ts", "price_cents",
        |               "valid_from"]}
        |},
        |"prices": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["change_id"]
        |}}""".stripMargin)
    // item 1 price history: 500 @100, 600 @200, 600 @300 (UNCHANGED —
    // must merge into the previous interval), 700 @400
    Seq((1L, 1L, 100L, 500L), (2L, 1L, 200L, 600L),
        (3L, 1L, 300L, 600L), (4L, 1L, 400L, 700L),
        (5L, 2L, 450L, 900L))
      .toDF("change_id", "p_item", "price_ts", "price_cents")
      .write.parquet(s"$src/prices")
    Seq((1L, 1L, 150L), (2L, 1L, 200L), (3L, 1L, 399L),
        (4L, 1L, 400L), (5L, 1L, 50L), // before first interval — drops
        (6L, 2L, 500L))
      .toDF("sale_id", "item_id", "sold_ts")
      .write.parquet(s"$src/sales")
    val ent = ConfigLoader.load(spark, src)
    val (runner, params) =
      mkRunner(src, store, "2024-04-01 00:00:00", catalog = "gscd2")
    runner.run(ent)
    val mart = spark.table(params.goldFqn("sales"))
    assert(mart.columns.toSeq ==
      Seq("sale_id", "item_id", "sold_ts", "price_cents", "valid_from"))
    assert(mart.orderBy($"sale_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq == Seq(
        (1L, 1L, 150L, 500L, 100L),   // inside [100, 200)
        (2L, 1L, 200L, 600L, 200L),   // valid_from boundary is inclusive
        (3L, 1L, 399L, 600L, 200L),   // the @300 no-op change merged away
        (4L, 1L, 400L, 700L, 400L),   // open current interval
        (6L, 2L, 500L, 900L, 450L))) // second key's own history
    // the declared broadcast reached the plan: equi-anchored hash join
    // with a residual range filter, never a nested loop
    val plan = runner.buildGoldJoinFrame("sales", ent("sales"),
        ent("sales").gold.get)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("NestedLoop"), plan.take(800))
    // guard: temporal joins admit inner/left only (at-most-one-interval
    // cardinality); right/full rejected, left accepted (r13)
    val outer = intercept[IllegalArgumentException] {
      graft.config.GoldJoin("prices", "a = b", joinType = "full",
        temporal = Some(graft.config.TemporalJoin(
          "sold_ts", "price_ts", "change_id", Seq("price_cents"))))
    }
    assert(outer.getMessage.contains("inner"))
    graft.config.GoldJoin("prices", "a = b", joinType = "left",
      temporal = Some(graft.config.TemporalJoin(
        "sold_ts", "price_ts", "change_id", Seq("price_cents"))))
    // LEFT temporal end-to-end: the pre-history fact (sale 5) survives
    // null-filled instead of dropping
    val leftMart = runner.buildGoldJoinFrame("sales", ent("sales"),
        ent("sales").gold.get.copy(join =
          ent("sales").gold.get.join.map(_.copy(joinType = "left"))))
      .select($"sale_id", $"price_cents")
      .as[(Long, Option[Long])].collect().toMap
    assert(leftMart(5L).isEmpty && leftMart(1L).contains(500L),
      s"left temporal mart wrong: $leftMart")
    // guard: a latest-only dim PK (history would not survive silver)
    val bad = tmpDir("goldscd2-bad")
    Files.writeString(Path.of(bad, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"join": [
        |    {"entity": "prices", "on": "item_id = p_item",
        |     "temporal": {"fact_ts": "sold_ts", "dim_ts": "price_ts",
        |                  "tie_break": "change_id",
        |                  "attrs": ["price_cents"]}}]}
        |},
        |"prices": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["p_item"]
        |}}""".stripMargin)
    val hist = intercept[IllegalArgumentException] {
      ConfigLoader.load(spark, bad)
    }
    assert(hist.getMessage.contains("change history"), hist.getMessage)
    // guard: a multi-term condition is not a temporal anchor
    val multi = intercept[IllegalArgumentException] {
      runner.buildGoldJoinFrame("sales", ent("sales"),
        ent("sales").gold.get.copy(join =
          ent("sales").gold.get.join.map(j =>
            j.copy(on = "item_id = p_item AND sale_id = change_id"))))
    }
    assert(multi.getMessage.contains("ONE equi term"), multi.getMessage)
  }

  test("incremental TEMPORAL mart (gold.mode incremental + " +
      "gold.join.temporal): fact-delta upserts + history-delta key " +
      "re-derivation equal the full recompute across three CDC batches " +
      "(new facts, a new open interval, a LATE-ARRIVING history row " +
      "splitting a closed interval, fact retraction); upserts are " +
      "O(changed keys' facts)") {
    def cfgJson(mode: String) = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "expect_all_or_drop": {"ts_ok": "sold_ts IS NOT NULL"},
      |  "gold": {"mode": "$mode",
      |    "join": [
      |      {"entity": "prices", "on": "item_id = p_item",
      |       "broadcast": true,
      |       "temporal": {"fact_ts": "sold_ts", "dim_ts": "price_ts",
      |                    "tie_break": "change_id",
      |                    "attrs": ["price_cents"]}}],
      |    "select": ["sale_id", "item_id", "sold_ts", "price_cents",
      |               "valid_from"]}
      |},
      |"prices": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["change_id"]
      |}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"tminc$tag-src")
      val store = tmpDir(s"tminc$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      // 30 facts over items 1/2/3 at times 150..730
      (0 until 30).map(i =>
        (i.toLong, 1L + (i % 3), 150L + i * 20L))
        .toDF("sale_id", "item_id", "sold_ts")
        .write.parquet(s"$src/sales")
      Seq((1L, 1L, 100L, 500L), (2L, 1L, 400L, 700L),
          (3L, 2L, 100L, 900L), (4L, 3L, 100L, 300L))
        .toDF("change_id", "p_item", "price_ts", "price_cents")
        .write.parquet(s"$src/prices")
      (src, store)
    }
    def batch2(src: String): Unit = {
      // new facts + a NEW OPEN INTERVAL for item 2 (price change at
      // 600): item-2 facts at/after 600 must re-derive
      Seq((100L, 2L, 650L), (101L, 1L, 90L)) // 101 precedes item-1
        .toDF("sale_id", "item_id", "sold_ts") // history -> dropout
        .write.mode("append").parquet(s"$src/sales")
      Seq((5L, 2L, 600L, 950L))
        .toDF("change_id", "p_item", "price_ts", "price_cents")
        .write.mode("append").parquet(s"$src/prices")
    }
    def batch3(src: String): Unit = {
      // a LATE-ARRIVING history row SPLITS item 1's closed first
      // interval ([100,400) -> [100,250)+[250,400)): every item-1 fact
      // in [250,400) must flip to the new version; plus a fact
      // retraction via the expectation gate
      Seq((6L, 1L, 250L, 550L))
        .toDF("change_id", "p_item", "price_ts", "price_cents")
        .write.mode("append").parquet(s"$src/prices")
      Seq((7L, 1L, null.asInstanceOf[java.lang.Long]))
        .toDF("sale_id", "item_id", "sold_ts")
        .write.mode("append").parquet(s"$src/sales")
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src))
    def mart(cat: String): Seq[(Long, Long, Long, Long, Long)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales"))
        .select($"sale_id", $"item_id", $"sold_ts", $"price_cents",
          $"valid_from")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    run(srcI, storeI, "tminci", "2024-05-01 00:00:00")
    run(srcF, storeF, "tmincf", "2024-05-01 00:00:00")
    val m1 = mart("tminci")
    assert(m1 == mart("tmincf"), "batch-1 temporal mart diverged")
    assert(m1.size == 30)
    batch2(srcI); batch2(srcF)
    run(srcI, storeI, "tminci", "2024-05-02 00:00:00")
    run(srcF, storeF, "tmincf", "2024-05-02 00:00:00")
    val m2 = mart("tminci")
    assert(m2 == mart("tmincf"), "batch-2 temporal mart diverged")
    assert(m2.exists(r => r._1 == 100L && r._4 == 950L),
      "new fact missed the new open interval")
    assert(!m2.exists(_._1 == 101L),
      "pre-history fact leaked into the mart")
    // interval re-anchor: item-2 facts at/after 600 now price 950
    assert(m2.filter(r => r._2 == 2L && r._3 >= 600L)
      .forall(_._4 == 950L), "item-2 facts missed the price change")
    batch3(srcI); batch3(srcF)
    val seq2 = maxRowSeq(storeI, "sales")
    run(srcI, storeI, "tminci", "2024-05-03 00:00:00")
    run(srcF, storeF, "tmincf", "2024-05-03 00:00:00")
    val m3 = mart("tminci")
    assert(m3 == mart("tmincf"), "batch-3 temporal mart diverged")
    // the late split re-anchored [250,400) facts to the 550 version
    assert(m3.filter(r => r._2 == 1L && r._3 >= 250L && r._3 < 400L)
      .forall(r => r._4 == 550L && r._5 == 250L),
      "late-arriving history split not re-derived")
    assert(!m3.exists(_._1 == 7L), "retracted fact survived")
    // O(changed keys' facts): batch 3 touched item 1 only — the rows
    // upserted by its micro-batches (seqs past run 2's) are bounded by
    // item-1 facts + the retraction tombstone + item 1's pre-history
    // dropout
    val stored = spark.read.option("mergeSchema", "true")
      .parquet(streamStore(storeI, "sales", "rows"))
    val batch3Rows = stored.filter($"_sj_seq" > seq2).count()
    val item1Facts = m3.count(_._2 == 1L)
    assert(batch3Rows <= item1Facts + 2,
      s"batch-3 upsert not O(changed keys' facts): $batch3Rows rows " +
        s"for $item1Facts item-1 facts")
  }

  test("incremental join mart (gold.mode incremental + gold.join): " +
      "fact-delta upserts + dim-delta re-derivation equal the full " +
      "recompute across three CDC batches (fact add/update/retraction, " +
      "dim attribute update, dim addition, dim retraction -> inner " +
      "dropout); upserts are O(batch)") {
    def cfgJson(mode: String) = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "expect_all_or_drop": {"amt_ok": "amount IS NOT NULL"},
      |  "gold": {"mode": "$mode",
      |    "join": [
      |      {"entity": "stores", "on": "store_id = s_id",
      |       "broadcast": true}],
      |    "select": ["sale_id", "amount", "store_id",
      |               "s_city AS city", "s_tier AS tier"]}
      |},
      |"stores": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["s_id"],
      |  "expect_all_or_drop": {"city_ok": "s_city IS NOT NULL"}
      |}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"martinc$tag-src")
      val store = tmpDir(s"martinc$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      // batch 1: 40 facts over stores 10/11/12; sale 4 points at the
      // not-yet-declared store 99 (inner join -> absent until batch 2
      // declares it)
      ((0 until 40).map(i =>
        (i.toLong, 100L + i, 10L + (i % 3))) :+ (4L, 104L, 99L))
        .toDF("sale_id", "amount", "store_id")
        .write.parquet(s"$src/sales")
      Seq((10L, "lima", "gold"), (11L, "oslo", "silver"),
          (12L, "pune", "bronze"))
        .toDF("s_id", "s_city", "s_tier")
        .write.parquet(s"$src/stores")
      (src, store)
    }
    def batch2(src: String): Unit = {
      Seq((100L, 900L, 10L),   // new fact
          (1L, 111L, 11L))     // fact update: moves store + amount
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
      Seq((11L, "oslo", "platinum"), // dim ATTRIBUTE update
          (99L, "reyk", "iron"))     // dim addition -> sale 4 appears
        .toDF("s_id", "s_city", "s_tier")
        .write.mode("append").parquet(s"$src/stores")
    }
    def batch3(src: String): Unit = {
      Seq((2L, null.asInstanceOf[java.lang.Long], 10L)) // fact retraction
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
      Seq((12L, null.asInstanceOf[String], "bronze")) // dim retraction
        .toDF("s_id", "s_city", "s_tier")              // -> inner dropouts
        .write.mode("append").parquet(s"$src/stores")
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src))
    def mart(cat: String): Seq[(Long, Long, Long, String, String)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales"))
        .select($"sale_id", $"amount", $"store_id", $"city", $"tier")
        .as[(Long, Long, Long, String, String)]
        .collect().sortBy(_._1).toSeq
    }

    run(srcI, storeI, "minci", "2024-05-01 00:00:00")
    run(srcF, storeF, "mincf", "2024-05-01 00:00:00")
    val seq1 = maxRowSeq(storeI, "sales")
    val m1 = mart("minci")
    assert(m1 == mart("mincf"), "batch-1 mart diverged from full")
    assert(!m1.exists(_._1 == 4L), "store-99 fact leaked before declared")

    batch2(srcI); batch2(srcF)
    run(srcI, storeI, "minci", "2024-05-02 00:00:00")
    run(srcF, storeF, "mincf", "2024-05-02 00:00:00")
    val m2 = mart("minci")
    assert(m2 == mart("mincf"), "batch-2 mart diverged from full")
    assert(m2.find(_._1 == 1L).exists(r => r._2 == 111L && r._4 == "oslo"),
      "fact update not applied")
    assert(m2.filter(_._5 == "platinum").nonEmpty &&
      m2.filter(_._3 == 11L).forall(_._5 == "platinum"),
      "dim attribute update did not reach existing mart rows")
    assert(m2.find(_._1 == 4L).exists(_._4 == "reyk"),
      "dim addition did not surface the waiting fact")

    batch3(srcI); batch3(srcF)
    val seq2 = maxRowSeq(storeI, "sales")
    run(srcI, storeI, "minci", "2024-05-03 00:00:00")
    run(srcF, storeF, "mincf", "2024-05-03 00:00:00")
    val m3 = mart("minci")
    assert(m3 == mart("mincf"), "batch-3 mart diverged from full")
    assert(!m3.exists(_._1 == 2L), "fact retraction survived")
    assert(!m3.exists(_._3 == 12L),
      "dim retraction left inner-join rows behind")
    // O(batch): upsert ROWS per run (parquet framing dominates bytes at
    // this scale), split at the run boundaries' max micro-batch seq.
    // Batch 1 derived all 41 facts; batch 3 touched only the retracted
    // fact's row + store-12's fan-out (tombstones included), a fraction
    // of the initial build
    val stored = spark.read.option("mergeSchema", "true")
      .parquet(streamStore(storeI, "sales", "rows"))
    val build = stored.filter($"_sj_seq" <= seq1).count()
    val b3 = stored.filter($"_sj_seq" > seq2).count()
    assert(build >= 40L, s"batch-1 build rows: $build")
    assert(b3 > 0L && b3 <= build / 2,
      s"mart upsert not O(batch): batch-3 rows $b3 vs build $build")
  }

  test("incremental join mart over a VACUUMED consumed version (zero " +
      "retention): the stream state rebuilds loud from the live " +
      "versions and the mart still equals the full recompute") {
    def cfgJson(mode: String) = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "gold": {"mode": "$mode",
      |    "join": [{"entity": "stores", "on": "store_id = s_id",
      |              "broadcast": true}],
      |    "select": ["sale_id", "amount", "s_city AS city"]}
      |},
      |"stores": {"raw_file_format": "parquet",
      |           "unique_primary_key": ["s_id"]}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"martvac$tag-src")
      val store = tmpDir(s"martvac$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      (0 until 12).map(i => (i.toLong, 100L + i, 10L + (i % 2)))
        .toDF("sale_id", "amount", "store_id").write.parquet(s"$src/sales")
      Seq((10L, "lima"), (11L, "oslo")).toDF("s_id", "s_city")
        .write.parquet(s"$src/stores")
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    // zero retention: every publish vacuums the version it superseded,
    // so the version each feed last consumed is gone by the gold phase
    def run(src: String, store: String, cat: String, clock: String)
        : PipelineRunner = {
      val r = new PipelineRunner(spark, PipelineParams(sourceLocation = src,
        catalogName = cat, fixedIngestedAt = Some(Timestamp.valueOf(clock)),
        republishUnchanged = true,
        deletedFileRetention = "interval 0 seconds"), store)
      r.run(ConfigLoader.load(spark, src))
      r
    }
    def mart(cat: String): Seq[(Long, Long, String)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales"))
        .select($"sale_id", $"amount", $"city")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    }
    run(srcI, storeI, "martvaci", "2024-05-01 00:00:00")
    run(srcF, storeF, "martvacf", "2024-05-01 00:00:00")
    assert(mart("martvaci") == mart("martvacf"), "batch-1 mart diverged")
    for (b <- 2 to 3) {
      for (src <- Seq(srcI, srcF)) {
        Seq((b.toLong, 900L + b, 11L), (100L + b, 50L, 10L))
          .toDF("sale_id", "amount", "store_id")
          .write.mode("append").parquet(s"$src/sales")
        Seq((11L, s"city$b")).toDF("s_id", "s_city")
          .write.mode("append").parquet(s"$src/stores")
      }
      val r = run(srcI, storeI, "martvaci", s"2024-05-0$b 00:00:00")
      run(srcF, storeF, "martvacf", s"2024-05-0$b 00:00:00")
      // the precondition held: only the live versions are on disk
      assert(r.tableVersions("sales").map(_.version) ==
        r.tableVersions("sales").filter(_.live).map(_.version),
        "the consumed silver version was not vacuumed")
      val m = mart("martvaci")
      assert(m == mart("martvacf"), s"batch-$b mart diverged")
      assert(m.filter(_._1 < 100L).exists(_._3 == s"city$b"),
        s"batch-$b dim update missing")
    }
  }

  test("incremental aggregate mart (gold.mode incremental + " +
      "gold.aggregate): signed-delta partials equal the full recompute " +
      "across CDC batches (insert, update, group move, retraction " +
      "emptying a group); partials are O(delta); compaction invariant") {
    def cfgJson(mode: String) = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "expect_all_or_drop": {"amt_ok": "amount IS NOT NULL"},
      |  "gold": {"mode": "$mode",
      |    "aggregate": {"group_by": ["store_id"],
      |      "aggs": [
      |        {"op": "count", "as": "n_sales"},
      |        {"op": "sum_x1e6", "expr": "amount * 1.5",
      |         "as": "rev_x1e6"}]}}
      |}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"agginc$tag-src")
      val store = tmpDir(s"agginc$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      // fractional amounts exercise the per-row micro floors; store 13
      // gets exactly one sale so a later retraction EMPTIES the group
      ((0 until 30).map(i =>
        (i.toLong, java.lang.Double.valueOf(i + 0.25),
          10L + (i % 3))) :+
        (50L, java.lang.Double.valueOf(7.77), 13L))
        .toDF("sale_id", "amount", "store_id")
        .write.parquet(s"$src/sales")
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src))
    def mart(cat: String): Seq[(Long, Long, Long)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales"))
        .select($"store_id", $"n_sales", $"rev_x1e6")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    run(srcI, storeI, "aggi", "2024-06-01 00:00:00")
    run(srcF, storeF, "aggf", "2024-06-01 00:00:00")
    val m1 = mart("aggi")
    assert(m1 == mart("aggf"), "batch-1 mart diverged from full")
    assert(m1.map(_._1) == Seq(10L, 11L, 12L, 13L))
    // batch 2: new fact, in-group amount update, cross-group move
    // (sale 2 was born in store 12 — batch 2 moves it to store 10)
    def batch2(src: String): Unit =
      Seq((100L, java.lang.Double.valueOf(900.5), 10L), // insert
          (1L, java.lang.Double.valueOf(111.0), 11L),   // update in group
          (2L, java.lang.Double.valueOf(2.25), 10L))    // move 12 -> 10
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
    batch2(srcI); batch2(srcF)
    run(srcI, storeI, "aggi", "2024-06-02 00:00:00")
    run(srcF, storeF, "aggf", "2024-06-02 00:00:00")
    assert(mart("aggi") == mart("aggf"), "batch-2 mart diverged from full")
    // O(delta): the batch-2 partial touches ≤ 4 groups, not all rows.
    // The stream store's partials live in generation subdirs (g0, g1,
    // …) named by their _gen marker — compaction commits a fresh
    // generation before dropping the old one (crash-safe swap, never
    // an in-place overwrite).
    val partialsBase = s"$storeI/gold_stream/sales/store/agg_partials"
    def liveGenDir(): java.io.File =
      new java.io.File(streamStore(storeI, "sales", "agg_partials"))
    val files = liveGenDir().listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
    assert(files.length == 2, s"expected 2 batch partials: ${files.toSeq}")
    val b2rows = spark.read.parquet(files.last.getPath).count()
    assert(b2rows <= 4, s"batch-2 partial not O(delta): $b2rows rows")
    // batch 3: retract store 13's only sale -> the group must VANISH
    def batch3(src: String): Unit =
      Seq((50L, null.asInstanceOf[java.lang.Double], 13L))
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
    batch3(srcI); batch3(srcF)
    run(srcI, storeI, "aggi", "2024-06-03 00:00:00")
    run(srcF, storeF, "aggf", "2024-06-03 00:00:00")
    val m3 = mart("aggi")
    assert(m3 == mart("aggf"), "batch-3 mart diverged from full")
    assert(!m3.exists(_._1 == 13L), "emptied group survived retraction")
    // EMPTY-DELTA fast path: an idle republish (silver version advances,
    // zero changed rows under the signature diff) appends NO partial
    // batch — the store file count is unchanged, only the consumed
    // marker moves, and the published mart is untouched. (Before r15 an
    // idle run appended a 0-row partial purely to ride the compaction
    // batch counter.)
    val idleBefore = liveGenDir().listFiles()
      .count(_.getName.endsWith(".parquet"))
    run(srcI, storeI, "aggi", "2024-06-04 00:00:00")
    assert(liveGenDir().listFiles().count(_.getName.endsWith(".parquet"))
      == idleBefore, "idle republish appended a partial batch")
    assert(mart("aggi") == m3, "idle republish changed the mart")
    // compaction: REAL single-row update batches accumulate until the
    // 16-file threshold triggers the re-sum rewrite (the first one is
    // due at once: no size baseline yet) — the store stays bounded at
    // the threshold and the published mart is invariant under the
    // rewrite. Plant
    // root-level bystanders the sweep must NOT delete: a FILE named
    // like a generation and a DIRECTORY named bare "g" (the sweep may
    // only remove g<digits> DIRECTORIES this store minted)
    Files.writeString(Path.of(partialsBase, "g999"), "not a generation")
    Files.createDirectories(Path.of(partialsBase, "g"))
    (5 to 19).foreach { d =>
      def bump(src: String): Unit =
        Seq((1L, java.lang.Double.valueOf(100.0 + d), 11L))
          .toDF("sale_id", "amount", "store_id")
          .write.mode("append").parquet(s"$src/sales")
      bump(srcI); bump(srcF)
      run(srcI, storeI, "aggi", f"2024-06-$d%02d 00:00:00")
      run(srcF, storeF, "aggf", f"2024-06-$d%02d 00:00:00")
    }
    assert(Files.isRegularFile(Path.of(partialsBase, "g999")) &&
      Files.isDirectory(Path.of(partialsBase, "g")),
      "compaction sweep deleted a non-generation bystander path")
    Files.delete(Path.of(partialsBase, "g999"))
    Files.delete(Path.of(partialsBase, "g"))
    val after = liveGenDir().listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after <= 16, s"store not bounded at the threshold: $after files")
    // 18 one-file appends: the 17th folds all 17 into one re-summed
    // run, the 18th appends beside it in the new generation
    assert(after == 2, s"expected one rewritten run + 1 append: $after")
    // the swap repointed the marker to a NEW generation and dropped the
    // superseded one — exactly one generation dir survives
    assert(liveGenDir().getName != "g0", "compaction did not advance " +
      "the generation marker")
    val gens = new java.io.File(partialsBase).listFiles()
      .filter(_.getName.startsWith("g")).map(_.getName).toSeq
    assert(gens == Seq(liveGenDir().getName),
      s"superseded generations not swept: $gens")
    assert(mart("aggi") == mart("aggf"),
      "compaction-era mart diverged from the full recompute")
  }

  test("incremental aggregate mart over INCREMENTAL silver: the " +
      "merge-time change feed keeps it equal to the full recompute " +
      "across CDC batches; aggregate+join config is rejected") {
    def cfgJson(mode: String) = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "silver_mode": "incremental", "silver_buckets": 4,
      |  "expect_all_or_drop": {"amt_ok": "amount IS NOT NULL"},
      |  "gold": {"mode": "$mode",
      |    "aggregate": {"group_by": ["store_id"],
      |      "aggs": [{"op": "count", "as": "n"},
      |               {"op": "sum_x1e6", "expr": "amount", "as": "amt"}]}}
      |}}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"aggis$tag-src"); val store = tmpDir(s"aggis$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      (0 until 20).map(i =>
        (i.toLong, java.lang.Double.valueOf(i + 0.5), 10L + (i % 3)))
        .toDF("sale_id", "amount", "store_id").write.parquet(s"$src/sales")
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src))
    def mart(cat: String): Seq[(Long, Long, Long)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales")).select($"store_id", $"n", $"amt")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    run(srcI, storeI, "aggisi", "2024-06-01 00:00:00")
    run(srcF, storeF, "aggisf", "2024-06-01 00:00:00")
    assert(mart("aggisi") == mart("aggisf"), "batch-1 mart diverged")
    // batch 2: insert, in-group update, cross-group move, retraction
    // (store 13 appears; sale 3's retraction leaves its group smaller)
    for (src <- Seq(srcI, srcF))
      Seq((100L, java.lang.Double.valueOf(9.25), 13L),
          (1L, java.lang.Double.valueOf(111.0), 11L),
          (2L, java.lang.Double.valueOf(2.25), 10L),
          (3L, null.asInstanceOf[java.lang.Double], 10L))
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
    run(srcI, storeI, "aggisi", "2024-06-02 00:00:00")
    run(srcF, storeF, "aggisf", "2024-06-02 00:00:00")
    val m2 = mart("aggisi")
    assert(m2 == mart("aggisf"), "batch-2 mart diverged")
    assert(m2.exists(_._1 == 13L), "new group missing")
    // batch 3: retract store 13's only sale -> the group must VANISH
    for (src <- Seq(srcI, srcF))
      Seq((100L, null.asInstanceOf[java.lang.Double], 13L))
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
    run(srcI, storeI, "aggisi", "2024-06-03 00:00:00")
    run(srcF, storeF, "aggisf", "2024-06-03 00:00:00")
    val m3 = mart("aggisi")
    assert(m3 == mart("aggisf"), "batch-3 mart diverged")
    assert(!m3.exists(_._1 == 13L), "emptied group survived retraction")
    // the mart consumed the merge-time CDF through the stream store,
    // and the runner vacuumed every CDF batch it drained
    assert(new java.io.File(s"$storeI/gold_stream/sales/feed_sales/_consumed")
      .exists(), "incremental mart did not run on the stream store")
    val cdf = new java.io.File(s"$storeI/silver/sales/_cdf")
    assert(cdf.exists() && !cdf.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("b")),
      s"drained CDF batches not vacuumed: ${cdf.listFiles().toSeq}")
    val cfgBoom = intercept[IllegalArgumentException] {
      graft.config.GoldConfig(
        join = Seq(graft.config.GoldJoin("x", "a = b")),
        aggregate = Some(graft.config.GoldAggregate(Seq("g"),
          Seq(graft.config.GoldAgg("count", as = "n")))))
    }
    assert(cfgBoom.getMessage.contains("mutually exclusive"))
  }

  test("incremental join mart guards: snowflake chains fail loud") {
    val src = tmpDir("martg-src"); val store = tmpDir("martg-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"mode": "incremental",
        |    "join": [
        |      {"entity": "stores", "on": "store_id = s_id"},
        |      {"entity": "regions", "on": "s_region_id = r_id"}]}
        |},
        |"stores": {"raw_file_format": "parquet",
        |           "unique_primary_key": ["s_id"]},
        |"regions": {"raw_file_format": "parquet",
        |            "unique_primary_key": ["r_id"]}}""".stripMargin)
    Seq((1L, 10L)).toDF("sale_id", "store_id").write.parquet(s"$src/sales")
    Seq((10L, 5L)).toDF("s_id", "s_region_id")
      .write.parquet(s"$src/stores")
    Seq((5L, "south")).toDF("r_id", "r_name")
      .write.parquet(s"$src/regions")
    val boom = intercept[IllegalArgumentException] {
      mkRunner(src, store, "2024-05-01 00:00:00", catalog = "martg")._1
        .run(ConfigLoader.load(spark, src))
    }
    assert(boom.getMessage.contains("STAR-only"), boom.getMessage)
  }

  test("incremental join mart guards: a dim NOT unique on its join " +
      "keys (1:N fan-out) fails loud") {
    // the dim is PK-unique (s_id) but joined on a NON-unique column
    // (s_cat) — the fact-PK-keyed row store would silently keep one
    // survivor of each fan-out, diverging from the full recompute
    val src = tmpDir("martu-src"); val store = tmpDir("martu-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"mode": "incremental",
        |    "join": [{"entity": "stores", "on": "category = s_cat"}]}
        |},
        |"stores": {"raw_file_format": "parquet",
        |           "unique_primary_key": ["s_id"]}}""".stripMargin)
    Seq((1L, "x")).toDF("sale_id", "category")
      .write.parquet(s"$src/sales")
    Seq((10L, "x", "a"), (11L, "x", "b")).toDF("s_id", "s_cat", "s_name")
      .write.parquet(s"$src/stores")
    val boom = intercept[IllegalArgumentException] {
      mkRunner(src, store, "2024-05-01 00:00:00", catalog = "martu")._1
        .run(ConfigLoader.load(spark, src))
    }
    assert(boom.getMessage.contains("NOT unique"), boom.getMessage)
    assert(boom.getMessage.contains("s_cat"), boom.getMessage)
  }

  test("incremental gold suffix state: LSH layout change fails loud and " +
      "names the remedy; full refresh rebuilds it") {
    val src = tmpDir("goldlay-src"); val store = tmpDir("goldlay-store")
    def cfgJson(bands: Int) = s"""{"docs": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["doc_id"],
      |  "gold": {"mode": "incremental",
      |    "curation": {"id_col": "doc_id", "text_col": "text",
      |                 "min_quality": 0.0, "max_repetition": 1.0,
      |                 "minhash_bands": $bands}}
      |}}""".stripMargin
    Files.writeString(Path.of(src, "dp_config_template.json"), cfgJson(16))
    (0 until 20).map(i => (i.toLong, s"alpha bravo charlie doc$i delta"))
      .toDF("doc_id", "text").write.parquet(s"$src/docs")
    val cat = "goldlay"
    def runWith(bands: Int, fullRefresh: Boolean = false): Unit = {
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(bands))
      val ent = ConfigLoader.load(spark, src)
      mkRunner(src, store, "2024-03-01 00:00:00", catalog = cat)._1
        .run(ent, fullRefresh = fullRefresh)
    }
    runWith(16)
    val boom = intercept[IllegalArgumentException] { runWith(8) }
    assert(boom.getMessage.contains("full refresh") &&
      boom.getMessage.contains("bands=16"), boom.getMessage)
    runWith(8, fullRefresh = true) // rebuilds the suffix state cleanly
    val p = PipelineParams(sourceLocation = "", catalogName = cat)
    assert(spark.table(p.goldFqn("docs")).count() == 20)
  }

  test("chained gold mart (gold.join layer 'gold'): fact mart reads the " +
      "dim's published gold in dependency order; missing-gold dim, " +
      "cycles, and incremental chaining fail loud") {
    val src = tmpDir("gchain-src"); val store = tmpDir("gchain-store")
    def write(cfg: String): Unit =
      Files.writeString(Path.of(src, "dp_config_template.json"), cfg)
    // fact: sales -> stores' GOLD (which itself joined regions)
    write("""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "gold": {"join": [
      |      {"entity": "stores", "on": "store_id = s_id",
      |       "broadcast": true, "layer": "gold"}],
      |    "select": ["sale_id", "amount", "city", "region"]}
      |},
      |"stores": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["s_id"],
      |  "gold": {"join": [
      |      {"entity": "regions", "on": "s_region_id = r_id",
      |       "broadcast": true}],
      |    "select": ["s_id", "s_city AS city", "r_name AS region"]}
      |},
      |"regions": {"raw_file_format": "parquet",
      |            "unique_primary_key": ["r_id"]}
      |}""".stripMargin)
    Seq((1L, 100L, 10L), (2L, 200L, 11L), (3L, 300L, 10L))
      .toDF("sale_id", "amount", "store_id").write.parquet(s"$src/sales")
    Seq((10L, "lima", 1L), (11L, "oslo", 2L))
      .toDF("s_id", "s_city", "s_region_id").write.parquet(s"$src/stores")
    Seq((1L, "south"), (2L, "north"))
      .toDF("r_id", "r_name").write.parquet(s"$src/regions")
    val cat = "gchain"
    // concurrency=3: the DAG waves must still order stores' gold
    // publish before sales' gold read
    mkRunner(src, store, "2024-08-01 00:00:00", catalog = cat)._1
      .run(ConfigLoader.load(spark, src), concurrency = 3)
    val p = PipelineParams(sourceLocation = "", catalogName = cat)
    val m = spark.table(p.goldFqn("sales"))
      .select($"sale_id", $"amount", $"city", $"region")
      .as[(Long, Long, String, String)].collect().sortBy(_._1).toSeq
    assert(m == Seq((1L, 100L, "lima", "south"),
      (2L, 200L, "oslo", "north"), (3L, 300L, "lima", "south")))

    // layer-gold dim without a gold section fails loud at the gold phase
    val src2 = tmpDir("gchain2-src"); val store2 = tmpDir("gchain2-store")
    Files.writeString(Path.of(src2, "dp_config_template.json"),
      """{"sales": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["sale_id"],
        |  "gold": {"join": [
        |      {"entity": "stores", "on": "store_id = s_id",
        |       "layer": "gold"}],
        |    "select": ["sale_id"]}
        |},
        |"stores": {"raw_file_format": "parquet",
        |           "unique_primary_key": ["s_id"]}
        |}""".stripMargin)
    Seq((1L, 10L)).toDF("sale_id", "store_id")
      .write.parquet(s"$src2/sales")
    Seq((10L, "lima")).toDF("s_id", "s_city")
      .write.parquet(s"$src2/stores")
    val noGold = intercept[IllegalArgumentException] {
      mkRunner(src2, store2, "2024-08-01 00:00:00", catalog = "gchain2")
        ._1.run(ConfigLoader.load(spark, src2))
    }
    assert(noGold.getMessage.contains("no gold section"),
      noGold.getMessage)

    // mutual layer-gold references form a cycle: fail loud, remedy named
    val src3 = tmpDir("gchain3-src"); val store3 = tmpDir("gchain3-store")
    Files.writeString(Path.of(src3, "dp_config_template.json"),
      """{"a": {
        |  "raw_file_format": "parquet", "unique_primary_key": ["x"],
        |  "gold": {"join": [{"entity": "b", "on": "y = yy",
        |    "layer": "gold"}], "select": ["x"]}
        |},
        |"b": {
        |  "raw_file_format": "parquet", "unique_primary_key": ["yy"],
        |  "gold": {"join": [{"entity": "a", "on": "yy = y",
        |    "layer": "gold"}], "select": ["yy"]}
        |}}""".stripMargin)
    Seq((1L, 2L)).toDF("x", "y").write.parquet(s"$src3/a")
    Seq((2L, 1L)).toDF("yy", "y2").write.parquet(s"$src3/b")
    val cyc = intercept[IllegalArgumentException] {
      mkRunner(src3, store3, "2024-08-01 00:00:00", catalog = "gchain3")
        ._1.run(ConfigLoader.load(spark, src3))
    }
    assert(cyc.getMessage.contains("cycle"), cyc.getMessage)

  }

  test("chained INCREMENTAL mart (layer 'gold' dim): dim-gold diffs " +
      "drive fact re-derivation through the chain, equals the full " +
      "recompute over 3 CDC batches, unchanged dim republish is an " +
      "empty delta") {
    def cfgJson(mode: String): String = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "expect_all_or_drop": {"amt_ok": "amount IS NOT NULL"},
      |  "gold": {"mode": "$mode", "join": [
      |      {"entity": "stores", "on": "store_id = s_id",
      |       "broadcast": true, "layer": "gold"}],
      |    "select": ["sale_id", "amount", "store_id", "city", "region"]}
      |},
      |"stores": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["s_id"],
      |  "gold": {"join": [
      |      {"entity": "regions", "on": "s_region_id = r_id",
      |       "broadcast": true}],
      |    "select": ["s_id", "s_city AS city", "r_name AS region"]}
      |},
      |"regions": {"raw_file_format": "parquet",
      |            "unique_primary_key": ["r_id"]}
      |}""".stripMargin
    def setup(mode: String, tag: String): (String, String) = {
      val src = tmpDir(s"gchi$tag-src"); val store = tmpDir(s"gchi$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode))
      (0 until 20).map(i => (i.toLong, 100L + i, 10L + (i % 2)))
        .toDF("sale_id", "amount", "store_id").write.parquet(s"$src/sales")
      Seq((10L, "lima", 1L), (11L, "oslo", 2L))
        .toDF("s_id", "s_city", "s_region_id")
        .write.parquet(s"$src/stores")
      Seq((1L, "south"), (2L, "north"))
        .toDF("r_id", "r_name").write.parquet(s"$src/regions")
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", "i")
    val (srcF, storeF) = setup("full", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src), concurrency = 3)
    def mart(cat: String): Seq[(Long, Long, Long, String, String)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales"))
        .select($"sale_id", $"amount", $"store_id", $"city", $"region")
        .as[(Long, Long, Long, String, String)]
        .collect().sortBy(_._1).toSeq
    }
    run(srcI, storeI, "gchii", "2024-09-01 00:00:00")
    run(srcF, storeF, "gchif", "2024-09-01 00:00:00")
    assert(mart("gchii") == mart("gchif"), "batch 1 diverged")

    // batch 2: fact update wave + a REGION rename that flows through
    // the dim's gold (stores' gold re-derives, its version diff is the
    // renamed rows, and the chained mart must re-derive exactly the
    // facts of the affected store)
    for (src <- Seq(srcI, srcF)) {
      Seq((0L, 900L, 10L)).toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
      Seq((2L, "boreal")).toDF("r_id", "r_name")
        .write.mode("append").parquet(s"$src/regions")
    }
    run(srcI, storeI, "gchii", "2024-09-02 00:00:00")
    run(srcF, storeF, "gchif", "2024-09-02 00:00:00")
    val m2 = mart("gchii")
    assert(m2 == mart("gchif"), "batch 2 diverged")
    assert(m2.find(_._1 == 0L).exists(_._2 == 900L), "fact update lost")
    assert(m2.filter(_._3 == 11L).forall(_._5 == "boreal"),
      "region rename did not flow through the chained dim gold")

    // batch 3: nothing changes for the chain (a fact-only retraction);
    // the dim's gold republishes identical content, whose version diff
    // must be EMPTY (content-based) — the mart stays twin-equal
    for (src <- Seq(srcI, srcF))
      Seq((5L, null.asInstanceOf[java.lang.Long], 10L))
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
    run(srcI, storeI, "gchii", "2024-09-03 00:00:00")
    run(srcF, storeF, "gchif", "2024-09-03 00:00:00")
    val m3 = mart("gchii")
    assert(m3 == mart("gchif"), "batch 3 diverged")
    assert(!m3.exists(_._1 == 5L), "fact retraction survived")
  }

  test("gold-state compaction (gold.compact_after): prefix/band/edge " +
      "stores rewrite to keep-latest survivors via generation swap, " +
      "results stay twin-equal to full mode, and a flattened legacy " +
      "store migrates into g0 and keeps working") {
    // compact_after=1 forces a compaction on every run past the first:
    // the spec exercises trigger, rewrite invariance, stale-generation
    // sweep, and the legacy flat-layout migration in one CDC history
    def cfgJson(mode: String, extra: String) = s"""{"docs": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["doc_id"],
      |  "expect_all_or_drop": {"text_ok": "text IS NOT NULL"},
      |  "gold": {"mode": "$mode",$extra
      |    "curation": {"id_col": "doc_id", "text_col": "text",
      |                 "min_quality": 0.0, "max_repetition": 1.0,
      |                 "near_dup_jaccard": 0.8}}
      |}}""".stripMargin
    val vocab = (0 until 200).map(i => s"tok$i")
    def text(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 40).map(_ => vocab(r.nextInt(200))).mkString(" ")
    }
    def setup(mode: String, extra: String, tag: String): (String, String) = {
      val src = tmpDir(s"gcmp$tag-src"); val store = tmpDir(s"gcmp$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode, extra))
      // one planted near-dup pair so the edge store is non-trivial
      ((0 until 30).map(i => (i.toLong, text(i))) :+
        (101L, text(1) + " tail"))
        .toDF("doc_id", "text").write.parquet(s"$src/docs")
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", """ "compact_after": 1,""", "i")
    val (srcF, storeF) = setup("full", "", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src))
    def gold(cat: String): Seq[(Long, String)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("docs")).select($"doc_id", $"text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
    }
    val prefixRoot = s"$storeI/gold_prefix/docs"
    val bandsRoot = s"$storeI/gold_suffix/docs/bands"
    val edgesRoot = s"$storeI/gold_suffix/docs/edges"
    def gen(root: String): Long = {
      val m = Path.of(root, "_gen")
      if (Files.exists(m)) Files.readString(m).trim.toLong else 0L
    }

    run(srcI, storeI, "gcmpi", "2024-06-01 00:00:00")
    run(srcF, storeF, "gcmpf", "2024-06-01 00:00:00")
    assert(gold("gcmpi") == gold("gcmpf"), "batch 1 diverged")
    val ids1 = gold("gcmpi").map(_._1).toSet
    assert(ids1.contains(1L) && !ids1.contains(101L),
      "planted near-dup pair not resolved in batch 1")

    // batch 2: update 10 docs (superseding versions the compaction must
    // reap) + add one
    ((0 until 10).map(i => (i.toLong, text(500 + i))) :+ (200L, text(600)))
      .toDF("doc_id", "text").write.mode("append").parquet(s"$srcI/docs")
    ((0 until 10).map(i => (i.toLong, text(500 + i))) :+ (200L, text(600)))
      .toDF("doc_id", "text").write.mode("append").parquet(s"$srcF/docs")
    run(srcI, storeI, "gcmpi", "2024-06-02 00:00:00")
    run(srcF, storeF, "gcmpf", "2024-06-02 00:00:00")
    assert(gold("gcmpi") == gold("gcmpf"), "batch 2 diverged")
    assert(gen(prefixRoot) >= 1L, "prefix store never compacted")
    assert(gen(bandsRoot) >= 1L, "band store never compacted")
    assert(gen(edgesRoot) >= 1L, "edge store never compacted")
    // keep-latest survivors only: one prefix row per doc (the 10
    // superseded versions are gone), one band-row version per doc
    val prefixRows = spark.read.parquet(liveGen(prefixRoot))
    assert(prefixRows.count() == prefixRows.select("doc_id").distinct()
      .count(), "prefix store kept superseded versions past compaction")
    val bandVers = spark.read.parquet(liveGen(bandsRoot))
      .select($"id", $"_ingested_at").distinct()
      .groupBy($"id").count().filter($"count" > 1).count()
    assert(bandVers == 0L, "band store kept superseded versions")
    // stale generations swept: only the live gen dir remains
    val prefixGens = new java.io.File(prefixRoot).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("g\\d+")).toSeq
    assert(prefixGens.map(_.getName) == Seq(s"g${gen(prefixRoot)}"),
      s"stale prefix generations not swept: $prefixGens")

    // legacy-layout migration: flatten all three stores back to the
    // pre-generation layout (part files at root, no _gen marker), then
    // run batch 3 — migrateLegacy must absorb them into g0 and the
    // published gold must still equal full mode
    for (root <- Seq(prefixRoot, bandsRoot, edgesRoot)) {
      val live = Path.of(liveGen(root))
      Files.list(live).forEach { f =>
        val n = f.getFileName.toString
        if (n.startsWith("part-") && n.endsWith(".parquet"))
          Files.move(f, Path.of(root, n))
      }
      new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.matches("g\\d+"))
        .foreach(d => { d.listFiles().foreach(_.delete()); d.delete() })
      Files.deleteIfExists(Path.of(root, "_gen"))
    }
    Seq((5L, text(700)), (300L, text(701)))
      .toDF("doc_id", "text").write.mode("append").parquet(s"$srcI/docs")
    Seq((5L, text(700)), (300L, text(701)))
      .toDF("doc_id", "text").write.mode("append").parquet(s"$srcF/docs")
    run(srcI, storeI, "gcmpi", "2024-06-03 00:00:00")
    run(srcF, storeF, "gcmpf", "2024-06-03 00:00:00")
    assert(gold("gcmpi") == gold("gcmpf"),
      "batch 3 after legacy flatten diverged")
    // batch 2 UPDATED doc 1's text, dissolving the planted pair: the
    // stale edge died with its superseded version (and the compacted
    // edge store must agree with full mode about it) — both docs are
    // live now
    val ids = gold("gcmpi").map(_._1).toSet
    assert(ids.contains(1L) && ids.contains(101L),
      "stale near-dup edge outlived its superseded version")
  }

  test("mart row-store compaction (gold.compact_after): keep-latest " +
      "rewrite via generation swap, publish stays twin-equal to full " +
      "recompute, store is bounded by one row per fact PK") {
    def cfgJson(mode: String, extra: String) = s"""{"sales": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["sale_id"],
      |  "expect_all_or_drop": {"amt_ok": "amount IS NOT NULL"},
      |  "gold": {"mode": "$mode",$extra
      |    "join": [
      |      {"entity": "stores", "on": "store_id = s_id",
      |       "broadcast": true}],
      |    "select": ["sale_id", "amount", "store_id", "s_city AS city"]}
      |},
      |"stores": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["s_id"]
      |}}""".stripMargin
    def setup(mode: String, extra: String, tag: String): (String, String) = {
      val src = tmpDir(s"mcmp$tag-src"); val store = tmpDir(s"mcmp$tag-store")
      Files.writeString(Path.of(src, "dp_config_template.json"),
        cfgJson(mode, extra))
      (0 until 30).map(i => (i.toLong, 100L + i, 10L + (i % 3)))
        .toDF("sale_id", "amount", "store_id").write.parquet(s"$src/sales")
      Seq((10L, "lima"), (11L, "oslo"), (12L, "pune"))
        .toDF("s_id", "s_city").write.parquet(s"$src/stores")
      (src, store)
    }
    val (srcI, storeI) = setup("incremental", """ "compact_after": 1,""", "i")
    val (srcF, storeF) = setup("full", "", "f")
    def run(src: String, store: String, cat: String, clock: String): Unit =
      mkRunner(src, store, clock, catalog = cat, republish = true)._1
        .run(ConfigLoader.load(spark, src))
    def mart(cat: String): Seq[(Long, Long, Long, String)] = {
      val p = PipelineParams(sourceLocation = "", catalogName = cat)
      spark.table(p.goldFqn("sales"))
        .select($"sale_id", $"amount", $"store_id", $"city")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    }
    run(srcI, storeI, "mcmpi", "2024-06-01 00:00:00")
    run(srcF, storeF, "mcmpf", "2024-06-01 00:00:00")
    assert(mart("mcmpi") == mart("mcmpf"), "batch 1 diverged")
    // batch 2: update 8 facts + retract one (tombstone) + dim change
    for (src <- Seq(srcI, srcF)) {
      ((0 until 8).map(i =>
        (i.toLong, java.lang.Long.valueOf(900L + i), 10L + (i % 3))) :+
        ((20L, null.asInstanceOf[java.lang.Long], 11L)))
        .toDF("sale_id", "amount", "store_id")
        .write.mode("append").parquet(s"$src/sales")
      Seq((11L, "bern")).toDF("s_id", "s_city")
        .write.mode("append").parquet(s"$src/stores")
    }
    run(srcI, storeI, "mcmpi", "2024-06-02 00:00:00")
    run(srcF, storeF, "mcmpf", "2024-06-02 00:00:00")
    val m2 = mart("mcmpi")
    assert(m2 == mart("mcmpf"), "batch 2 diverged")
    assert(!m2.exists(_._1 == 20L), "retracted fact survived")
    assert(m2.filter(_._3 == 11L).forall(_._4 == "bern"),
      "dim update not re-derived")
    val rowsRoot = s"$storeI/gold_stream/sales/store/rows"
    val genM = Path.of(rowsRoot, "_gen")
    assert(Files.exists(genM) && Files.readString(genM).trim.toLong >= 1L,
      "mart row store never compacted")
    // bounded store: exactly one (keep-latest) row per fact PK ever
    // derived — superseded versions reaped, latest tombstones retained
    val stored = spark.read.option("mergeSchema", "true")
      .parquet(liveGen(rowsRoot))
    assert(stored.count() == stored.select("_mpk_sale_id").distinct()
      .count(), "row store kept superseded versions past compaction")
  }

  test("rebucket migration: silver_buckets 4 -> 8 preserves contents for " +
      "BOTH merge strategies, prunes on the new layout, and the next " +
      "incremental batch merges into it; full table w/o layout fails loud") {
    for (merge <- Seq("copy_on_write", "merge_on_read")) {
      val tag = if (merge == "copy_on_write") "cow" else "mor"
      val src = tmpDir(s"rbk$tag-src"); val store = tmpDir(s"rbk$tag-store")
      def cfgJson(k: Int) = s"""{"app_downloads": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["id"],
        |  "silver_mode": "incremental",
        |  "silver_merge": "$merge",
        |  "silver_buckets": $k,
        |  "expect_all_or_drop": {"created_ok": "created_at IS NOT NULL"},
        |  "renamed_columns": {"downloads": "n_downloads"}
        |}}""".stripMargin
      Files.writeString(Path.of(src, "dp_config_template.json"), cfgJson(4))
      writeBatch1(src)
      val cat = s"rbk$tag"
      val fqn = s"${cat}_silver.silver_app_downloads"
      def rows(): Seq[(Long, Long, String)] =
        spark.table(fqn).select($"id", $"n_downloads", $"v")
          .as[(Long, Long, String)].collect().sorted.toSeq
      val (r1, _) = mkRunner(src, store, "2024-02-01 00:00:00",
        catalog = cat)
      r1.run(ConfigLoader.load(spark, src))
      val before = rows()
      assert(before.nonEmpty)

      // config now says 8 buckets: a plain run fails loud (r7 contract)
      Files.writeString(Path.of(src, "dp_config_template.json"), cfgJson(8))
      val ent8 = ConfigLoader.load(spark, src)
      // migrate, then verify contents and the recorded count
      val (r2, _) = mkRunner(src, store, "2024-02-02 00:00:00",
        catalog = cat)
      r2.rebucketSilver("app_downloads", ent8("app_downloads"))
      assert(rows() == before, s"$merge rebucket changed contents")
      assert(graft.pipeline.PipelineRunner
        .tableProp(spark, fqn, graft.pipeline.PipelineRunner.BucketCountProp)
        .contains("8"))
      // the physical layout really is 8-bucket now: a PK filter prunes
      // to one of 8 partitions (sanity: partition values all < 8)
      val parts = spark.sql(s"SHOW PARTITIONS " +
          (if (merge == "copy_on_write") fqn
           else s"${cat}_silver.silver_app_downloads_raw"))
        .collect().map(_.getString(0))
      val bucketVals = parts.flatMap(_.split('/').find(_.startsWith("_bucket="))
        .map(_.stripPrefix("_bucket=").toInt))
      assert(bucketVals.nonEmpty && bucketVals.forall(_ < 8))

      // a second incremental batch merges into the MIGRATED layout
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("downloads", IntegerType),
        StructField("created_at", StringType), StructField("op", StringType),
        StructField("v", StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, 11, "2024-03-01", "U", "one-v2"),
        Row(9L, 99, "2024-03-01", "I", "nine-new")), 1), schema)
        .write.mode("append").parquet(s"$src/app_downloads")
      val (r3, _) = mkRunner(src, store, "2024-03-05 00:00:00",
        catalog = cat)
      r3.run(ent8)
      val after = rows()
      assert(after.map(_._1).contains(9L))
      assert(after.find(_._1 == 1L).exists(_._3 == "one-v2"))
    }

    // a full-mode (non-bucketed) silver rejects rebucket with the remedy
    val src = tmpDir("rbkf-src"); val store = tmpDir("rbkf-store")
    Files.writeString(Path.of(src, "dp_config_template.json"),
      """{"app_downloads": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["id"],
        |  "renamed_columns": {"downloads": "n_downloads"}
        |}}""".stripMargin)
    writeBatch1(src)
    val (rf, _) = mkRunner(src, store, "2024-02-01 00:00:00",
      catalog = "rbkfull")
    val entF = ConfigLoader.load(spark, src)
    rf.run(entF)
    val e = intercept[IllegalStateException](
      rf.rebucketSilver("app_downloads", entF("app_downloads")))
    assert(e.getMessage.contains("full-refresh"))
  }

  test("steady-state workspace share: a pipeline query's second " +
      "invocation re-runs one pass over the SAME store and returns " +
      "bit-identical results (the bench min-of-N contract)") {
    val dir = "/root/testdata/sf0.001"
    // one representative per family: incremental aggregate mart (CDC
    // wave), bucketed MOR silver (3-batch wave), temporal gold mart,
    // and the version-diff CDF (rerun = false path)
    for (q <- Seq("q_gold_agg", "q_silver_mor", "q_gold_scd2",
        "q_table_changes")) {
      val first = PipelineQueries.queries(q)(spark, dir)
        .collect().toSeq
      val second = PipelineQueries.queries(q)(spark, dir)
        .collect().toSeq
      assert(first.nonEmpty, s"$q returned no rows")
      assert(second == first,
        s"$q steady-state re-invocation diverged from the build")
    }
  }
}
