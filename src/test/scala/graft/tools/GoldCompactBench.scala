package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.{ConfigLoader, PipelineParams}
import graft.pipeline.PipelineRunner

/** Long-history evidence for the incremental-gold store compaction
  * (SCALE.md): drives MANY small CDC batches through the
  * incrementally-maintained join mart (the stream store's `rows/`
  * substore) three times — once with compaction effectively off
  * (compact_after=65536), then at thresholds 4 and 16 — and reports per-batch publish wall time plus the row
  * store's file count and bytes at the end. Without compaction the
  * keep-latest store grows with TOTAL updates, so the per-publish
  * window re-sorts an ever-longer history and the trend line rises;
  * with compaction the store stays bounded at O(live rows) + at most
  * `threshold` fresh batches and the trend flattens. The published
  * mart is asserted IDENTICAL across the three runs at the end (the
  * rewrite-invariance claim, at tool scale).
  *
  * Usage: Test/runMain graft.tools.GoldCompactBench [sfDir] [batches]
  */
object GoldCompactBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(30)
    val spark = graft.analytics.GraftSession.configure(SparkSession.builder()
      .master("local[16]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def cfgJson(compactAfter: Int) = s"""{"orders": {
      |  "raw_file_format": "parquet",
      |  "unique_primary_key": ["o_orderkey"],
      |  "gold": {"mode": "incremental", "compact_after": $compactAfter,
      |    "join": [
      |      {"entity": "customer", "on": "o_custkey = c_custkey",
      |       "broadcast": true}],
      |    "select": ["o_orderkey", "o_totalprice",
      |               "c_name AS customer"]}
      |},
      |"customer": {"raw_file_format": "parquet",
      |             "unique_primary_key": ["c_custkey"]}
      |}""".stripMargin

    def storeStats(root: String): (Long, Long) = {
      val base = Paths.get(root)
      if (!Files.exists(base)) (0L, 0L)
      else {
        val s = Files.walk(base)
        try {
          val fs = s.filter(Files.isRegularFile(_)).toArray.toSeq
            .map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.toString.endsWith(".parquet"))
          (fs.size.toLong, fs.map(Files.size(_)).sum)
        } finally s.close()
      }
    }

    // threshold 4 = the aggressive setting (almost no ladder room:
    // keep = 2, so the growing medium run refolds constantly);
    // threshold 16 = the default, where the size-tiered ladder has
    // capacity (keep = 8) and fresh runs merge among themselves
    val runs = Seq(("no-compaction", 65536), ("compact-after-4", 4),
      ("compact-after-16", 16))
    val finals = runs.map { case (label, ca) =>
      val root = Files.createTempDirectory(s"graft_gcb_$label").toString
      graft.analytics.Tables(spark, dir, "orders")
        .write.parquet(s"$root/src/orders")
      graft.analytics.Tables(spark, dir, "customer")
        .write.parquet(s"$root/src/customer")
      Files.write(Paths.get(s"$root/src/dp_config_template.json"),
        cfgJson(ca).getBytes(StandardCharsets.UTF_8))
      val cat = s"gcb_${label.replace('-', '_')}"
      def runAt(day: Int): Double = {
        // real calendar arithmetic: batch counts beyond 31 must not
        // mint impossible dates like 2024-01-60
        val clock = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
          .plusDays((day - 1).toLong)
        val params = PipelineParams(sourceLocation = s"$root/src",
          catalogName = cat,
          fixedIngestedAt = Some(java.sql.Timestamp.valueOf(clock)))
        val t0 = System.nanoTime()
        new PipelineRunner(spark, params, s"$root/store")
          .run(ConfigLoader.load(spark, params.sourceLocation))
        (System.nanoTime() - t0) / 1e9
      }
      val t1 = runAt(1)
      println(f"[$label] batch 1 (base build): $t1%.2f s")
      // per batch: update a rotating 1/20th of the orders (every batch
      // supersedes the previous version of its wave — the store's dead
      // fraction grows without compaction)
      val times = (2 to nBatches).map { b =>
        graft.analytics.Tables(spark, dir, "orders")
          .where(col("o_orderkey") % 20 === (b % 20))
          .withColumn("o_totalprice", col("o_totalprice") + lit(b.toDouble))
          .write.mode("append").parquet(s"$root/src/orders")
        runAt(b)
      }
      val (nf, bytes) = storeStats(s"$root/store/gold_stream/orders/store/rows")
      val head = times.take(5).sum / 5
      val tail = times.takeRight(5).sum / 5
      println(f"[$label] batches 2-$nBatches: first5 avg $head%.2f s, " +
        f"last5 avg $tail%.2f s, row-store files=$nf bytes=$bytes")
      val params = PipelineParams(sourceLocation = "", catalogName = cat)
      (label, head, tail, nf, bytes,
        spark.table(params.goldFqn("orders"))
          .orderBy(col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("customer")))
    }
    val a = finals.head._6.collect().toSeq
    finals.tail.foreach { f =>
      require(f._6.collect().toSeq == a,
        s"published mart diverged under ${f._1}")
    }
    println(s"published marts identical (${a.size} rows) — rewrite " +
      "invariance holds over the full history")
  }
}
