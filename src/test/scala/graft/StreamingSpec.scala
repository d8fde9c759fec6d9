package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** T3–T6 streaming semantics with MemoryStream + manual event-time clocks:
  * tumbling/sliding/session windows, watermark late-data drop, streaming
  * dedup with bounded state. Append-mode results are collected from a
  * memory sink after each processAllAvailable micro-batch. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private var sinkId = 0
  private def nextSink(): String = { sinkId += 1; s"stream_sink_$sinkId" }

  test("T3 tumbling window counts match the batch equivalent") {
    import spark.implicits._
    val rows = Seq(
      (ts("2024-01-01 00:00:10"), "a", 1.0),
      (ts("2024-01-01 00:05:10"), "a", 2.0),
      (ts("2024-01-01 00:05:20"), "b", 3.0),
      (ts("2024-01-01 00:14:59"), "a", 4.0))
    val batch = StreamOps.tumblingAgg(rows.toDF("ts", "k", "v"),
      "ts", "10 minutes", Seq("k"),
      Seq(count(lit(1)).as("n"), sum($"v").as("sv")))
      .orderBy("win_start", "k")
      .as[(Timestamp, Timestamp, String, Long, Double)].collect().toSeq

    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val sink = nextSink()
    val q = StreamOps.tumblingAgg(
      StreamOps.withLateDrop(mem.toDF.toDF("ts", "k", "v"), "ts", "1 minute"),
      "ts", "10 minutes", Seq("k"),
      Seq(count(lit(1)).as("n"), sum($"v").as("sv")))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData(rows.map(r => (r._1, r._2, r._3)): _*)
    q.processAllAvailable()
    // close every window: an event far past the watermark horizon
    mem.addData((ts("2024-01-01 03:00:00"), "z", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(sink).orderBy("win_start", "k")
      .as[(Timestamp, Timestamp, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
    assert(batch.map(_._3).toSet == Set("a", "b"))
  }

  test("T4 watermark: late event beyond horizon is dropped from the stream") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)](spark)
    val sink = nextSink()
    val q = StreamOps.tumblingAgg(
      StreamOps.withLateDrop(mem.toDF.toDF("ts", "k"), "ts", "5 minutes"),
      "ts", "10 minutes", Seq("k"), Seq(count(lit(1)).as("n")))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 00:01:00"), "a"))
    q.processAllAvailable()
    // advance event-time watermark far ahead, emitting window [00:00,00:10)
    mem.addData((ts("2024-01-01 01:00:00"), "a"))
    q.processAllAvailable()
    // now a LATE row for the already-closed 00:00 window: must be ignored
    mem.addData((ts("2024-01-01 00:02:00"), "a"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 02:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(sink)
      .as[(Timestamp, Timestamp, String, Long)].collect()
    val firstWin = rows.filter(_._1 == ts("2024-01-01 00:00:00"))
    assert(firstWin.length == 1)
    assert(firstWin.head._4 == 1L) // late duplicate did NOT bump the count
  }

  test("T5 session windows: gap split per key, streaming matches batch") {
    import spark.implicits._
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), "u1"),
      (ts("2024-01-01 00:10:00"), "u1"), // gap 10m < 30m: same session
      (ts("2024-01-01 01:00:00"), "u1"), // gap 50m: new session
      (ts("2024-01-01 00:00:00"), "u2"))
    val batch = StreamOps.sessionAgg(rows.toDF("ts", "k"),
      "ts", "30 minutes", Seq("k"), Seq(count(lit(1)).as("n")))
      .orderBy("k", "sess_start")
      .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
    assert(batch.count(_._3 == "u1") == 2) // two sessions for u1
    assert(batch.filter(_._3 == "u1").map(_._4).sorted.toSeq == Seq(1L, 2L))
    // session end = last event + gap
    assert(batch.head._2.getTime - batch.head._1.getTime >= 30 * 60 * 1000)

    val mem = MemoryStream[(Timestamp, String)](spark)
    val sink = nextSink()
    val q = StreamOps.sessionAgg(
      StreamOps.withLateDrop(mem.toDF.toDF("ts", "k"), "ts", "1 minute"),
      "ts", "30 minutes", Seq("k"), Seq(count(lit(1)).as("n")))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 12:00:00"), "zz"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(sink).filter($"k" =!= "zz")
      .orderBy("k", "sess_start")
      .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("T5-custom flatMapGroupsWithState sessionization emits closed sessions") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)](spark)
    val sink = nextSink()
    val src = mem.toDF.toDF("ts", "k")
    val q = StreamOps.sessionizeWithState(src, "k", "ts", gapUs = 30L * 60 * 1000000)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 00:00:00"), "u1"),
      (ts("2024-01-01 00:10:00"), "u1"), // same session (gap 10m < 30m)
      (ts("2024-01-01 00:00:00"), "u2"))
    q.processAllAvailable()
    // new burst for u1 far later: closes session 1 inline; watermark
    // advance also times out u2's session
    mem.addData((ts("2024-01-01 02:00:00"), "u1"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 06:00:00"), "zz"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(sink)
      .as[StreamOps.Session].collect().map(s => (s.key, s.startUs, s.endUs, s.nEvents))
    def us(t: String) = ts(t).getTime * 1000
    assert(rows.contains(("u1", us("2024-01-01 00:00:00"),
      us("2024-01-01 00:40:00"), 2L))) // 00:10 last + 30m gap
    assert(rows.contains(("u2", us("2024-01-01 00:00:00"),
      us("2024-01-01 00:30:00"), 1L))) // closed by event-time timeout
    // u1's second session closes via the zz watermark advance
    assert(rows.contains(("u1", us("2024-01-01 02:00:00"),
      us("2024-01-01 02:30:00"), 1L)))
  }

  test("streaming funnel: per-user frontier advances across batches and " +
    "the final depths equal the batch funnel over everything ingested") {
    import spark.implicits._
    val mem = MemoryStream[(String, String, Long)](spark)
    val sink = nextSink()
    val src = mem.toDF.toDF("k", "t", "ts_us")
    val q = StreamOps.funnelWithState(src, "k", "t", "ts_us",
        steps = Seq("A", "B", "C"), windowUs = 100L)
      .writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    // batch 1: u1 reaches depth 2; u2 starts; u3 only off-funnel noise
    val batch1 = Seq(("u1", "A", 10L), ("u1", "B", 20L),
      ("u2", "A", 50L), ("u3", "X", 5L))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    // batch 2: u1 completes; u2's B is outside the window from ITS t1;
    // intra-batch out-of-order (C arrives before B in input order) is
    // sorted inside the batch slice
    val batch2 = Seq(("u1", "C", 30L), ("u2", "B", 200L),
      ("u4", "C", 1L), ("u4", "B", 2L), ("u4", "A", 3L))
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(sink)
      .as[StreamOps.FunnelProgress].collect()
    // progress rows: u1 advanced in BOTH batches (2 then 3), u2/u4 once
    assert(rows.count(_.key == "u1") == 2)
    assert(rows.filter(_.key == "u1").map(_.stepReached).sorted.toSeq ==
      Seq(2, 3))
    // final depth per user == the batch funnel over the full ingest
    val finalDepth = rows.groupBy(_.key)
      .map { case (k, rs) => k -> rs.map(_.stepReached).max }
    val batchTwin = graft.analytics.EventFunnel.funnel(
        (batch1 ++ batch2).toDF("user_id", "event_type", "ts_us"),
        "user_id", "event_type", "ts_us", Seq("A", "B", "C"), 100L)
      .select($"user_id", $"step_reached").as[(String, Int)]
      .collect().filter(_._2 > 0).toMap
    assert(finalDepth == batchTwin)
    assert(batchTwin == Map("u1" -> 3, "u2" -> 1, "u4" -> 1))
  }

  test("sessionization: a late cross-batch event extends the session START backward") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)](spark)
    val sink = nextSink()
    val q = StreamOps.sessionizeWithState(mem.toDF.toDF("ts", "k"),
        "k", "ts", gapUs = 30L * 60 * 1000000, lateness = "2 hours")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 01:00:00"), "u1"))
    q.processAllAvailable()
    // late event 20m BEFORE the open session's start (within gap and
    // within the 2h lateness): must merge and move the start back, not
    // report a session that begins after an event it contains
    mem.addData((ts("2024-01-01 00:40:00"), "u1"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 08:00:00"), "zz")) // watermark close
    q.processAllAvailable()
    q.stop()
    def us(t: String) = ts(t).getTime * 1000
    val rows = spark.table(sink).as[StreamOps.Session].collect()
      .map(s => (s.key, s.startUs, s.endUs, s.nEvents))
    assert(rows.contains(("u1", us("2024-01-01 00:40:00"),
      us("2024-01-01 01:30:00"), 2L)),
      s"got ${rows.mkString(", ")}")
  }

  test("sessionization: a straggler more than a gap before the open session " +
      "closes as its own session, not merged") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)](spark)
    val sink = nextSink()
    val q = StreamOps.sessionizeWithState(mem.toDF.toDF("ts", "k"),
        "k", "ts", gapUs = 30L * 60 * 1000000, lateness = "6 hours")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 05:00:00"), "u1"))
    q.processAllAvailable()
    // 4h earlier than the open session's start (≫ gap, within lateness):
    // belongs to an earlier session whose close time already passed
    mem.addData((ts("2024-01-01 01:00:00"), "u1"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 12:00:00"), "zz")) // watermark close
    q.processAllAvailable()
    q.stop()
    def us(t: String) = ts(t).getTime * 1000
    val rows = spark.table(sink).as[StreamOps.Session].collect()
      .map(s => (s.key, s.startUs, s.endUs, s.nEvents)).toSet
    assert(rows.contains(("u1", us("2024-01-01 01:00:00"),
      us("2024-01-01 01:30:00"), 1L)), s"straggler session missing: $rows")
    assert(rows.contains(("u1", us("2024-01-01 05:00:00"),
      us("2024-01-01 05:30:00"), 1L)), s"open session corrupted: $rows")
  }

  test("stream-stream LEFT OUTER interval join: unmatched impressions " +
      "emit with NULL right columns after the watermark closes their " +
      "window; matched rows emit as in the inner form") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, String, String)](spark)
    val buys = MemoryStream[(Timestamp, String, String)](spark)
    val sink = nextSink()
    val q = StreamOps.intervalJoin(
      clicks.toDF.toDF("cts", "k", "click_id"),
      buys.toDF.toDF("bts", "k", "buy_id"),
      key = "k", leftTs = "cts", rightTs = "bts",
      lowerMs = 0, upperMs = 10 * 60 * 1000, delay = "1 minute",
      joinType = "left_outer")
      .select("click_id", "buy_id")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    clicks.addData(
      (ts("2024-01-01 00:00:00"), "u1", "c1"),  // converts (b1 at +5m)
      (ts("2024-01-01 00:00:00"), "u2", "c3"))  // never converts
    buys.addData((ts("2024-01-01 00:05:00"), "u1", "b1"))
    q.processAllAvailable()
    // advance BOTH watermarks far past c3's window end (00:10 + 1m
    // delay), then run further batches: the outer row emits only once
    // state for c3 is provably unmatched
    clicks.addData((ts("2024-01-01 05:00:00"), "zz", "cx"))
    buys.addData((ts("2024-01-01 05:00:00"), "zz", "bx"))
    q.processAllAvailable()
    clicks.addData((ts("2024-01-01 06:00:00"), "zz", "cy"))
    buys.addData((ts("2024-01-01 06:00:00"), "zz", "by"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(sink).as[(String, Option[String])]
      .collect().toSet
    assert(got.contains(("c1", Some("b1"))), s"inner match missing: $got")
    assert(got.contains(("c3", None)),
      s"unmatched impression never emitted as an outer row: $got")
    // and NOT emitted eagerly as a duplicate with a later match
    assert(got.count(_._1 == "c3") == 1, s"duplicate outer rows: $got")
  }

  test("stream-stream interval join matches batch interval join") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, String, String)](spark)
    val buys = MemoryStream[(Timestamp, String, String)](spark)
    val sink = nextSink()
    val q = StreamOps.intervalJoin(
      clicks.toDF.toDF("cts", "k", "click_id"),
      buys.toDF.toDF("bts", "k", "buy_id"),
      key = "k", leftTs = "cts", rightTs = "bts",
      lowerMs = 0, upperMs = 10 * 60 * 1000, delay = "1 minute")
      .select("click_id", "buy_id")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    clicks.addData(
      (ts("2024-01-01 00:00:00"), "u1", "c1"),
      (ts("2024-01-01 00:20:00"), "u1", "c2"),
      (ts("2024-01-01 00:00:00"), "u2", "c3"))
    buys.addData(
      (ts("2024-01-01 00:05:00"), "u1", "b1"), // joins c1 (within 10m after)
      (ts("2024-01-01 00:25:00"), "u1", "b2"), // joins c2
      (ts("2024-01-01 00:30:00"), "u2", "b3")) // 30m after c3: no match
    q.processAllAvailable()
    clicks.addData((ts("2024-01-01 05:00:00"), "zz", "cx"))
    buys.addData((ts("2024-01-01 05:00:00"), "zz", "bx"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(sink).as[(String, String)].collect().toSet
    assert(got.intersect(Set(("c1", "b1"), ("c2", "b2"))) ==
      Set(("c1", "b1"), ("c2", "b2")))
    assert(!got.exists(_._1 == "c3"))
  }

  test("file-stream over real events testdata: streamed tumbling agg == batch") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Path => JPath}
    // events.ts physical type varies by testdata writer (epoch-ns bigint
    // or µs timestamp); the event-time column for watermark/window is
    // derived through the shared schema-adaptive helper
    val srcDir = JFiles.createTempDirectory("graft-evstream")
    JFiles.copy(JPath.of("/root/testdata/sf0.001/events.parquet"),
      srcDir.resolve("events.parquet"))
    val batchDf = analytics.Tables(spark, "/root/testdata/sf0.001", "events")
    val schema = batchDf.schema
    def withEventTime(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ets", timestamp_micros(analytics.Tables.epochMicros(df)))
    val expected = StreamOps.tumblingAgg(withEventTime(batchDf),
      "ets", "6 hours", Seq("event_type"), Seq(count(lit(1)).as("n")))
      .orderBy("win_start", "event_type")
      .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
    assert(expected.nonEmpty)

    val stream = spark.readStream.schema(schema)
      .parquet(srcDir.toString)
    val sink = nextSink()
    val q = StreamOps.tumblingAgg(
      StreamOps.withLateDrop(withEventTime(stream), "ets", "1 minute"),
      "ets", "6 hours", Seq("event_type"), Seq(count(lit(1)).as("n")))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(sink).orderBy("win_start", "event_type")
      .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
    assert(streamed == expected)
  }

  test("streaming curation: quality gate + PII scrub + exact dedup " +
      "compose incrementally; a duplicate arriving in batch 2 is dropped") {
    import spark.implicits._
    val textA = "The quick brown fox jumps over the lazy dog and then " +
      "rests for a while near the river bank watching the water flow"
    val textB = "Many researchers carefully study how large language " +
      "models learn to follow instructions from diverse training data"
    val mem = MemoryStream[(Timestamp, Long, String)](spark)
    val sink = nextSink()
    val q = StreamOps.curatedStream(
      mem.toDF.toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 00:00:00"), 1L, textA + " mail me at a@ex.com"),
      (ts("2024-01-01 00:00:10"), 2L, "zzz qqq xxx")) // low quality
    q.processAllAvailable()
    mem.addData(
      // same normalized fingerprint as doc 1 (case/punct noise + the
      // SAME redacted email form) -> duplicate across batches, dropped
      (ts("2024-01-01 00:01:00"), 3L,
        (textA + " mail me at b@ex.com!").toUpperCase),
      (ts("2024-01-01 00:01:10"), 4L, textB))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(sink)
      .select($"doc_id", $"text", $"quality").collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 4L),
      "doc 2 fails quality, doc 3 is a cross-batch duplicate")
    val d1 = out.find(_.getLong(0) == 1L).get
    assert(d1.getString(1).contains("<EMAIL>"), "PII must be redacted")
    assert(d1.getDouble(2) >= 0.5)
  }

  test("curatedStreamStateless: streamed output == the batch expression " +
      "regardless of micro-batch boundaries (the q_stream_curation twin)") {
    import spark.implicits._
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog and then rests for a " +
        "while near the river bank watching the water flow every day",
      "zzz qqq xxx", // fails the quality gate
      "Many researchers carefully study how large language models learn " +
        "to follow instructions from diverse training data at ftp scale",
      "Reach the team at ops@example.org or http://ex.io/x for all of " +
        "the questions that may come up while the batch is running today")
    val mem = MemoryStream[(Long, String)](spark)
    val sink = nextSink()
    val q = StreamOps.curatedStreamStateless(
        mem.toDF.toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    // two different micro-batch splits of the same data must not matter
    mem.addData((1L, texts(0)), (2L, texts(1)))
    q.processAllAvailable()
    mem.addData((3L, texts(2)), (4L, texts(3)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(sink)
      .select($"doc_id", $"text", $"quality").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val batch = StreamOps.curatedStreamStateless(
        texts.indices.map(i => (i + 1L, texts(i))).toDF("doc_id", "text"),
        "text")
      .select($"doc_id", $"text", $"quality").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.map(_._1).toSet == Set(1L, 3L, 4L))
    assert(streamed.find(_._1 == 4L).get._2.contains("<EMAIL>"))
  }

  test("lshIndexSink: streamed embedding batches become searchable " +
      "incrementally; a replayed append does not duplicate results") {
    import spark.implicits._
    import graft.similarity.SimilarityOps
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding").limit(60)
      .as[(Long, Array[Float])].collect()
    val (batch1, batch2) = emb.splitAt(30)
    val path = java.nio.file.Files.createTempDirectory("lshsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lshckpt").toString
    // seed layout: build with batch 1, stream batch 2 through the sink
    SimilarityOps.lshBuildIndex(batch1.toSeq.toDF("vec_id", "embedding"),
      path, planes = 4, tables = 8)
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamOps.lshIndexSink(
      mem.toDF.toDF("vec_id", "embedding"), path, planes = 4, tables = 8,
      checkpoint = ckpt).start()
    mem.addData(batch2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    // a batch-2 vector is findable through the persisted layout
    val target = batch2.head
    val probe = Seq((target._1 + 100000L, target._2))
      .toDF("vec_id", "embedding")
    val res = SimilarityOps.lshTopKIndexed(spark, path, probe, 3,
        planes = 4, tables = 8, probesPerTable = 2)
      .select("rank", "vec_id").as[(Int, Long)].collect()
    assert(res.exists(r => r._1 == 1 && r._2 == target._1),
      s"streamed vector not top-1 for its own embedding: ${res.toSeq}")
    // replay: append batch 2 AGAIN (at-least-once delivery) — results
    // must not contain duplicate (rank, vec) entries
    SimilarityOps.lshAppendIndex(batch2.toSeq.toDF("vec_id", "embedding"),
      path, planes = 4, tables = 8)
    val replayed = SimilarityOps.lshTopKIndexed(spark, path, probe, 3,
        planes = 4, tables = 8, probesPerTable = 2)
      .select("rank", "vec_id").as[(Int, Long)].collect()
    assert(replayed.toSeq.sorted == res.toSeq.sorted,
      s"replayed append changed results: ${replayed.toSeq} vs ${res.toSeq}")
  }

  test("stream-static join: streamed documents pick up static mixing " +
      "weights and filter statelessly across batches") {
    import spark.implicits._
    // static dimension: per-source mixing decision (the data-mixing
    // config joined INTO the stream — the standard stream-static shape;
    // Spark broadcasts the static side into every micro-batch)
    val weights = Seq(("src0", true), ("src1", false), ("src2", true))
      .toDF("source", "keep")
    val mem = MemoryStream[(Long, String)](spark)
    val sink = nextSink()
    val q = mem.toDF.toDF("doc_id", "source")
      .join(broadcast(weights), Seq("source"))
      .filter($"keep")
      .select($"doc_id", $"source")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData((1L, "src0"), (2L, "src1"), (3L, "src2"))
    q.processAllAvailable()
    mem.addData((4L, "src1"), (5L, "src0"), (6L, "srcX")) // srcX: no dim row
    q.processAllAvailable()
    q.stop()
    val out = spark.table(sink).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 5L),
      "src1 filtered by the static weight, srcX dropped by the inner join")
  }

  test("streaming shard assignment: stateless seeded-hash shards match " +
      "the batch operator across micro-batches") {
    import spark.implicits._
    val mem = MemoryStream[Long](spark)
    val sink = nextSink()
    val q = graft.ops.Sampling
      .shardAssign(mem.toDF.toDF("doc_id"), "doc_id", 4)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData(1L, 2L, 3L)
    q.processAllAvailable()
    mem.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(sink)
      .select($"doc_id", $"shard").as[(Long, Int)].collect().toMap
    val batch = graft.ops.Sampling
      .shardAssign((1L to 5L).toDF("doc_id"), "doc_id", 4)
      .select($"doc_id", $"shard").as[(Long, Int)].collect().toMap
    assert(streamed == batch,
      "a row's shard must not depend on which micro-batch carried it")
  }

  test("T6 streaming dedup within watermark drops duplicate keys") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)](spark)
    val sink = nextSink()
    val q = StreamOps.streamingDedup(mem.toDF.toDF("ts", "id", "v"),
      Seq("id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 00:00:00"), 1L, "first"),
      (ts("2024-01-01 00:00:30"), 1L, "dup-same-batch"),
      (ts("2024-01-01 00:01:00"), 2L, "other"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 00:02:00"), 1L, "dup-next-batch"))
    q.processAllAvailable()
    q.stop()
    val vals = spark.table(sink).as[(Timestamp, Long, String)]
      .collect().map(_._3).toSet
    assert(vals == Set("first", "other"))
  }

  test("hllSketchSink: per-batch sketch rows append; union across " +
      "batches == direct sketch; replayed rows cannot inflate distincts") {
    import spark.implicits._
    import graft.analytics.Sketches
    val base = java.nio.file.Files.createTempDirectory("hllsink")
    val path = s"$base/table"
    val ckpt = s"$base/ckpt"
    val mem = MemoryStream[(Timestamp, String, String)](spark)
    val q = StreamOps.hllSketchSink(
      mem.toDF.toDF("ts", "lang", "term"), col("term"), Seq("lang"),
      path, ckpt).start()
    mem.addData(
      (ts("2024-01-01 00:00:00"), "en", "alpha"),
      (ts("2024-01-01 00:00:01"), "en", "beta"),
      (ts("2024-01-01 00:00:02"), "de", "alpha"))
    q.processAllAvailable()
    mem.addData(
      (ts("2024-01-01 00:01:00"), "en", "alpha"), // replay-style overlap
      (ts("2024-01-01 00:01:01"), "en", "gamma"))
    q.processAllAvailable()
    q.stop()
    val table = spark.read.parquet(path)
    // one sketch row per (stratum, batch): batch 0 has en+de, batch 1 en
    assert(table.select($"lang", $"batch_id").as[(String, Long)]
      .collect().toSet == Set(("en", 0L), ("de", 0L), ("en", 1L)))
    // union across batch rows == direct sketch over all rows seen:
    // the overlapping "alpha" in batch 1 cannot double-count
    val est = Sketches.hllUnionEstimate(table, Seq("lang"))
      .select($"lang", $"distinct_est").as[(String, Long)].collect().toMap
    assert(est == Map("en" -> 3L, "de" -> 1L))
  }

  test("driftSink: per-batch PSI rows append against the static reference; " +
      "batch PSI flags a shifted mix and stays 0 for an identical one") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("driftsink")
    val path = s"$base/table"
    val ckpt = s"$base/ckpt"
    val reference = (Seq.fill(6)("en") ++ Seq.fill(2)("de")).toDF("lang")
    val mem = MemoryStream[(Timestamp, String)](spark)
    val q = StreamOps.driftSink(mem.toDF.toDF("ts", "lang"),
      reference, "lang", path, ckpt).start()
    // batch 0: the same counts as the reference (6 en, 2 de) → every
    // smoothed rate matches bin-for-bin and PSI is exactly 0 (equal
    // PROPORTIONS at a different size would differ slightly: Laplace
    // smoothing shrinks by 1/(N+K))
    mem.addData(
      (ts("2024-01-01 00:00:00"), "en"), (ts("2024-01-01 00:00:01"), "en"),
      (ts("2024-01-01 00:00:02"), "en"), (ts("2024-01-01 00:00:03"), "en"),
      (ts("2024-01-01 00:00:04"), "en"), (ts("2024-01-01 00:00:05"), "en"),
      (ts("2024-01-01 00:00:06"), "de"), (ts("2024-01-01 00:00:07"), "de"))
    q.processAllAvailable()
    // batch 1: inverted mix plus a category the reference never saw
    mem.addData(
      (ts("2024-01-01 00:01:00"), "de"), (ts("2024-01-01 00:01:01"), "de"),
      (ts("2024-01-01 00:01:02"), "de"), (ts("2024-01-01 00:01:03"), "de"),
      (ts("2024-01-01 00:01:04"), "de"), (ts("2024-01-01 00:01:05"), "de"),
      (ts("2024-01-01 00:01:06"), "zz"), (ts("2024-01-01 00:01:07"), "zz"))
    q.processAllAvailable()
    q.stop()
    val table = spark.read.parquet(path)
    val psi = table.groupBy($"batch_id")
      .agg(sum($"psi_term").as("psi")).as[(Long, Double)].collect().toMap
    assert(psi(0L) === 0.0) // smoothed rates identical bin-for-bin
    assert(psi(1L) > 0.2, s"inverted mix must alarm, psi=${psi(1L)}")
    // the unseen category appears as a bin of batch 1's report
    assert(table.filter($"batch_id" === 1 && $"category" === "zz")
      .count() === 1L)
    // drift is a pure function of (reference, batch): re-scoring batch
    // 1's rows directly reproduces the appended report exactly
    val direct = graft.analytics.Profiler.categoricalDrift(
      reference,
      (Seq.fill(6)("de") ++ Seq.fill(2)("zz")).toDF("lang"), "lang")
    assert(direct.collect().toSet ===
      table.filter($"batch_id" === 1).drop("batch_id").collect().toSet)
  }

  test("streamingTokenBudget (transformWithState): cumulative per-stratum " +
      "quota holds across micro-batches; oversized row dropped while a " +
      "later smaller row fits; strata independent") {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Long)](spark)
      val sink = nextSink()
      val q = StreamOps.streamingTokenBudget(
          mem.toDF.toDF("id", "src", "w"), "id", "src", "w",
          Map("crawl" -> 10L), defaultBudget = Long.MaxValue)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      // batch 1: ids sorted within the batch -> 1 (4) admitted, 2 (4)
      // admitted (cum 8), 3 (5) would blow the 10 budget -> dropped,
      // 4 (2) still fits (cum 10); curated stratum unlimited
      mem.addData((3L, "crawl", 5L), (1L, "crawl", 4L), (2L, "crawl", 4L),
        (4L, "crawl", 2L), (9L, "curated", 1000L))
      q.processAllAvailable()
      // batch 2: budget exhausted — nothing from crawl fits but a
      // zero-weight row; curated keeps flowing (state persisted)
      mem.addData((5L, "crawl", 1L), (6L, "crawl", 0L),
        (10L, "curated", 7L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(sink)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == Set(
        (1L, "crawl", 4L, 4L), (2L, "crawl", 4L, 8L),
        (4L, "crawl", 2L, 10L), (6L, "crawl", 0L, 10L),
        (9L, "curated", 1000L, 1000L), (10L, "curated", 7L, 1007L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming aggregate-mart sink (GoldAggOps.goldAggSink): signed " +
      "micro-batch partials equal the batch aggregate over the net CDC " +
      "state incl. a group-emptying retraction; compaction invariant; " +
      "replayed batch ids skip; duplicate partial rows dedup at read") {
    import spark.implicits._
    import graft.pipeline.GoldAggOps
    import graft.config.{GoldAgg, GoldAggregate}
    val a = GoldAggregate(Seq("store_id"), Seq(
      GoldAgg("count", as = "n"),
      GoldAgg("sum_x1e6", expr = "amount", as = "total_x1e6")))
    val store = java.nio.file.Files
      .createTempDirectory("graft-aggsink").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft-aggsink-cp").toString
    // CDC feed: (store_id, amount, sign) — 3 micro-batches with
    // compactAfter=2 so the third batch triggers a compaction
    val mem = MemoryStream[(Long, Double, Long)](spark)
    val q = GoldAggOps.goldAggSink(
        mem.toDF.toDF("store_id", "amount", "sign"), a, store, cp,
        signCol = Some("sign"), compactAfter = 2)
      .start()
    mem.addData((10L, 1.0, 1L), (10L, 2.0, 1L), (11L, 5.0, 1L))
    q.processAllAvailable()
    mem.addData((10L, 1.0, -1L), (10L, 1.5, 1L), (12L, 7.0, 1L))
    q.processAllAvailable()
    // net state now: (10, 2.0), (10, 1.5), (11, 5.0), (12, 7.0)
    val mid = GoldAggOps.readMart(spark, store, a)
      .orderBy($"store_id").as[(Long, Long, Long)].collect().toSeq
    assert(mid == Seq((10L, 2L, 3500000L), (11L, 1L, 5000000L),
      (12L, 1L, 7000000L)))
    mem.addData((12L, 7.0, -1L)) // retraction empties group 12
    q.processAllAvailable()
    q.stop()
    def mart() = GoldAggOps.readMart(spark, store, a)
      .orderBy($"store_id").as[(Long, Long, Long)].collect().toSeq
    val fin = mart()
    // twin-equivalence: the batch aggregate over the net CDC state
    val net = Seq((10L, 2.0), (10L, 1.5), (11L, 5.0))
      .toDF("store_id", "amount")
    val es = GoldAggOps.aggExprs(a, lit(1L))
    val batchTwin = net.groupBy($"store_id").agg(es.head, es.tail: _*)
      .orderBy($"store_id").as[(Long, Long, Long)].collect().toSeq
    assert(fin == batchTwin, s"stream $fin != batch $batchTwin")
    assert(!fin.exists(_._1 == 12L), "emptied group survived")
    // compaction ran (threshold 2 < 3 batches) and was invariant
    val gen = java.nio.file.Files.readString(
      java.nio.file.Path.of(store, "agg_partials", "_gen")).trim
    assert(gen.toLong >= 1L, "compaction never advanced the generation")
    // replay safety 1: a RE-CHECKPOINTED feed restarts batch ids at 0 —
    // at or below the marker but from a DIFFERENT query identity, so it
    // FAILS LOUD (r12 ADVICE: the old silent skip dropped the new
    // feed's batches until its ids climbed past the marker) and the
    // store is untouched
    val cp2 = java.nio.file.Files
      .createTempDirectory("graft-aggsink-cp2").toString
    val mem2 = MemoryStream[(Long, Double, Long)](spark)
    val q2 = GoldAggOps.goldAggSink(
        mem2.toDF.toDF("store_id", "amount", "sign"), a, store, cp2,
        signCol = Some("sign"), compactAfter = 2)
      .start()
    mem2.addData((99L, 100.0, 1L))
    val e2 = intercept[Exception] { q2.processAllAvailable() }
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).take(12)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("re-checkpointed feed restarts batch ids"))),
      s"expected the re-checkpointed-feed guard, got: $e2")
    q2.stop()
    assert(mart() == fin, "a rejected re-checkpointed feed mutated the mart")
    // replay safety 2: simulate the crash-between-append-and-marker
    // window — a bit-identical duplicate of an existing partial row
    // (same _batch_id) must be dropped by the read-side dedup
    val dataDir = java.nio.file.Path.of(store, "agg_partials", s"g$gen")
    val existing = spark.read.parquet(dataDir.toString)
    existing.limit(1).write.mode("append").parquet(dataDir.toString)
    assert(mart() == fin, "duplicate replay rows double-counted")
  }

  test("streaming join-mart sinks (GoldJoinOps): fact upserts/deletes, " +
      "dim updates and a dim RETRACTION propagate at micro-batch " +
      "cadence; mart equals the star join over the net CDC state; " +
      "stale-batch replay skips; within-batch duplicate PKs fail loud") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    val star = StreamStar(
      pkCols = Seq("o_orderkey"),
      dims = Seq(StreamDim("customer", Seq("o_custkey" -> "c_custkey"),
        deleteCol = Some("del"))),
      select = Seq("o_orderkey", "price", "c_name AS customer"),
      factDeleteCol = Some("del"))
    val root = java.nio.file.Files.createTempDirectory("graft-sjm")
    val storeDir = root.resolve("store").toString
    val dimMem = MemoryStream[(Long, String, Boolean)](spark)
    val factMem = MemoryStream[(Long, Long, Double, Boolean)](spark)
    val dimQ = GoldJoinOps.dimSink(
        dimMem.toDF.toDF("c_custkey", "c_name", "del"), "customer",
        star, storeDir, root.resolve("cp_dim").toString)
      .start()
    val factQ = GoldJoinOps.factSink(
        factMem.toDF.toDF("o_orderkey", "o_custkey", "price", "del"),
        star, storeDir, root.resolve("cp_fact").toString)
      .start()
    def mart(): Set[(Long, Double, String)] =
      GoldJoinOps.readMart(spark, storeDir, star)
        .as[(Long, Double, String)].collect().toSet
    // batch wave 1: two dims, three facts (fact 30 has no dim yet)
    dimMem.addData((1L, "A", false), (2L, "B", false))
    dimQ.processAllAvailable()
    factMem.addData((10L, 1L, 5.0, false), (20L, 2L, 6.0, false),
      (30L, 3L, 7.0, false))
    factQ.processAllAvailable()
    assert(mart() == Set((10L, 5.0, "A"), (20L, 6.0, "B")),
      "inner-join dropout (no dim row yet) must tombstone, not linger")
    // batch wave 2: dim UPDATE (B -> B2) re-derives fact 20 without a
    // fact-side event; new dim 3 resurrects the tombstoned fact 30
    dimMem.addData((2L, "B2", false), (3L, "C", false))
    dimQ.processAllAvailable()
    assert(mart() == Set((10L, 5.0, "A"), (20L, 6.0, "B2"),
      (30L, 7.0, "C")), "a dim update did not propagate to the mart")
    // fact wave: price update + fact delete
    factMem.addData((10L, 1L, 5.5, false), (20L, 2L, 6.0, true))
    factQ.processAllAvailable()
    assert(mart() == Set((10L, 5.5, "A"), (30L, 7.0, "C")))
    // batch wave 3: dim RETRACTION — every fact of key 1 must drop
    dimMem.addData((1L, "A", true))
    dimQ.processAllAvailable()
    val fin = mart()
    assert(fin == Set((30L, 7.0, "C")),
      s"dim retraction did not drop its facts: $fin")
    // twin-equivalence: the star join over the net CDC state
    val netFacts = Seq((10L, 1L, 5.5), (30L, 3L, 7.0))
      .toDF("o_orderkey", "o_custkey", "price")
    val netDims = Seq((2L, "B2"), (3L, "C")).toDF("c_custkey", "c_name")
    val twin = netFacts.join(netDims, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"price", $"c_name".as("customer"))
      .as[(Long, Double, String)].collect().toSet
    assert(fin == twin, s"stream $fin != batch twin $twin")
    dimQ.stop(); factQ.stop()
    // replay safety: a RE-CHECKPOINTED feed restarts batch ids at 0 —
    // at or below the markers but from a DIFFERENT query identity, so
    // it fails loud (the old silent skip dropped its batches) and the
    // mart is untouched
    val dimMem2 = MemoryStream[(Long, String, Boolean)](spark)
    val dimQ2 = GoldJoinOps.dimSink(
        dimMem2.toDF.toDF("c_custkey", "c_name", "del"), "customer",
        star, storeDir, root.resolve("cp_dim2").toString)
      .start()
    dimMem2.addData((99L, "Z", false))
    val e0 = intercept[Exception] { dimQ2.processAllAvailable() }
    assert(Iterator.iterate(e0: Throwable)(_.getCause)
        .takeWhile(_ != null).take(12)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("re-checkpointed feed restarts batch ids"))),
      s"expected the re-checkpointed-feed guard, got: $e0")
    dimQ2.stop()
    assert(mart() == fin, "a rejected re-checkpointed feed mutated the mart")
    // within-batch duplicate PK fails loud with the named remedy
    val factMem3 = MemoryStream[(Long, Long, Double, Boolean)](spark)
    val factQ3 = GoldJoinOps.factSink(
        factMem3.toDF.toDF("o_orderkey", "o_custkey", "price", "del"),
        star, root.resolve("store3").toString,
        root.resolve("cp_fact3").toString)
      .start()
    factMem3.addData((1L, 1L, 1.0, false), (1L, 1L, 2.0, false))
    val e = intercept[Exception] { factQ3.processAllAvailable() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("pre-compact the feed"))),
      s"expected the within-batch duplicate guard, got: $e")
    factQ3.stop()
  }

  test("streaming join mart LEFT-join dim: unmatched facts keep a " +
      "null-filled row; a dim retraction NULLs its facts' dim columns " +
      "instead of dropping the rows") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    val star = StreamStar(
      pkCols = Seq("o_orderkey"),
      dims = Seq(StreamDim("customer", Seq("o_custkey" -> "c_custkey"),
        joinType = "left", deleteCol = Some("del"))),
      select = Seq("o_orderkey", "price", "c_name AS customer"))
    val root = java.nio.file.Files.createTempDirectory("graft-sjl")
    val storeDir = root.resolve("store").toString
    val dimMem = MemoryStream[(Long, String, Boolean)](spark)
    val factMem = MemoryStream[(Long, Long, Double)](spark)
    val dimQ = GoldJoinOps.dimSink(
        dimMem.toDF.toDF("c_custkey", "c_name", "del"), "customer",
        star, storeDir, root.resolve("cp_dim").toString)
      .start()
    val factQ = GoldJoinOps.factSink(
        factMem.toDF.toDF("o_orderkey", "o_custkey", "price"), star,
        storeDir, root.resolve("cp_fact").toString)
      .start()
    def mart(): Set[(Long, Double, Option[String])] =
      GoldJoinOps.readMart(spark, storeDir, star)
        .as[(Long, Double, Option[String])].collect().toSet
    dimMem.addData((1L, "A", false))
    dimQ.processAllAvailable()
    factMem.addData((10L, 1L, 5.0), (20L, 2L, 6.0))
    factQ.processAllAvailable()
    assert(mart() == Set((10L, 5.0, Some("A")), (20L, 6.0, None)),
      "a LEFT-joined fact with no dim row must keep a null-filled row")
    // dim arrives for 20; dim 1 RETRACTS — fact 10 stays, customer null
    dimMem.addData((2L, "B", false), (1L, "A", true))
    dimQ.processAllAvailable()
    assert(mart() == Set((10L, 5.0, None), (20L, 6.0, Some("B"))),
      "a left-join dim retraction must NULL, not drop")
    dimQ.stop(); factQ.stop()
  }

  test("streaming TEMPORAL (SCD2) mart (GoldJoinOps.StreamTemporal): " +
      "facts join the interval valid at their event time; a " +
      "LATE-ARRIVING history batch splits intervals, re-derives the " +
      "changed keys' facts, and resurrects a fact that predated every " +
      "interval; twin-equal to the batch scd2 + temporalJoin") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar,
      StreamTemporal}
    val star = StreamStar(
      pkCols = Seq("event_id"),
      dims = Seq(StreamDim("user_history",
        Seq("user_id" -> "huser"),
        temporal = Some(StreamTemporal(factTs = "ts_us", dimTs = "hts",
          changeKey = "change_id", attrs = Seq("htype"))))),
      select = Seq("event_id", "user_id", "src_change_id",
        "htype AS dim_type", "valid_from"))
    val root = java.nio.file.Files.createTempDirectory("graft-sjt")
    val storeDir = root.resolve("store").toString
    val dimMem = MemoryStream[(Long, Long, Long, String)](spark)
    val factMem = MemoryStream[(Long, Long, Long)](spark)
    val dimQ = GoldJoinOps.dimSink(
        dimMem.toDF.toDF("change_id", "huser", "hts", "htype"),
        "user_history", star, storeDir,
        root.resolve("cp_dim").toString)
      .start()
    val factQ = GoldJoinOps.factSink(
        factMem.toDF.toDF("event_id", "user_id", "ts_us"), star,
        storeDir, root.resolve("cp_fact").toString)
      .start()
    def mart(): Set[(Long, Long, Long, String, Long)] =
      GoldJoinOps.readMart(spark, storeDir, star)
        .as[(Long, Long, Long, String, Long)].collect().toSet
    // base history: u100 = A@10, B@30; u200 = X@5
    dimMem.addData((1L, 100L, 10L, "A"), (3L, 100L, 30L, "B"),
      (4L, 200L, 5L, "X"))
    dimQ.processAllAvailable()
    // facts: f5 at t=5 precedes u100's first interval -> tombstone
    factMem.addData((1L, 100L, 15L), (2L, 100L, 35L), (3L, 100L, 25L),
      (4L, 200L, 7L), (5L, 100L, 5L))
    factQ.processAllAvailable()
    assert(mart() == Set(
      (1L, 100L, 1L, "A", 10L), (2L, 100L, 3L, "B", 30L),
      (3L, 100L, 1L, "A", 10L), (4L, 200L, 4L, "X", 5L)),
      "base temporal derivation wrong")
    // LATE history: C@20 splits u100's A-interval; Z@3 opens one before
    // t=5 — f3 must move A->C and f5 must resurrect, u200 untouched
    dimMem.addData((2L, 100L, 20L, "C"), (0L, 100L, 3L, "Z"))
    dimQ.processAllAvailable()
    val fin = mart()
    assert(fin == Set(
      (1L, 100L, 1L, "A", 10L), (2L, 100L, 3L, "B", 30L),
      (3L, 100L, 2L, "C", 20L), (4L, 200L, 4L, "X", 5L),
      (5L, 100L, 0L, "Z", 3L)),
      s"late-arriving history did not re-derive: $fin")
    dimQ.stop(); factQ.stop()
    // twin-equivalence: batch scd2 over the FULL history + temporalJoin
    val hist = Seq((0L, 100L, 3L, "Z"), (1L, 100L, 10L, "A"),
      (2L, 100L, 20L, "C"), (3L, 100L, 30L, "B"), (4L, 200L, 5L, "X"))
      .toDF("change_id", "huser", "hts", "htype")
    val facts = Seq((1L, 100L, 15L), (2L, 100L, 35L), (3L, 100L, 25L),
      (4L, 200L, 7L), (5L, 100L, 5L)).toDF("event_id", "user_id", "ts_us")
    val twin = graft.ops.Scd2.temporalJoin(facts,
        graft.ops.Scd2.scd2(hist, "huser", "hts", "change_id",
          Seq("htype")).drop("is_current")
          .withColumnRenamed("huser", "user_id"),
        "user_id", "ts_us")
      .select($"event_id", $"user_id", $"src_change_id",
        $"htype".as("dim_type"), $"valid_from")
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(fin == twin, s"stream $fin != batch twin $twin")
  }

  test("streaming TEMPORAL LEFT join: facts outside every interval " +
      "(or with no history at all) keep null-filled rows instead of " +
      "dropping; a late interval split fills them in; twin-equal to " +
      "batch scd2 + temporalJoin(left)") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar,
      StreamTemporal}
    val star = StreamStar(
      pkCols = Seq("event_id"),
      dims = Seq(StreamDim("user_history",
        Seq("user_id" -> "huser"), joinType = "left",
        temporal = Some(StreamTemporal(factTs = "ts_us", dimTs = "hts",
          changeKey = "change_id", attrs = Seq("htype"))))),
      select = Seq("event_id", "user_id", "htype AS dim_type",
        "valid_from"))
    val root = java.nio.file.Files.createTempDirectory("graft-sjtl")
    val storeDir = root.resolve("store").toString
    val dimMem = MemoryStream[(Long, Long, Long, String)](spark)
    val factMem = MemoryStream[(Long, Long, Long)](spark)
    val dimQ = GoldJoinOps.dimSink(
        dimMem.toDF.toDF("change_id", "huser", "hts", "htype"),
        "user_history", star, storeDir,
        root.resolve("cp_dim").toString)
      .start()
    val factQ = GoldJoinOps.factSink(
        factMem.toDF.toDF("event_id", "user_id", "ts_us"), star,
        storeDir, root.resolve("cp_fact").toString)
      .start()
    def mart(): Set[(Long, Long, Option[String], Option[Long])] =
      GoldJoinOps.readMart(spark, storeDir, star)
        .as[(Long, Long, Option[String], Option[Long])].collect().toSet
    // history: u100 = A@10; facts: f1 in-interval, f2 BEFORE it,
    // f3 for u300 with NO history — left keeps f2/f3 null-filled
    dimMem.addData((1L, 100L, 10L, "A"))
    dimQ.processAllAvailable()
    factMem.addData((1L, 100L, 15L), (2L, 100L, 5L), (3L, 300L, 50L))
    factQ.processAllAvailable()
    assert(mart() == Set(
      (1L, 100L, Some("A"), Some(10L)),
      (2L, 100L, None, None),
      (3L, 300L, None, None)),
      "left temporal must null-fill out-of-interval / no-history facts")
    // late history: Z@3 covers f2; u300 gets history AFTER t=50 only —
    // f3 stays null-filled (still precedes its first interval)
    dimMem.addData((0L, 100L, 3L, "Z"), (7L, 300L, 60L, "Q"))
    dimQ.processAllAvailable()
    val fin = mart()
    assert(fin == Set(
      (1L, 100L, Some("A"), Some(10L)),
      (2L, 100L, Some("Z"), Some(3L)),
      (3L, 300L, None, None)),
      s"late history did not fill / preserved nulls wrongly: $fin")
    dimQ.stop(); factQ.stop()
    // twin-equivalence against the batch left temporal join
    val hist = Seq((0L, 100L, 3L, "Z"), (1L, 100L, 10L, "A"),
      (7L, 300L, 60L, "Q")).toDF("change_id", "huser", "hts", "htype")
    val facts = Seq((1L, 100L, 15L), (2L, 100L, 5L), (3L, 300L, 50L))
      .toDF("event_id", "user_id", "ts_us")
    val twin = graft.ops.Scd2.temporalJoin(facts,
        graft.ops.Scd2.scd2(hist, "huser", "hts", "change_id",
          Seq("htype")).drop("is_current")
          .withColumnRenamed("huser", "user_id"),
        "user_id", "ts_us", "left")
      .select($"event_id", $"user_id", $"htype".as("dim_type"),
        $"valid_from")
      .as[(Long, Long, Option[String], Option[Long])].collect().toSet
    assert(fin == twin, s"stream $fin != batch twin $twin")
  }

  test("dim-path two-phase restrict (GoldJoinOps.affectedFacts): " +
      "candidates resolve through ANY version's join key, only live " +
      "rows return, and the keep-latest window runs over a " +
      "semi-restricted slice — never the raw full store") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    val star = StreamStar(
      pkCols = Seq("o_orderkey"),
      dims = Seq(StreamDim("customer", Seq("o_custkey" -> "c_custkey"),
        deleteCol = Some("del"))),
      select = Seq("o_orderkey", "price", "c_name AS customer"),
      factDeleteCol = Some("del"))
    val root = java.nio.file.Files.createTempDirectory("graft-sj2p")
    val storeDir = root.resolve("store").toString
    val dimMem = MemoryStream[(Long, String, Boolean)](spark)
    val dimQ = GoldJoinOps.dimSink(
        dimMem.toDF.toDF("c_custkey", "c_name", "del"), "customer",
        star, storeDir, root.resolve("cp_dim").toString).start()
    dimMem.addData((100L, "A", false), (200L, "B", false),
      (900L, "C", false))
    dimQ.processAllAvailable(); dimQ.stop()
    val factMem = MemoryStream[(Long, Long, Double, Boolean)](spark)
    val factQ = GoldJoinOps.factSink(
        factMem.toDF.toDF("o_orderkey", "o_custkey", "price", "del"),
        star, storeDir, root.resolve("cp_fact").toString).start()
    // v1: pk 2 born under key 200, pk 4 alive
    factMem.addData((1L, 100L, 1.0, false), (2L, 200L, 2.0, false),
      (4L, 200L, 4.0, false))
    factQ.processAllAvailable()
    // v2: pk 2 MOVES to key 900, pk 4 deletes
    factMem.addData((2L, 900L, 2.5, false), (4L, 200L, 4.0, true))
    factQ.processAllAvailable(); factQ.stop()
    val d = star.dims.head
    def affected(keys: Long*): org.apache.spark.sql.DataFrame = {
      val touched = keys.toSeq.toDF("o_custkey")
      GoldJoinOps.affectedFacts(spark, storeDir, star, d, touched).get
    }
    // touched 200: pk 2 matches via its SUPERSEDED v1 version (the
    // sound superset — its live row re-derives harmlessly under its
    // CURRENT key 900); pk 4's live row is a tombstone -> excluded
    val a200 = affected(200L)
    assert(a200.select($"o_orderkey", $"o_custkey")
        .as[(Long, Long)].collect().toSet == Set((2L, 900L)),
      s"any-version candidates wrong: ${a200.collect().toSeq}")
    // touched 100: pk 1 live
    assert(affected(100L).select($"o_orderkey")
      .as[Long].collect().toSet == Set(1L))
    // plan pin: the window's input subtree is a LeftSemi-restricted
    // slice of the store (two semi joins below it), NOT the raw scan —
    // the r12-verdict scale-killer (full-store window per dim batch)
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val plan = a200.queryExecution.optimizedPlan
    val semis = plan.collect {
      case j: Join if j.joinType == LeftSemi => j }
    assert(semis.size == 2,
      s"expected the two-phase semi joins, got ${semis.size}:\n$plan")
    val windows = plan.collect { case w: Window => w }
    assert(windows.nonEmpty, s"no keep-latest window in:\n$plan")
    assert(windows.forall(_.collectFirst {
        case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
      s"the keep-latest window reads the UNRESTRICTED fact store:\n$plan")
  }

  test("stream-mart store concurrency: a sink in a second process " +
      "fails loud against the store RunLock; a corrupted marker fails " +
      "loud instead of resetting the seq clock") {
    import spark.implicits._
    import graft.pipeline.{GoldJoinOps, RunLock}
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    val star = StreamStar(
      pkCols = Seq("k"),
      dims = Seq(StreamDim("d", Seq("g" -> "g"))),
      select = Seq("k", "v", "name"))
    val root = java.nio.file.Files.createTempDirectory("graft-sjlk")
    val storeDir = root.resolve("store").toString
    java.nio.file.Files.createDirectories(root.resolve("store"))
    // a "second process" holds the store lock (fresh heartbeat) while
    // a fact batch arrives -> the sink must fail loud, not interleave
    RunLock.withLock(spark, storeDir) {
      val factMem = MemoryStream[(Long, Long, Double)](spark)
      val factQ = GoldJoinOps.factSink(
          factMem.toDF.toDF("k", "g", "v"), star, storeDir,
          root.resolve("cp_fact").toString).start()
      factMem.addData((1L, 10L, 1.0))
      val e = intercept[Exception] { factQ.processAllAvailable() }
      assert(Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).take(12)
          .exists(_.isInstanceOf[graft.pipeline.ConcurrentRunException]),
        s"expected ConcurrentRunException from the store lock, got: $e")
      factQ.stop()
    }
    // corrupted seq marker: the sink refuses to guess the clock
    val root2 = java.nio.file.Files.createTempDirectory("graft-sjmk")
    val store2 = root2.resolve("store")
    java.nio.file.Files.createDirectories(store2)
    java.nio.file.Files.writeString(store2.resolve("_fact_marker"),
      "not|a|marker")
    val factMem2 = MemoryStream[(Long, Long, Double)](spark)
    val factQ2 = GoldJoinOps.factSink(
        factMem2.toDF.toDF("k", "g", "v"), star, store2.toString,
        root2.resolve("cp2").toString).start()
    factMem2.addData((1L, 10L, 1.0))
    val e2 = intercept[Exception] { factQ2.processAllAvailable() }
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).take(12)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("refusing to guess the seq clock"))),
      s"expected the unreadable-marker guard, got: $e2")
    factQ2.stop()
  }

  test("replay-gate legacy-marker adoption (r13 ADVICE): a pre-r13 " +
      "identity-less marker adopts the FIRST replaying feed's query id " +
      "on skip (batch id and seq unchanged), so the gate is identity-" +
      "checked from then on instead of match-any forever") {
    import spark.implicits._
    import graft.pipeline.GoldJoinOps
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    val star = StreamStar(
      pkCols = Seq("k"),
      dims = Seq(StreamDim("d", Seq("g" -> "g"))),
      select = Seq("k", "v", "name"))
    val root = java.nio.file.Files.createTempDirectory("graft-sjleg")
    val storeDir = root.resolve("store").toString
    val dimMem = MemoryStream[(Long, String)](spark)
    val dimQ = GoldJoinOps.dimSink(dimMem.toDF.toDF("g", "name"), "d",
      star, storeDir, root.resolve("cp_dim").toString).start()
    dimMem.addData((10L, "A")); dimQ.processAllAvailable(); dimQ.stop()
    val factMem = MemoryStream[(Long, Long, Double)](spark)
    val factQ = GoldJoinOps.factSink(factMem.toDF.toDF("k", "g", "v"),
      star, storeDir, root.resolve("cp_fact").toString).start()
    factMem.addData((1L, 10L, 1.0))
    factQ.processAllAvailable(); factQ.stop()
    def mart(): Set[(Long, Double, String)] =
      GoldJoinOps.readMart(spark, storeDir, star)
        .as[(Long, Double, String)].collect().toSet
    val fin = mart()
    assert(fin == Set((1L, 1.0, "A")))
    // forge a LEGACY marker: strip the queryId field in place (through
    // the Hadoop fs so the checksum sidecar stays consistent)
    val markerP = new org.apache.hadoop.fs.Path(s"$storeDir/_fact_marker")
    val fs = markerP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markerText: String = {
      val in = fs.open(markerP)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val legacy = markerText.split('|').take(2).mkString("|")
    val out = fs.create(markerP, true)
    out.write(legacy.getBytes("UTF-8")); out.close()
    // first replay from a NEW checkpoint (batch ids restart at 0): the
    // legacy marker matches any identity, so the batch SKIPS (the old
    // behavior, data outcome unchanged) - but the marker must adopt
    // this feed's identity in place, batchId|seq untouched
    val factMem2 = MemoryStream[(Long, Long, Double)](spark)
    val factQ2 = GoldJoinOps.factSink(factMem2.toDF.toDF("k", "g", "v"),
      star, storeDir, root.resolve("cp_fact2").toString).start()
    factMem2.addData((2L, 10L, 9.0))
    factQ2.processAllAvailable(); factQ2.stop()
    assert(mart() == fin, "a legacy-marker skip must stay a skip")
    val adopted = markerText
    assert(adopted.startsWith(legacy + "|") &&
        adopted.split('|').length == 3,
      s"legacy marker '$legacy' was not upgraded in place: '$adopted'")
    // a THIRD identity now fails loud instead of silently skipping
    val factMem3 = MemoryStream[(Long, Long, Double)](spark)
    val factQ3 = GoldJoinOps.factSink(factMem3.toDF.toDF("k", "g", "v"),
      star, storeDir, root.resolve("cp_fact3").toString).start()
    factMem3.addData((3L, 10L, 2.0))
    val e = intercept[Exception] { factQ3.processAllAvailable() }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(12)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("re-checkpointed feed restarts batch ids"))),
      s"expected the identity gate after adoption, got: $e")
    factQ3.stop()
    assert(mart() == fin)
  }

  test("session-grain streaming mart (T5 at mart cadence): closed " +
      "sessions append to the store exactly once — a session spanning " +
      "two micro-batches merges in state before it closes, an open " +
      "session is absent, and the mart equals the batch session " +
      "aggregation restricted to closed sessions; a restart from the " +
      "checkpoint appends nothing") {
    import spark.implicits._
    import graft.pipeline.GoldAggOps
    def us(hhmm: String): Long =
      java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00").getTime * 1000L
    val tmp = java.nio.file.Files.createTempDirectory("sessmart")
    val in = tmp.resolve("in"); java.nio.file.Files.createDirectories(in)
    def wave(name: String, rows: Seq[(String, Long)], mtime: Long): Unit = {
      val df = rows.toDF("u", "ts_us")
      val stagedir = tmp.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(stagedir.toString)
      val part = stagedir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = in.resolve(s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime); ()
    }
    val now = System.currentTimeMillis()
    // wm after w1 = 12:00 (max 13:00 − 1h): u2 closed; u1's session
    // (end 12:20) still OPEN and must MERGE with w2's 12:10 row
    val w1 = Seq(("u1", us("11:50")), ("u2", us("09:00")),
      ("u9", us("13:00")))
    // w2 row at 12:10 > 12:00 (not late); driver 14:37 → final wm
    // 13:37 closes u1 (12:40), u3 (13:00), u9's first (13:30); the
    // 14:37 session itself stays open → absent
    val w2 = Seq(("u1", us("12:10")), ("u3", us("12:30")),
      ("u9", us("14:37")))
    wave("w1", w1, now - 600000L)
    wave("w2", w2, now)
    val store = tmp.resolve("store").toString
    val schema = Seq(("x", 0L)).toDF("u", "ts_us").schema
    def runOnce(): Unit = {
      val q = GoldAggOps.sessionMartSink(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false").parquet(in.toString)
            .withColumn("ev", timestamp_micros(col("ts_us"))),
          "ev", "30 minutes", "1 hour", Seq("u"),
          Seq(count(lit(1)).as("n")), store,
          tmp.resolve("cp").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    def mart(): Set[(String, Long, Long, Long)] =
      GoldAggOps.readSessionMart(spark, store, Seq("u"))
        .select(col("u"), col("sess_start_us"), col("sess_end_us"),
          col("n"))
        .as[(String, Long, Long, Long)].collect().toSet
    val got = mart()
    val gapUs = 1800000000L
    assert(got == Set(
      ("u2", us("09:00"), us("09:00") + gapUs, 1L),
      ("u1", us("11:50"), us("12:10") + gapUs, 2L),
      ("u3", us("12:30"), us("12:30") + gapUs, 1L),
      ("u9", us("13:00"), us("13:00") + gapUs, 1L)),
      s"session mart wrong: $got")
    // batch twin: session_window over ALL rows, closed subset only
    val wmfUs = ((w1 ++ w2).map(_._2).max / 1000L - 3600000L) * 1000L
    val twin = graft.streaming.StreamOps.sessionAgg(
        (w1 ++ w2).toDF("u", "ts_us")
          .withColumn("ev", timestamp_micros(col("ts_us"))),
        "ev", "30 minutes", Seq("u"), Seq(count(lit(1)).as("n")))
      .withColumn("sess_start_us", unix_micros(col("sess_start")))
      .withColumn("sess_end_us", unix_micros(col("sess_end")))
      .filter(col("sess_end_us") <= wmfUs)
      .select(col("u"), col("sess_start_us"), col("sess_end_us"),
        col("n"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == twin,
      "the streaming session mart diverged from the batch twin")
    // restart from the same checkpoint: nothing new, store unchanged
    runOnce()
    assert(mart() == got, "a checkpoint restart changed the mart")
  }

  test("sanctioned stream takeover: a LIVE foreachBatch stream " +
      "continues a config-built streaming mart store — without " +
      "migration the identity gate fails loud (by design); after " +
      "takeoverStreamMart, live fact/dim CDC batches and signed " +
      "aggregate batches converge to the batch oracle") {
    import spark.implicits._
    import graft.pipeline.{GoldAggOps, GoldJoinOps, PipelineRunner}
    import graft.pipeline.GoldJoinOps.{StreamDim, StreamStar}
    import graft.config.{ConfigLoader, GoldAgg, GoldAggregate,
      PipelineParams}
    import java.nio.file.{Files, Path => JPath}
    val src = Files.createTempDirectory("tko-src").toString
    val store = Files.createTempDirectory("tko-store").toString
    Files.writeString(JPath.of(src, "dp_config_template.json"),
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
        |},
        |"receipts": {
        |  "raw_file_format": "parquet",
        |  "unique_primary_key": ["r_id"],
        |  "gold": {"cadence": "streaming",
        |    "aggregate": {"group_by": ["grp"],
        |      "aggs": [{"op": "count", "as": "n"},
        |               {"op": "sum_x1e6", "expr": "amount",
        |                "as": "total_x1e6"}]}}
        |}}""".stripMargin)
    Seq((1L, 5.0, 10L), (2L, 6.0, 20L))
      .toDF("sale_id", "amount", "shop_id").write.parquet(s"$src/sales")
    Seq((10L, "North"), (20L, "South"))
      .toDF("s_id", "s_name").write.parquet(s"$src/shops")
    Seq((1L, 1.5, "a"), (2L, 2.5, "a"), (3L, 4.0, "b"))
      .toDF("r_id", "amount", "grp").write.parquet(s"$src/receipts")
    val params = PipelineParams(sourceLocation = src,
      catalogName = "takeover",
      fixedIngestedAt = Some(ts("2024-12-01 00:00:00")))
    val runner = new PipelineRunner(spark, params, store)
    val cfgs = ConfigLoader.load(spark, src)
    runner.run(cfgs)
    val joinStore = s"$store/gold_stream/sales/store"
    val aggStore = s"$store/gold_stream/receipts/store"
    val star = StreamStar(
      pkCols = Seq("sale_id"),
      dims = Seq(StreamDim("shops", Seq("shop_id" -> "s_id"),
        deleteCol = Some("_cdc_deleted"))),
      select = Seq("sale_id", "amount", "s_name AS shop"),
      factDeleteCol = Some("_cdc_deleted"))
    def mart(): Set[(Long, Double, String)] =
      GoldJoinOps.readMart(spark, joinStore, star)
        .as[(Long, Double, String)].collect().toSet
    assert(mart() == Set((1L, 5.0, "North"), (2L, 6.0, "South")))
    val root = Files.createTempDirectory("tko-cp")
    // WITHOUT migration: a fresh checkpoint's batch 0 is at-or-below
    // the config bridge's marker from a different identity — the gate
    // fails loud, which is the r13 behavior this op sanctions a path
    // around
    val denyMem = MemoryStream[(Long, Double, Long, Boolean)](spark)
    val denyQ = GoldJoinOps.factSink(
      denyMem.toDF.toDF("sale_id", "amount", "shop_id", "_cdc_deleted"),
      star, joinStore, root.resolve("cp_deny").toString).start()
    denyMem.addData((9L, 1.0, 10L, false))
    val e = intercept[Exception] { denyQ.processAllAvailable() }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(12)
        .exists(c => Option(c.getMessage)
          .exists(_.contains("restarts batch ids"))),
      s"expected the identity gate before migration, got: $e")
    denyQ.stop()
    assert(mart() == Set((1L, 5.0, "North"), (2L, 6.0, "South")),
      "the refused stream mutated the store")
    // the sanctioned migration (each config run applied its deltas up
    // to the live clock — the handoff is quiesced by construction)
    runner.takeoverStreamMart("sales", cfgs("sales"))
    runner.takeoverStreamMart("receipts", cfgs("receipts"))
    // live takeover: dim rename, fact update + delete image + insert
    val dimMem = MemoryStream[(Long, String, Boolean)](spark)
    val dimQ = GoldJoinOps.dimSink(
      dimMem.toDF.toDF("s_id", "s_name", "_cdc_deleted"), "shops",
      star, joinStore, root.resolve("cp_dim").toString).start()
    dimMem.addData((10L, "North2", false))
    dimQ.processAllAvailable(); dimQ.stop()
    val factMem = MemoryStream[(Long, Double, Long, Boolean)](spark)
    val factQ = GoldJoinOps.factSink(
      factMem.toDF.toDF("sale_id", "amount", "shop_id", "_cdc_deleted"),
      star, joinStore, root.resolve("cp_fact").toString).start()
    factMem.addData((1L, 7.5, 20L, false), (2L, 6.0, 20L, true),
      (100L, 1.0, 10L, false))
    factQ.processAllAvailable(); factQ.stop()
    assert(mart() == Set((1L, 7.5, "South"), (100L, 1.0, "North2")),
      "the taken-over join mart did not converge to the batch oracle")
    // aggregate store: signed batches continue the config-built totals
    val a = GoldAggregate(Seq("grp"), Seq(GoldAgg("count", as = "n"),
      GoldAgg("sum_x1e6", "amount", "total_x1e6")))
    def aggMart(): Set[(String, Long, Long)] =
      GoldAggOps.readMart(spark, aggStore, a)
        .as[(String, Long, Long)].collect().toSet
    assert(aggMart() == Set(("a", 2L, 4000000L), ("b", 1L, 4000000L)))
    val aggMem = MemoryStream[(Long, Double, String, Long)](spark)
    val aggQ = GoldAggOps.goldAggSink(
      aggMem.toDF.toDF("r_id", "amount", "grp", "_cdc_sign"), a,
      aggStore, root.resolve("cp_agg").toString,
      signCol = Some("_cdc_sign")).start()
    aggMem.addData((3L, 4.0, "b", -1L), (4L, 10.0, "b", 1L))
    aggQ.processAllAvailable(); aggQ.stop()
    assert(aggMart() == Set(("a", 2L, 4000000L), ("b", 1L, 10000000L)),
      "the taken-over aggregate mart did not converge (a restarted " +
        "batch clock colliding with stored partials would show here)")
  }
}
