package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.GoldAggregate

/** The additive-IVM aggregate algebra shared by the FULL batch
  * aggregate mart ([[PipelineRunner.buildGoldAggFrame]], sign ≡ +1) and
  * the STREAMING sink ([[goldAggSink]]) that maintains every
  * incremental aggregate mart (`gold.mode: "incremental"` or
  * `gold.cadence: "streaming"`, driven per triggered run by
  * [[PipelineRunner.buildGoldStreamMart]], or by a live stream): signed
  * per-group partials (inserts +1, deletes −1, updates as −old+new)
  * compose under plain summation because `gold.aggregate` admits only
  * count and per-row-floored micro sums — associative, commutative,
  * and retraction-exact.
  *
  * Replay discipline of the sink (at-least-once `foreachBatch`): each
  * partial row is stamped with its micro-batch id; a batch id at or
  * below the store's `_last_batch` marker FROM THE SAME QUERY IDENTITY
  * is SKIPPED before any write (a different identity — a
  * re-checkpointed feed with restarted batch ids — fails loud instead
  * of silently dropping; a store-scoped [[RunLock]] serializes writers
  * across processes), and the one unsafe window (crash between the
  * append and the marker update) leaves bit-identical duplicate rows
  * that the read side drops on (`_batch_id`, groups) — batch content
  * at a given id is pinned (by a live stream's offset log, or by the
  * triggered run's `_pin`), so duplicates are exact copies. Net
  * effect: additive totals stay exactly-once without a transactional
  * sink. Compaction folds the DEDUPED view to one row per group
  * stamped with the max folded batch id (the high-water mark survives
  * the rewrite) via the crash-safe [[GenStore]] generation swap.
  *
  * Scale: per micro-batch ONE map-side-combined hash aggregate down to
  * group-count-sized partial rows and a GROUP-HASH-REBALANCED parquet
  * append ([[writeSizeScaled]] — file count and task count scale with
  * the partial's size, never a single-task funnel); the published
  * totals re-sum a store bounded at O(groups) plus at most
  * `compactAfter` uncompacted batches. The mart never rescans history.
  */
object GoldAggOps {

  /** Size-scaled store write — the r11-verdict fix for the
    * `coalesce(1)` single-task funnels: `gold.aggregate` group columns
    * are USER-declared, so the per-group partial row set is
    * dashboard-grain-small for `group by status` but DATA-sized for
    * `group by user_id` over a 100 TB fact stream, and a one-task write
    * is the same scale-killer class as an unbounded driver collect.
    * REBALANCE by the group hash lets AQE size the exchange to the
    * actual bytes — the coalesce target under the default
    * `parallelismFirst` is `max(totalBytes / parallelism,
    * minPartitionSize)`, so a sub-MB dashboard-grain partial coalesces
    * to ONE task/file (the old behavior, and the right layout there)
    * while a data-sized partial fans out to one task/file per
    * parallelism share, and a skewed output partition splits (partials
    * are one row per group per batch, so group skew cannot concentrate
    * rows anyway; GoldAggStoreSpec pins both regimes). The store's
    * file-count compaction trigger then over-counts "batches" for
    * multi-file appends — harmless: compaction is timing-invariant by
    * the fold-subset precondition, it just runs proportionally sooner
    * on exactly the stores that grew faster. */
  private[graft] def writeSizeScaled(df: DataFrame, groupBy: Seq[String],
      mode: String, to: String): Unit = {
    val balanced =
      if (groupBy.isEmpty) df.hint("rebalance")
      else df.hint("rebalance", groupBy.map(c => col(s"`$c`")): _*)
    balanced.write.mode(mode).parquet(to)
  }

  /** Signed aggregate expressions of a [[GoldAggregate]] (no hidden
    * columns) — count as Σ sign, sum_x1e6 as Σ sign·⌊v·10⁶⌋ with
    * NaN/Inf masked to NULL (dropped from the sum). */
  def aggExprs(a: GoldAggregate, sign: Column): Seq[Column] =
    a.aggs.map { g =>
      g.op match {
        case "count" => coalesce(sum(sign), lit(0L)).as(g.as)
        case "sum_x1e6" =>
          val v = expr(g.expr).cast("double")
          val fin = when(!isnan(v) &&
            abs(v) =!= lit(Double.PositiveInfinity), v)
          coalesce(sum(sign * floor(fin * lit(1e6))), lit(0L)).as(g.as)
      }
    }

  /** [[aggExprs]] plus the hidden `_agg_n` net row count — the
    * liveness column (a group whose inserts were all retracted must
    * vanish from the mart). */
  def partialExprs(a: GoldAggregate, sign: Column): Seq[Column] =
    aggExprs(a, sign) :+ coalesce(sum(sign), lit(0L)).as("_agg_n")

  private def groupCols(a: GoldAggregate): Seq[Column] =
    a.groupBy.map(c => col(s"`$c`"))

  /** Re-sum a partial store directory to current per-group totals
    * (keeps `_agg_n`). `dedupBatches` = the streaming store (partials
    * carry `_batch_id`; exact-duplicate replay rows drop first). */
  def sumPartials(spark: SparkSession, from: String, a: GoldAggregate,
      dedupBatches: Boolean = false): DataFrame = {
    val raw = spark.read.parquet(from)
    val deduped =
      if (dedupBatches) raw.dropDuplicates("_batch_id" +: a.groupBy)
        .drop("_batch_id")
      else raw
    val sums = (a.aggs.map(_.as) :+ "_agg_n")
      .map(c2 => sum(col(s"`$c2`")).as(c2))
    deduped.groupBy(groupCols(a): _*).agg(sums.head, sums.tail: _*)
  }

  /** The LIVE mart view of a streaming-sink store: deduped re-sum,
    * groups with net-positive row count, hidden column dropped. */
  def readMart(spark: SparkSession, storeDir: String, a: GoldAggregate)
      : DataFrame = {
    val fs = new Path(storeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val store = new GenStore(fs, s"$storeDir/agg_partials", _ => ())
    sumPartials(spark, store.dataDir, a, dedupBatches = true)
      .filter(col("_agg_n") > 0L).drop("_agg_n")
  }

  /** `_last_batch` marker = "batchId|queryId" (legacy pre-r13 form:
    * bare batchId, parsed with no identity = match-any), replaced
    * atomically — see [[StoreMarkers]] and the GoldJoinOps replay-gate
    * rationale. Unlike the join mart there is no seq clock here (the
    * read side dedups exact replay rows by (_batch_id, groups)), so an
    * unreadable marker is survivable — but it still fails loud: it can
    * only mean tampering, and "reprocess everything" is not obviously
    * what the operator wants. */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[(Long, Option[String])] =
    StoreMarkers.readText(fs, p).map { txt =>
      val parsed = txt.split('|') match {
        case Array(b) => b.toLongOption.map(v => (v, None))
        case Array(b, q) => b.toLongOption
          .map(v => (v, Some(q): Option[String]))
        case _ => None
      }
      parsed.getOrElse(throw new IllegalStateException(
        s"stream-agg marker $p is unreadable ('$txt'); restore it or " +
          "rebuild the store"))
    }

  private[pipeline] def lastBatchMarker(storeDir: String): Path =
    new Path(s"$storeDir/_last_batch")

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      batchId: Long, queryId: Option[String]): Unit =
    StoreMarkers.writeAtomic(fs, p,
      s"$batchId${queryId.fold("")(q => s"|$q")}")

  /** The identity-checked replay gate (the GoldJoinOps.replayGate
    * contract on the agg markers): true = process the batch. A batch
    * at or below the marker from the SAME query identity skips; from a
    * DIFFERENT identity it fails loud (a re-checkpointed feed would
    * silently lose batches); a legacy identity-less marker adopts the
    * first replaying feed's id in place. */
  private def replayGate(fs: org.apache.hadoop.fs.FileSystem, markerP: Path,
      batchId: Long, qid: Option[String], what: String): Boolean =
    readMarker(fs, markerP) match {
      case Some((b, idOpt)) if batchId <= b =>
        require(idOpt.isEmpty || qid.isEmpty || idOpt == qid,
          s"$what: batch $batchId is at or " +
            s"below the store's high-water batch $b, but comes " +
            "from a different streaming query (checkpoint id " +
            s"${qid.getOrElse("?")} vs the marker's " +
            s"${idOpt.getOrElse("?")}). A re-checkpointed feed " +
            "restarts batch ids at 0 and silently skipping would " +
            "LOSE its batches - resume the original checkpoint, " +
            "or point the new feed at a fresh store")
        if (idOpt.isEmpty && qid.nonEmpty)
          writeMarker(fs, markerP, b, qid)
        false
      case _ => true
    }

  /** SANCTIONED TAKEOVER MIGRATION (see
    * [[Pipeline.PipelineRunner.takeoverStreamMart]] for the operator
    * contract): compact the partial store to ONE row per group at
    * sentinel `_batch_id = −1`, then reset the `_last_batch` marker to
    * −1 with its query identity stripped. The compaction is REQUIRED,
    * not hygiene: the read side drops at-least-once replays by
    * dropDuplicates(_batch_id, groups), so a fresh stream restarting
    * batch ids at 0 would collide its new batch-k partial with an
    * orphaned old batch-k partial for the same group and one of the two
    * DIFFERENT contributions would silently drop. After the compaction
    * the only stored id is −1, below any real batch. Totals are
    * invariant (associative re-sum — the regular compaction's own
    * argument). A virgin store (no marker) is a no-op. */
  def migrateStoreIdentity(spark: SparkSession, storeDir: String,
      a: GoldAggregate): Unit = {
    val fs = new Path(storeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val markerP = lastBatchMarker(storeDir)
    RunLock.withLock(spark, storeDir) {
      readMarker(fs, markerP).foreach { _ =>
        val store = new GenStore(fs, s"$storeDir/agg_partials", _ => ())
        // threshold 0: any file passes the backstop ("files > 0") —
        // force the rewrite regardless of the byte-doubling gate
        store.compact(0, s"takeover migration of $storeDir") { from =>
          sumPartials(spark, from, a, dedupBatches = true)
            .withColumn("_batch_id", lit(-1L))
        } { (df, to) => writeSizeScaled(df, a.groupBy, "overwrite", to) }
        writeMarker(fs, markerP, -1L, None)
      }
    }
  }

  /** STREAMING aggregate-mart maintenance — the `foreachBatch` sink
    * that keeps a [[GoldAggregate]] mart fresh at micro-batch latency:
    * each batch's signed rows (CDC feed via `signCol`: +1 insert, −1
    * delete, updates as a −old/+new row pair; append-only feeds omit it
    * — every row +1) aggregate to per-group partials appended into a
    * [[GenStore]]. Read the live mart with [[readMart]]; totals equal
    * the full batch aggregate over the same final state by
    * associativity (StreamingSpec and PipelineSpec twin-pin it). A thin
    * wrapper over [[aggBatch]]. */
  def goldAggSink(stream: DataFrame, a: GoldAggregate, storeDir: String,
      checkpoint: String, signCol: Option[String] = None,
      compactAfter: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(compactAfter >= 1 && compactAfter <= 65536,
      s"compactAfter must be in [1, 2^16], got $compactAfter")
    batchSink(stream, checkpoint)(aggBatch(_, _, _, a, storeDir, signCol,
      compactAfter))
  }

  /** An update-mode `foreachBatch` sink that hands `body` each
    * micro-batch, its id and the checkpoint's query identity (the
    * replay gates' feed fingerprint, [[StoreMarkers.queryId]]). */
  private[pipeline] def batchSink(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long, Option[String]) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId,
          StoreMarkers.queryId(batch.sparkSession, checkpoint))
      }
      .option("checkpointLocation", checkpoint)

  /** One aggregate batch, gated on (`batchId`, `qid`) — the body of
    * [[goldAggSink]], also called directly by the triggered run.
    * Batch-id marker skip + read-side exact-dup drop make the additive
    * totals replay-safe (the object doc). */
  def aggBatch(batch: DataFrame, batchId: Long, qid: Option[String],
      a: GoldAggregate, storeDir: String, signCol: Option[String],
      compactAfter: Int): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(storeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val markerP = lastBatchMarker(storeDir)
    // store-scoped cross-process lock + identity-checked replay gate
    // (the GoldJoinOps contract): an at-or-below batch id from the SAME
    // query identity is an at-least-once replay (skip); from a
    // DIFFERENT identity it is a re-checkpointed feed whose restarted
    // batch ids would silently drop until they climb past the marker —
    // fail loud instead. Two concurrent feeds minting the same
    // (_batch_id, group) with DIFFERENT content would corrupt the
    // read-side dedup, so the lock serializes and the gate then rejects
    // the latecomer.
    RunLock.withLock(spark, storeDir) {
      if (replayGate(fs, markerP, batchId, qid,
          s"goldAggSink at $storeDir")) {
        val store = new GenStore(fs, s"$storeDir/agg_partials", _ => ())
        val sign = signCol.map(c => col(s"`$c`").cast("long"))
          .getOrElse(lit(1L))
        val es = partialExprs(a, sign)
        val partial = batch.groupBy(groupCols(a): _*)
          .agg(es.head, es.tail: _*)
          .withColumn("_batch_id", lit(batchId))
        writeSizeScaled(partial, a.groupBy, "append", store.dataDir)
        writeMarker(fs, markerP, batchId, qid)
        store.compact(compactAfter, s"stream agg store $storeDir") { from =>
          sumPartials(spark, from, a, dedupBatches = true)
            .withColumn("_batch_id", lit(batchId))
        } { (df, to) =>
          writeSizeScaled(df, a.groupBy, "overwrite", to)
        }
      }
    }
  }

  /** SESSION-GRAIN streaming mart (T5 at mart cadence) — the
    * `foreachBatch` sink that keeps an event-grain mart at SESSION
    * granularity: a watermarked `session_window` aggregation in APPEND
    * mode emits each session exactly once, when the watermark passes
    * its end (last event + gap — emit-on-close, the same eviction
    * contract as the tumbling windows q_stream_late_drop pins), and the
    * sink appends those CLOSED sessions to the store. Closed sessions
    * are immutable by the watermark contract, so the store is
    * append-only — no upsert machinery, no signed deltas; replay safety
    * is the batch-id marker skip plus the read-side key dedup
    * (crash-between-append-and-marker re-appends bit-identical rows).
    *
    * Gap-boundary semantics (probed, tools/SessionGapProbe): an event
    * at EXACTLY last + gap still merges (the session extends while
    * diff <= gap), matching the batch gap-island convention
    * (q_session_gap's `> gap` starts a new island).
    *
    * Scale: per micro-batch one session-state update over O(batch)
    * events (state per OPEN session inside the watermark horizon) and
    * one append of the batch's closed sessions. Caveat: Spark disables
    * AQE for stateful streams, so the rebalance hint in the append is
    * a no-op here and per-batch file sizing follows the shuffle
    * partitioning — the store compaction below is what re-sizes the
    * files (and collapses crash-replay duplicates). The mart grows
    * with the data (it IS the session history); rewrite work amortizes
    * to O(bytes·log) via the bytes-doubling gate. */
  def sessionMartSink(stream: DataFrame, tsCol: String, gap: String,
      delay: String, keys: Seq[String], aggs: Seq[Column],
      storeDir: String, checkpoint: String, compactAfter: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val kcols = keys.map(c => col(s"`$c`"))
    stream
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(s"`$tsCol`"), gap) +: kcols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("sess_start_us",
        unix_micros(col("session_window.start")))
      .withColumn("sess_end_us", unix_micros(col("session_window.end")))
      .drop("session_window")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = new Path(storeDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val markerP = new Path(s"$storeDir/_last_batch")
        val qid = StoreMarkers.queryId(spark, checkpoint)
        RunLock.withLock(spark, storeDir) {
          if (replayGate(fs, markerP, batchId, qid,
              s"sessionMartSink at $storeDir")) {
            val store = new GenStore(fs, s"$storeDir/sessions", _ => ())
            writeSizeScaled(batch, keys, "append", store.dataDir)
            writeMarker(fs, markerP, batchId, qid)
            // bytes-doubling compaction (the agg-store discipline):
            // the session table grows with the DATA (it is history),
            // so the rewrite must amortize — collapse crash-replay
            // duplicates while folding the small batch files
            store.compact(compactAfter,
              s"session mart store $storeDir") { from =>
              spark.read.parquet(from)
                .dropDuplicates(keys :+ "sess_start_us")
            } { (df, to) => writeSizeScaled(df, keys, "overwrite", to) }
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
  }

  /** The live session mart: the stored closed sessions, with the
    * crash-replay duplicates collapsed on the session identity
    * (keys + start — unique by the exactly-once emission contract). */
  def readSessionMart(spark: SparkSession, storeDir: String,
      keys: Seq[String]): DataFrame = {
    val store = new GenStore(
      new Path(storeDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      s"$storeDir/sessions", _ => ())
    spark.read.parquet(store.dataDir)
      .dropDuplicates(keys :+ "sess_start_us")
  }
}
