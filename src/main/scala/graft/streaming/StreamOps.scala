package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time streaming analytics (T3–T6) over Structured Streaming.
  * Each transform is a pure `DataFrame => DataFrame` that works on a
  * streaming OR batch frame (Spark's unified semantics) — batch runs give
  * the DuckDB-checkable equivalents, streaming runs are exercised in
  * StreamingSpec with MemoryStream + manual event clocks.
  *
  * Scale posture: event-time windowed aggregation shuffles once on
  * (window, keys); state store size is bounded by the watermark horizon ×
  * key cardinality. Watermarks are REQUIRED on unbounded streams — without
  * one, state grows without bound at 100 TB/day rates. Session windows
  * merge on overlap in the state store (per-key state, skew follows key
  * skew — salt hot keys upstream if a single key dominates).
  */
object StreamOps {

  /** T4: event-time watermark — late rows beyond `delay` are dropped from
    * stateful operators downstream. */
  def withLateDrop(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  private def flattenWindow(agged: DataFrame, winCol: String,
      startAs: String, endAs: String): DataFrame =
    agged.select(col(s"$winCol.start").as(startAs)
      +: col(s"$winCol.end").as(endAs)
      +: agged.columns.filter(_ != winCol).map(col).toIndexedSeq: _*)

  /** T3: tumbling event-time windows with per-window aggregates
    * (aggs must carry their own aliases). */
  def tumblingAgg(df: DataFrame, tsCol: String, width: String,
      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    flattenWindow(
      df.groupBy(window(col(tsCol), width) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "window", "win_start", "win_end")

  /** T5: session windows — events gap-merged per key while gaps < `gap`. */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    flattenWindow(
      df.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "session_window", "sess_start", "sess_end")

  /** T6: streaming dedup with bounded state — duplicates of a key arriving
    * within the watermark horizon are dropped; state for keys older than
    * the watermark is evicted. The streaming sibling of the silver batch
    * dedup (W1). */
  def streamingDedup(df: DataFrame, keys: Seq[String], tsCol: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Incremental corpus curation — the [EXT] curation stages composed on
    * the [REF] streaming surface: quality gate and PII scrub are stateless
    * narrow projections (identical expressions to the batch
    * [[graft.llm.Curation]] stages), and the exact-dedup stage becomes
    * [[org.apache.spark.sql.Dataset.dropDuplicatesWithinWatermark]] on the
    * normalized-text fingerprint — a duplicate document arriving within
    * the watermark horizon is dropped with BOUNDED state (fingerprints
    * older than the horizon evict), the streaming analog of the batch
    * fingerprint shuffle.
    *
    * Deliberately covers the STATELESS + keyed-dedup subset: near-dup
    * removal (LSH banding self-joins + component resolution) is not
    * expressible as an incremental stream — run it in the batch gold
    * layer over the accumulated table ([[graft.pipeline.PipelineRunner]]).
    *
    * Scale: one narrow pass per micro-batch plus one hash exchange on the
    * 128-bit fingerprint; state is one entry per distinct fingerprint
    * inside the horizon. */
  def curatedStream(docs: DataFrame, textCol: String, tsCol: String,
      delay: String, minQuality: Double = 0.5): DataFrame = {
    val fp = Iterator.iterate("_fp")(_ + "_")
      .dropWhile(docs.columns.contains).next()
    curatedStreamStateless(docs, textCol, minQuality)
      .withColumn(fp, graft.text.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** The STATELESS prefix of [[curatedStream]] — quality score + gate +
    * PII scrub, identical expressions to the batch curation stages.
    * Per-row pure, so its streamed output is deterministic regardless of
    * micro-batch boundaries or arrival order — what puts a real
    * `writeStream` execution on the driver-checkable declared surface
    * (`q_stream_curation`), while the keyed-dedup stage (whose
    * kept-duplicate winner is arrival-order-dependent) stays spec-covered
    * in StreamingSpec. */
  def curatedStreamStateless(docs: DataFrame, textCol: String,
      minQuality: Double = 0.5): DataFrame =
    docs
      .withColumn("quality",
        graft.text.TextOps.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
      .withColumn(textCol, graft.text.TextOps.redactPii(col(textCol)))

  /** The incremental-gold curation PREFIX
    * ([[graft.llm.Curation.prefixStages]] — quality gate, language
    * filter, PII scrub, fingerprint + shingle derivation, repetition
    * gate) as a STREAM transform: every prefix stage is row-local, so
    * the whole gate composes with any streaming source/sink and its
    * output is deterministic under arbitrary micro-batch boundaries.
    * This is the continuously-running twin of the batch pipeline's
    * per-run prefix append (`gold_mode: "incremental"`): a deployment
    * that wants the prefix store maintained by a standing stream writes
    * this frame with a parquet sink + checkpoint and points the
    * per-publish suffix at the same directory. The corpus-global
    * segment-cleanup knobs must stay off — the same restriction the
    * batch incremental mode enforces. Declared as `q_stream_gold_prefix`
    * (a real writeStream execution on the oracle surface). */
  def goldPrefixStream(docs: DataFrame, idCol: String, textCol: String,
      langCol: Option[String] = None,
      cfg: graft.llm.Curation.Config = graft.llm.Curation.Config())
      : DataFrame = {
    require(cfg.boilerplateMinDocFreq.isEmpty && cfg.lineDedupSpan.isEmpty,
      "goldPrefixStream cannot run the corpus-global segment-cleanup " +
        "stages (they read corpus-wide frequencies; use the batch path)")
    graft.llm.Curation.prefixStages(docs, idCol, textCol, langCol, cfg)
      .last._2
  }

  /** Incremental sketch-table maintenance on the streaming surface: each
    * micro-batch appends one HLL sketch row per stratum (plus the batch
    * id) to a parquet sketch table — the streaming writer for
    * [[graft.analytics.Sketches.hllSketchTable]]. Readers answer
    * "distinct keys so far, per stratum or corpus-wide" by unioning ALL
    * rows ([[graft.analytics.Sketches.hllUnionEstimate]]); because HLL
    * merge is an idempotent register-max, a REPLAYED batch (at-least-once
    * delivery, checkpoint recovery) cannot double-count distincts — the
    * sketch table is correct without exactly-once coordination. The
    * additive `n_rows` column IS replay-sensitive: readers needing exact
    * row counts dedup on (strata, batch_id) first — `batch_id` is written
    * for exactly that.
    *
    * Scale: per micro-batch this is one map-side-combined aggregate down
    * to KB-sized sketch rows; the parquet append is one tiny file per
    * batch (compact periodically like any streaming sink). */
  def hllSketchSink(stream: DataFrame, key: Column, strata: Seq[String],
      path: String, checkpoint: String, lgK: Int = 12)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.analytics.Sketches.hllSketchTable(batch, key, strata, lgK)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(path)
        ()
      }
      .option("checkpointLocation", checkpoint)

  /** Streaming distribution-drift monitor: each micro-batch's
    * categorical distribution is scored against a STATIC reference
    * snapshot with [[graft.analytics.Profiler.categoricalDrift]], and
    * the per-category PSI rows land in an append-only parquet history
    * (`batch_id`-stamped) — the data-quality alarm feed ("did the lang /
    * source / label mix of what we're ingesting move?") as a streaming
    * sink. Σ psi_term per batch_id is the batch's PSI; ≥ 0.2 pages
    * someone.
    *
    * Replay semantics: at-least-once appends keyed by `batch_id` — a
    * replayed batch rewrites the same rows (drift is a pure function of
    * (reference, batch)), so readers dedup by (batch_id, category) or
    * simply tolerate duplicate identical rows; no exactly-once
    * coordination needed (the sketch-sink argument).
    *
    * Scale: reference counts are recomputed per batch from `reference` —
    * pass a PRE-AGGREGATED or small reference frame (it is typically a
    * fixed profile table, KB-sized); the batch side is one hash
    * aggregate of the micro-batch. */
  def driftSink(stream: DataFrame, reference: DataFrame, colName: String,
      path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.analytics.Profiler.categoricalDrift(reference, batch, colName)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(path)
        ()
      }
      .option("checkpointLocation", checkpoint)

  /** Streaming ANN-index maintenance: each micro-batch of embedding rows
    * appends into a persisted [[graft.similarity.SimilarityOps
    * .lshBuildIndex]] layout via [[graft.similarity.SimilarityOps
    * .lshAppendIndex]] — new vectors become searchable at micro-batch
    * latency with NO rebuild, because LSH bucket assignment is a pure
    * function of the vector under the build's seeded hyperplanes
    * (append ≡ rebuild; the property IVF lacks, which is why the
    * streaming sink is the LSH one). `planes`/`tables` must match the
    * build. Checkpointing makes delivery at-least-once: a REPLAYED batch
    * re-appends its ids (duplicate candidates collapse in the query
    * path's id-dedup, so results stay correct; compact/rebuild cycles
    * clean the storage).
    *
    * Scale: per micro-batch one narrow projection + `tables` bucket rows
    * per vector, partitioned-append into the probed-at-file-listing
    * layout — the sketch-table pattern applied to an INDEX. */
  def lshIndexSink(stream: DataFrame, path: String, planes: Int = 4,
      tables: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.similarity.SimilarityOps.lshAppendIndex(batch, path,
          planes, tables, idCol, vecCol)
        ()
      }
      .option("checkpointLocation", checkpoint)

  /** Stream-stream interval join: left events matched to right events of
    * the same key within `[‑lowerMs, +upperMs]` of event time. BOTH sides
    * need watermarks (state eviction) and the time-bound condition (state
    * scope) — without either, join state grows forever. State per key is
    * bounded by (watermark + interval width) × arrival rate.
    *
    * `joinType` "left_outer" is the attribution shape ("which
    * impressions never converted"): an unmatched left row is emitted
    * with NULL right columns once the watermark passes the end of its
    * join window — i.e. only when no future right row could still
    * match, so outer results arrive with watermark latency by
    * construction (the Structured Streaming contract, not a bug).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lowerMs: Long, upperMs: Long,
      delay: String, joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer").contains(joinType),
      s"intervalJoin supports inner/left_outer, got '$joinType'")
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lowerMs MILLISECONDS") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $upperMs MILLISECONDS"),
      joinType)
  }

  /** A completed user session emitted by [[sessionizeWithState]]. */
  case class Session(key: String, startUs: Long, endUs: Long, nEvents: Long)

  /** Internal per-key accumulator for [[sessionizeWithState]] (public:
    * the state encoder's generated code constructs it reflectively). */
  case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)

  /** T5 via CUSTOM state — `flatMapGroupsWithState` sessionization, the
    * escape hatch when built-in `session_window` can't express the
    * semantics (e.g. emitting only on session close, carrying arbitrary
    * per-session accumulators). Input: (key, eventTimeUs) pairs with a
    * watermark already set on `tsCol`; output: one [[Session]] row per
    * CLOSED session (closed = event-time timeout `gapUs` after the last
    * event, tracked by GroupState event-time timers).
    *
    * Scale: state is O(1) per active key (three longs), evicted on
    * timeout; shuffle = one hash exchange on the key, exactly like any
    * streaming agg. Hot keys hold one state object, not their events.
    */
  def sessionizeWithState(df: DataFrame, keyCol: String, tsCol: String,
      gapUs: Long, lateness: String = "0 seconds")
      : org.apache.spark.sql.Dataset[Session] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    // watermark applied AFTER the projection so the watermarked column is
    // exactly the one flowing into the stateful operator (the checker
    // requires it in scope at [flatMap]GroupsWithState)
    df.select(col(keyCol).cast("string").as("k"),
      col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", lateness)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, events, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(key, s.startUs, s.lastUs + gapUs, s.nEvents))
          } else {
            val ts = events.map(e => us(e._2)).toSeq.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                // within [start−gap, last+gap]: merge, extending EITHER
                // end — a late cross-batch event may precede the session
                // start, and keeping the old start would report a session
                // that begins after events it contains
                case Some(s) if t >= s.startUs - gapUs && t - s.lastUs <= gapUs =>
                  cur = Some(SessionState(math.min(s.startUs, t),
                    math.max(s.lastUs, t), s.nEvents + 1))
                // more than a gap BEFORE the open session: a straggler
                // from an earlier, already-gap-separated session — emit
                // it as its own closed session (its close time passed)
                case Some(s) if t < s.startUs - gapUs =>
                  closed += Session(key, t, t + gapUs, 1)
                case Some(s) =>
                  closed += Session(key, s.startUs, s.lastUs + gapUs, s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close the session when the event-time watermark passes
              // last + gap
              state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000)
            }
            closed.iterator
          }
      }
  }

  /** A user's funnel progress emitted by [[funnelWithState]] whenever
    * their depth advances. */
  case class FunnelProgress(key: String, stepReached: Int, t1Us: Long)

  /** Internal per-key state for [[funnelWithState]]: the first-touch
    * frontier — earliest qualifying event time per reached step, -1 for
    * steps not yet reached (always a prefix). Public: the state encoder's
    * generated code constructs it reflectively. */
  case class FunnelFrontier(frontier: Seq[Long])

  /** STREAMING first-touch funnel — the incremental twin of
    * [[graft.analytics.EventFunnel.funnel]] via `flatMapGroupsWithState`:
    * per user the state is the k-long frontier (earliest step-1 ts, then
    * the earliest qualifying ts of each later step), events fold into it
    * as they arrive and one [[FunnelProgress]] row is emitted whenever a
    * user's depth advances. Frontier entries never change once set
    * (first-touch is monotone), so the operator is EXACT — equal to the
    * batch funnel over everything ingested — whenever each user's events
    * arrive in event-time order across batches (within a batch they are
    * sorted); an out-of-order straggler that would have anchored an
    * earlier chain is not retracted, the documented kappa-style contract
    * (same arrival-order caveat as streaming dedup's keep-first).
    *
    * Scale: state is k longs per user regardless of event volume; one
    * hash exchange on the key per micro-batch, like any streaming agg. */
  def funnelWithState(df: DataFrame, keyCol: String, typeCol: String,
      tsUsCol: String, steps: Seq[String], windowUs: Long)
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, s"duplicate step in $steps")
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stepIdx = steps.zipWithIndex.toMap
    df.select(col(keyCol).cast("string").as("k"),
        col(typeCol).cast("string").as("t"),
        col(tsUsCol).cast("long").as("ts"))
      .filter(col("t").isin(steps: _*))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelFrontier, FunnelProgress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, events, state: GroupState[FunnelFrontier]) =>
          val frontier = state.getOption.map(_.frontier.toArray)
            .getOrElse(Array.fill(steps.size)(-1L))
          val before = frontier.count(_ >= 0)
          // sort the batch slice by (ts, type): the cascade's strictly-
          // after rule makes equal-ts ordering irrelevant, the ts sort
          // restores event-time order within the batch
          events.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, ty, ts) =>
            val j = stepIdx(ty)
            if (j == 0) { if (frontier(0) < 0) frontier(0) = ts }
            else if (frontier(j) < 0 && frontier(j - 1) >= 0 &&
                ts > frontier(j - 1) && ts - frontier(0) <= windowUs)
              frontier(j) = ts
          }
          val depth = frontier.count(_ >= 0)
          if (depth != before) {
            // frontier entries are write-once, so state changes iff depth
            // advanced — one tiny state write per advancing user per batch
            state.update(FunnelFrontier(frontier.toSeq))
            Iterator.single(FunnelProgress(key, depth, frontier(0)))
          } else Iterator.empty
      }
  }

  /** Input row of [[streamingTokenBudget]]. */
  case class BudgetRow(id: Long, stratum: String, weight: Long)

  /** Admitted row: `cum_after` is the stratum's cumulative admitted
    * weight INCLUDING this row — the streaming audit trail of the
    * quota. */
  case class Admitted(id: Long, stratum: String, weight: Long,
      cumAfter: Long)

  /** [[TokenBudgetProcessor]]'s per-stratum state is ONE long (the
    * cumulative admitted weight), read and written once per
    * (key, micro-batch) — the `transformWithState` arbitrary-state API
    * (Spark 4.x), which unlike `flatMapGroupsWithState` composes typed
    * per-key state variables with TTL and timers, and requires the
    * RocksDB state store provider. */
  private class TokenBudgetProcessor(budgets: Map[String, Long],
      defaultBudget: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, BudgetRow, Admitted] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[BudgetRow],
        timerValues: TimerValues): Iterator[Admitted] = {
      val budget = budgets.getOrElse(key, defaultBudget)
      var c = if (cum.exists()) cum.get() else 0L
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Admitted]
      // id-sorted WITHIN the micro-batch so admission is deterministic
      // under any shuffle schedule (cross-batch order is the stream's
      // arrival order — inherently the quota's semantics)
      rows.toSeq.sortBy(_.id).foreach { r =>
        if (r.weight >= 0 && c + r.weight <= budget) {
          c += r.weight
          admitted += Admitted(r.id, r.stratum, r.weight, c)
        }
      }
      cum.update(c)
      admitted.iterator
    }
  }

  /** Streaming per-stratum token-budget admission — the streaming sibling
    * of [[graft.ops.Sampling.tokenBudget]]: a document is admitted iff
    * its stratum's cumulative admitted weight ACROSS ALL MICRO-BATCHES
    * stays within the stratum's budget ("stop taking crawl docs after
    * 10 B tokens, keep taking curated ones"). A row larger than the
    * remaining budget is dropped; later smaller rows may still fit
    * (the [[graft.ops.Sampling.tokenBudget]] contract, cumulatively).
    * Returns (id, stratum, weight, cumAfter).
    *
    * Scale: one hash exchange on the stratum per micro-batch; state is
    * O(1) per stratum (one long in the RocksDB store), so a million
    * strata cost MBs. Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider` (the transformWithState
    * engine's store). */
  def streamingTokenBudget(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue)
      : org.apache.spark.sql.Dataset[Admitted] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    df.select(col(idCol).cast("long").as("id"),
        col(strataCol).cast("string").as("stratum"),
        col(weightCol).cast("long").as("weight"))
      .as[BudgetRow]
      .groupByKey(_.stratum)
      .transformWithState(new TokenBudgetProcessor(budgets, defaultBudget),
        TimeMode.None(), OutputMode.Append())
  }
}
