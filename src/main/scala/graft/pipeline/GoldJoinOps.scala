package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STREAMING join-mart maintenance — the row-level sibling of
  * [[GoldAggOps.goldAggSink]]: the dim⋈fact star mart is maintained by
  * `foreachBatch` sinks, self-contained in one persisted store. The
  * same sinks serve a live micro-batch stream and the pipeline's
  * incremental join marts (`gold.mode: "incremental"` or
  * `gold.cadence: "streaming"`), which
  * [[PipelineRunner.buildGoldStreamMart]] drives once per triggered
  * run.
  *
  * Store layout under `storeDir` (every substore a crash-safe
  * [[GenStore]] generation dir; all writes group-hash-rebalanced via
  * [[GoldAggOps.writeSizeScaled]] — no single-task funnels):
  *
  *   - `facts/`      latest fact row per fact PK (full fact columns +
  *                    `_sj_seq`, `_sj_live`) — the re-derivation base.
  *   - `dim_<name>/` latest dim row per join key (dim columns +
  *                    `_sj_seq`, `_sj_live`) — the current dim state.
  *   - `rows/`       derived mart rows: the projected mart columns +
  *                    hidden upsert keys (`_mpk_<pk>`, `_sj_seq`,
  *                    `_sj_live`).
  *
  * [[factSink]] upserts each fact CDC batch into `facts/`, derives the
  * batch against the CURRENT dim states, and upserts `rows/` (a fact
  * whose inner join drops out, or a fact delete, upserts a TOMBSTONE).
  * [[dimSink]] upserts each dim CDC batch into its `dim_<name>/`,
  * restricts the fact store to the batch's touched join keys via the
  * TWO-PHASE semi-join of [[affectedFacts]], and re-derives exactly
  * those facts — O(batch) + O(affected facts' history) per
  * micro-batch, never a table re-join or a full-store window. A
  * [[StreamTemporal]]
  * dim generalizes this to SCD2: the dim feed is a change stream, the
  * store keeps the full history keyed by change id, derivation
  * compacts the TOUCHED keys' intervals and temporal-joins facts to
  * the version valid at their event time — late-arriving history
  * (interval splits) propagates at micro-batch latency.
  *
  * Replay discipline (the goldAggSink contract): each sink keeps a
  * `<marker> = "batchId|seq|queryId"` high-water file, replaced
  * ATOMICALLY ([[StoreMarkers.writeAtomic]]) AFTER its appends. A
  * batch at or below the marker from the SAME query identity skips
  * before any write; from a DIFFERENT identity (a re-checkpointed
  * feed, whose batch ids restarted at 0) it FAILS LOUD instead of
  * silently dropping data. The one unsafe window (crash between append
  * and marker) re-appends bit-identical rows at the SAME seq (the seq
  * derives from the markers, not a counter advanced mid-batch), which
  * the keep-latest read collapses — provided a replayed batch id
  * carries the same rows (a live stream's offset log pins that; the
  * triggered run pins each delta's version range before its first
  * sink call and calls [[factBatch]] / [[dimBatch]] directly). Writer
  * concurrency: ONE sink processes a micro-batch at a time per store —
  * a per-store JVM lock serializes the fact and dim queries on one
  * SparkSession (the deployment pattern), and a store-scoped
  * [[RunLock]] (heartbeat + stale-break, held per micro-batch) makes a
  * sink in a SECOND process fail loud rather than interleave marker
  * reads and mint duplicate seqs.
  *
  * Scale: per fact batch one broadcast-dim join over O(batch) rows;
  * per dim batch two column-pruned fact-store scans + a re-join over
  * O(affected facts); stores bounded by size-tiered compaction
  * (keep-latest is a max-stamp semilattice — any subset folds
  * invariantly). The mart never windows or re-joins the whole fact
  * store.
  */
object GoldJoinOps {

  /** TEMPORAL (SCD2) dim spec — the config-declared temporal marts'
    * `gold.join.temporal`: the dim FEED is an append-only change
    * stream; each change batch re-compacts the touched keys' validity
    * intervals ([[graft.ops.Scd2.scd2]]) and re-derives ALL facts of
    * those keys against the new intervals — so a LATE-ARRIVING history
    * row (an interval split) propagates at micro-batch latency.
    * `changeKey` is the unique change id (store keep-latest key and
    * scd2 tie-break); `dimTs`/`factTs` the interval/event times (same
    * numeric unit); `attrs` the tracked columns. */
  final case class StreamTemporal(factTs: String, dimTs: String,
      changeKey: String, attrs: Seq[String])

  /** One star dim: `keys` = (factCol, dimCol) equi pairs; `joinType`
    * "inner" or "left"; `deleteCol` names an optional boolean CDC
    * delete flag in the DIM feed (absent = upsert-only feed).
    * `temporal` makes this an SCD2 change-stream dim: exactly one key
    * pair, inner or left join (inner = the warehouse convention, facts
    * outside every interval drop; left = they survive null-filled), no
    * delete flag (a change stream is append-only history). */
  final case class StreamDim(name: String, keys: Seq[(String, String)],
      joinType: String = "inner", deleteCol: Option[String] = None,
      temporal: Option[StreamTemporal] = None) {
    require(Set("inner", "left").contains(joinType),
      s"dim '$name': joinType must be inner or left, got '$joinType' " +
        "(right/full would break the fact-PK-keyed upsert store)")
    temporal.foreach { _ =>
      require(keys.size == 1,
        s"temporal dim '$name' anchors on exactly one (factKey, dimKey) " +
          s"pair, got ${keys.size}")
      require(deleteCol.isEmpty,
        s"temporal dim '$name' is an append-only change stream - " +
          "retract history by rebuilding, not a delete flag")
    }
    /** The dim STORE's keep-latest key: the change id for a temporal
      * history store, the join keys for a flat star dim. */
    def storeKeys: Seq[String] =
      temporal.map(t => Seq(t.changeKey)).getOrElse(keys.map(_._2))
  }

  /** The streaming star spec: fact PK, dims, mart projection (SQL
    * exprs over fact+dim columns; empty = all columns), and an
    * optional boolean delete flag in the FACT feed. */
  final case class StreamStar(pkCols: Seq[String], dims: Seq[StreamDim],
      select: Seq[String] = Seq.empty,
      factDeleteCol: Option[String] = None) {
    require(pkCols.nonEmpty, "StreamStar needs at least one fact PK column")
    require(dims.nonEmpty, "StreamStar needs at least one dim")
    require(dims.map(_.name).distinct.size == dims.size,
      "StreamStar dim names must be unique")
  }

  private val Seq_ = "_sj_seq"
  private val Live = "_sj_live"

  /** Per-store JVM lock serializing micro-batches ACROSS the fact and
    * dim sinks: Structured Streaming runs each query on its own thread,
    * so without this two overlapping batches could read the same
    * markers, mint the SAME seq, and leave two same-seq rows for one PK
    * whose keep-latest tie-break picks an arbitrary (possibly stale)
    * winner forever. The lock covers the deployment pattern (both
    * queries on one SparkSession); across PROCESSES the single-writer
    * contract in the object doc still applies (the RunLock posture). */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(storeDir: String): Object =
    storeLocks.computeIfAbsent(storeDir, _ => new Object)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def store(fs: FileSystem, root: String): GenStore =
    new GenStore(fs, root, _ => ())

  /** True when every dim substore of this star already has a live data
    * directory — the steady-state signal that the mart's fact and dim
    * feeds may be driven CONCURRENTLY: [[derive]] fails loud for a
    * left-join dim whose store has never seen a batch, so a virgin
    * mart must drain its dim feeds before the fact feed (the
    * sequential first pass); once every dim store exists, any
    * fact/dim micro-batch interleaving converges to the same mart
    * state (factSink derives against the dims current at its batch,
    * dimSink re-derives the affected facts — see the object doc's
    * replay/lock discipline). The batches themselves still serialize on
    * the store lock, so concurrency buys only the feeds' work outside
    * it: a full-mode input's version-diff probe, not an
    * incremental-silver input's drain. */
  def dimStoresReady(spark: SparkSession, storeDir: String,
      star: StreamStar): Boolean = {
    val fs = fsOf(spark, storeDir)
    star.dims.forall(d => store(fs, s"$storeDir/dim_${d.name}").exists)
  }

  /** High-water marker: "batchId|seq|queryId", written atomically
    * AFTER the batch's appends ([[StoreMarkers.writeAtomic]] — a
    * truncate-then-write here could crash into an EMPTY marker, rolling
    * the seq clock backwards so later batches mint seqs at or below
    * orphaned pre-crash rows; atomic replace closes that window).
    * `queryId` is the writing stream's checkpoint identity
    * ([[StoreMarkers.queryId]]) — the replay gate's feed fingerprint.
    * Markers written before r13 carry no queryId (legacy two-field
    * form, parsed with `queryId = None` = match-any). */
  private final case class Marker(batchId: Long, seq: Long,
      queryId: Option[String])

  /** Fail-loud parse: a marker that EXISTS but does not parse is
    * treated as corruption, never as "no marker" — mapping it to None
    * would silently restart the seq clock at 1 and keep-latest would
    * resurrect every superseded row in the store. */
  private def readMarker(fs: FileSystem, p: Path): Option[Marker] =
    StoreMarkers.readText(fs, p).map { txt =>
      val parsed = txt.split('|') match {
        case Array(b, s) =>
          for (bv <- b.toLongOption; sv <- s.toLongOption)
            yield Marker(bv, sv, None)
        case Array(b, s, q) =>
          for (bv <- b.toLongOption; sv <- s.toLongOption)
            yield Marker(bv, sv, Some(q))
        case _ => None
      }
      parsed.getOrElse(throw new IllegalStateException(
        s"stream-mart marker $p is unreadable ('$txt') - refusing to " +
          "guess the seq clock (a reset would resurrect superseded " +
          "rows); restore the marker or rebuild the store"))
    }

  private def writeMarker(fs: FileSystem, p: Path, batchId: Long,
      seq: Long, queryId: Option[String]): Unit =
    StoreMarkers.writeAtomic(fs, p,
      s"$batchId|$seq${queryId.fold("")(q => s"|$q")}")

  /** The replay gate — returns true when the batch must be processed.
    * A batch at or below the marker's high-water id from the SAME query
    * identity is an at-least-once replay: skip before any write. The
    * same id range from a DIFFERENT identity means the feed was
    * re-checkpointed (batch ids restarted at 0) — silently skipping
    * would drop its data until the new clock climbs past the old
    * marker, so fail loud instead (the r12-ADVICE data-loss window).
    *
    * LEGACY-marker adoption (r13-ADVICE): a pre-r13 marker carries no
    * queryId, so a replayed batch against it matches ANY feed — and
    * because a skipped batch never rewrote the marker, such a store
    * kept the old silent-drop behavior indefinitely. When the current
    * identity IS known, a legacy-marker skip now rewrites the marker in
    * place with the observed queryId (batchId/seq unchanged — the skip
    * stays a skip), so the gate becomes identity-checked after the
    * FIRST replay instead of never. Sound: a replayed batch at or below
    * the marker from the feed that now presents is by definition the
    * feed whose batches the store consumed (any OTHER feed would be the
    * re-checkpoint case this gate exists to catch — adopting its id on
    * first contact is exactly the takeover semantics a legacy store
    * needs, and a SECOND identity after that fails loud). */
  private def replayGate(fs: FileSystem, markerP: Path, batchId: Long,
      qid: Option[String], what: String): Boolean =
    readMarker(fs, markerP) match {
      case Some(m) if batchId <= m.batchId =>
        require(m.queryId.isEmpty || qid.isEmpty || m.queryId == qid,
          s"$what: batch $batchId is at or below the store's high-water " +
            s"batch ${m.batchId}, but comes from a different streaming " +
            s"query (checkpoint id ${qid.getOrElse("?")} vs the marker's " +
            s"${m.queryId.getOrElse("?")}). A re-checkpointed feed " +
            "restarts batch ids at 0 and silently skipping would LOSE " +
            "its batches - resume the original checkpoint, or point the " +
            "new feed at a fresh store and rebuild")
        if (m.queryId.isEmpty && qid.nonEmpty)
          writeMarker(fs, markerP, m.batchId, m.seq, qid)
        false
      case _ => true
    }

  private[pipeline] def factMarker(storeDir: String): Path =
    new Path(s"$storeDir/_fact_marker")

  private[pipeline] def dimMarker(storeDir: String, name: String): Path =
    new Path(s"$storeDir/_dim_${name}_marker")

  private def markerPaths(storeDir: String, star: StreamStar)
      : Seq[Path] =
    factMarker(storeDir) +: star.dims.map(d => dimMarker(storeDir, d.name))

  /** SANCTIONED TAKEOVER MIGRATION (see
    * [[Pipeline.PipelineRunner.takeoverStreamMart]] for the operator
    * contract): reset the fact and per-dim markers' batch clocks to −1
    * and strip their query identities, KEEPING each seq — the next
    * stream's batch 0 processes (nothing is at-or-below −1) and stamps
    * its own identity on first write, while keep-latest stays monotone
    * because new seqs still mint above every committed one. Runs under
    * the store lock; a store with no markers (virgin) is a no-op. */
  def migrateStoreIdentity(spark: SparkSession, storeDir: String,
      star: StreamStar): Unit = {
    val fs = fsOf(spark, storeDir)
    lockFor(storeDir).synchronized {
      RunLock.withLock(spark, storeDir) {
        markerPaths(storeDir, star).foreach { p =>
          readMarker(fs, p).foreach(m =>
            writeMarker(fs, p, -1L, m.seq, None))
        }
      }
    }
  }

  /** The batch's seq: one past the max seq any sink has committed —
    * derived from the markers (not a counter advanced mid-batch) so a
    * crash-replay of the SAME batch mints the SAME seq and re-appends
    * bit-identical rows. */
  private def nextSeq(fs: FileSystem, storeDir: String,
      star: StreamStar): Long =
    markerPaths(storeDir, star)
      .flatMap(p => readMarker(fs, p)).map(_.seq)
      .foldLeft(0L)(math.max) + 1L

  /** THE keep-latest total order, written once for reads AND
    * compaction (the two must never drift — fold-subset invariance
    * depends on it): max `_sj_seq` per key, replay-duplicate ties
    * broken deterministically by the full-row hash. */
  private def keepLatestRank(raw: DataFrame, keys: Seq[String])
      : DataFrame = {
    val w = Window.partitionBy(keys.map(c => col(s"`$c`")): _*)
      .orderBy(col(Seq_).desc,
        xxhash64(raw.columns.map(c => col(s"`$c`")).toSeq: _*).desc)
    raw.withColumn("_sj_rn", row_number().over(w))
      .filter(col("_sj_rn") === 1).drop("_sj_rn")
  }

  /** Keep-latest view of a substore: [[keepLatestRank]] per `keyCols`,
    * live rows only, hidden columns dropped unless `keepHidden`. None
    * when the store has no data yet. `restrict` = (columns, keys-frame)
    * broadcast-semi-joins the RAW store read down to the rows matching
    * the (batch-sized) keys frame BEFORE the window — sound only when
    * every row of a keep-latest key group shares the restricting
    * columns' values (true for a flat dim store, whose restricting
    * columns ARE the window keys, and for a temporal history store,
    * where each change id carries one join-key value); a store whose
    * restricting column can CHANGE across a key's versions (the fact
    * store's join keys) must restrict AFTER the window instead. */
  private def latest(spark: SparkSession, st: GenStore,
      keyCols: Seq[String], keepHidden: Boolean = false,
      restrict: Option[(Seq[String], DataFrame)] = None)
      : Option[DataFrame] = {
    if (!st.exists) return None
    val raw0 = spark.read.option("mergeSchema", "true")
      .parquet(st.dataDir)
    val raw = restrict match {
      case Some((cols, keys)) =>
        raw0.join(broadcast(keys), cols, "left_semi")
      case None => raw0
    }
    val kept = keepLatestRank(raw, keyCols).filter(col(Live))
    Some(if (keepHidden) kept else kept.drop(Seq_, Live))
  }

  private def requireUnique(batch: DataFrame, keys: Seq[String],
      what: String): Unit = {
    val dup = batch.groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("_c")).filter(col("_c") > 1L).limit(1)
    require(dup.isEmpty,
      s"$what: a micro-batch carries more than one row per key " +
        s"(${keys.mkString(", ")}) - the keep-latest store has no " +
        "within-batch order to break the tie; pre-compact the feed to " +
        "one row per key per batch (e.g. the CDC source's latest image)")
  }

  /** Derive mart rows for `facts` (full fact columns, live rows)
    * against the CURRENT dim states, plus tombstones for fact PKs with
    * no surviving join row; both stamped (`_mpk_*`, seq, live). A dim
    * whose feed has not started yet makes every fact an inner-join
    * dropout: the whole batch tombstones (and re-derives when the
    * dim's first batch arrives) — a left join there would need the dim
    * schema to null-fill, which only the dim feed knows, so it fails
    * loud instead. */
  private def derive(spark: SparkSession, storeDir: String,
      star: StreamStar, facts: DataFrame, seq: Long): DataFrame = {
    val fs = fsOf(spark, storeDir)
    def tombs(of: DataFrame): DataFrame = of
      .select(star.pkCols.map(c => col(s"`$c`").as(s"_mpk_$c")): _*)
      .withColumn(Seq_, lit(seq)).withColumn(Live, lit(false))
    // restrict every dim read to the BATCH's join keys before the
    // keep-latest window and the broadcast: a data-sized dim store
    // (user-grain enrichment over a 100 TB feed) must never window or
    // broadcast whole — per batch the dim slice is O(batch keys). The
    // pushdown is sound per [[latest]]'s restrict contract (flat dims
    // restrict on their window keys; temporal history rows carry one
    // join-key value per change id).
    val dimStates: Seq[(StreamDim, Option[DataFrame])] =
      star.dims.map { d =>
        val keyProj = facts.select(d.keys.map { case (f, dc) =>
          col(s"`$f`").as(dc) }: _*).distinct()
        d -> latest(spark, store(fs, s"$storeDir/dim_${d.name}"),
          d.storeKeys, restrict = Some((d.keys.map(_._2), keyProj)))
      }
    dimStates.collect { case (d, None) => d }.foreach { d =>
      require(d.joinType == "inner",
        s"streaming join mart at $storeDir: left-join dim '${d.name}' " +
          "has no store yet - process at least one dim batch before " +
          "fact batches, or use an inner join")
    }
    if (dimStates.exists(_._2.isEmpty)) return tombs(facts)
    val joined = dimStates.foldLeft(facts) { case (acc, (d, dimLive)) =>
      val dl = dimLive.get
      d.temporal match {
        case Some(t) =>
          val (factKey, dimKey) = d.keys.head
          // dl is already restricted to the touched keys' history (the
          // latest() pushdown above) — scd2 compacts O(touched changes)
          val hist = graft.ops.Scd2
            .scd2(dl, dimKey, t.dimTs, t.changeKey, t.attrs)
            .drop("is_current")
          val keyed =
            if (factKey.equalsIgnoreCase(dimKey)) hist
            else hist.withColumnRenamed(dimKey, factKey)
          graft.ops.Scd2.temporalJoin(acc, broadcast(keyed), factKey,
            t.factTs, d.joinType)
        case None =>
          val cond = d.keys.map { case (f, dc) =>
            acc(s"`$f`") === dl(s"`$dc`") }.reduce(_ && _)
          d.keys.map(_._2).foldLeft(
            acc.join(broadcast(dl), cond, d.joinType))(
            (j, c) => j.drop(dl(s"`$c`")))
      }
    }
    val projCols =
      if (star.select.nonEmpty) star.select.map(expr)
      else joined.columns.map(c => col(s"`$c`")).toSeq
    val derived = joined.select(projCols ++
        star.pkCols.map(c => col(s"`$c`").as(s"_mpk_$c")): _*)
      .withColumn(Seq_, lit(seq)).withColumn(Live, lit(true))
    val tomb = tombs(facts)
      .join(derived.select(star.pkCols.map(c => col(s"_mpk_$c")): _*),
        star.pkCols.map(c => s"_mpk_$c"), "left_anti")
    derived.unionByName(tomb, allowMissingColumns = true)
  }

  private def upsertRows(spark: SparkSession, storeDir: String,
      star: StreamStar, rows: DataFrame, compactAfter: Int): Unit = {
    val fs = fsOf(spark, storeDir)
    val rs = store(fs, s"$storeDir/rows")
    GoldAggOps.writeSizeScaled(rows,
      star.pkCols.map(c => s"_mpk_$c"), "append", rs.dataDir)
    compactKeepLatest(spark, rs, star.pkCols.map(c => s"_mpk_$c"),
      compactAfter, s"stream mart rows $storeDir")
  }

  /** Size-tiered keep-latest compaction of a substore — sound on any
    * file subset (max-stamp semilattice: each key's subset-max survives
    * the fold and the global max still wins at read). */
  private def compactKeepLatest(spark: SparkSession, st: GenStore,
      keys: Seq[String], threshold: Int, label: String): Unit =
    st.compactTiered(threshold, label) { paths =>
      keepLatestRank(spark.read.option("mergeSchema", "true")
        .parquet(paths: _*), keys)
    } { (df, to) =>
      GoldAggOps.writeSizeScaled(df, keys, "overwrite", to)
    }

  /** FACT-side sink: per micro-batch, upsert the fact store and derive
    * the batch's mart rows against the current dim states. The feed
    * must carry at most one row per fact PK per batch (fail-loud). A
    * thin wrapper over [[factBatch]]. */
  def factSink(stream: DataFrame, star: StreamStar, storeDir: String,
      checkpoint: String, compactAfter: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(compactAfter >= 1, s"compactAfter must be >= 1")
    GoldAggOps.batchSink(stream, checkpoint)(
      factBatch(_, _, _, star, storeDir, compactAfter))
  }

  /** One fact batch, gated on (`batchId`, `qid`) — the body of
    * [[factSink]], also called directly by the triggered run. */
  def factBatch(batch: DataFrame, batchId: Long, qid: Option[String],
      star: StreamStar, storeDir: String, compactAfter: Int): Unit =
    lockFor(storeDir).synchronized {
      val spark = batch.sparkSession
      val fs = fsOf(spark, storeDir)
      val markerP = factMarker(storeDir)
      // cross-PROCESS single-writer enforcement (the JVM monitor above
      // only covers the one-SparkSession deployment): the store-scoped
      // RunLock makes a second process's sink fail loud instead of
      // interleaving marker reads and minting duplicate seqs. The replay
      // gate reads INSIDE the lock — a rival's commit between gate and
      // lock would otherwise be invisible.
      RunLock.withLock(spark, storeDir) {
        if (replayGate(fs, markerP, batchId, qid,
            s"streaming join mart factSink at $storeDir")) {
          val seq = nextSeq(fs, storeDir, star)
          val del = star.factDeleteCol
            .map(c => coalesce(col(s"`$c`"), lit(false)))
            .getOrElse(lit(false))
          val stamped = batch.withColumn(Live, !del).withColumn(Seq_,
              lit(seq)).drop(star.factDeleteCol.toSeq: _*)
            .localCheckpoint(false) // feeds the check, store AND derive
          requireUnique(stamped, star.pkCols,
            s"streaming join mart factSink at $storeDir")
          val fstore = store(fs, s"$storeDir/facts")
          GoldAggOps.writeSizeScaled(stamped, star.pkCols, "append",
            fstore.dataDir)
          val liveRows = stamped.filter(col(Live)).drop(Seq_, Live)
          upsertRows(spark, storeDir, star,
            derive(spark, storeDir, star, liveRows, seq)
              .unionByName(
                // fact deletes tombstone directly
                stamped.filter(!col(Live))
                  .select(star.pkCols.map(c =>
                    col(s"`$c`").as(s"_mpk_$c")): _*)
                  .withColumn(Seq_, lit(seq))
                  .withColumn(Live, lit(false)),
                allowMissingColumns = true),
            compactAfter)
          writeMarker(fs, markerP, batchId, seq, qid)
          compactKeepLatest(spark, fstore, star.pkCols, compactAfter,
            s"stream mart facts $storeDir")
        }
      }
    }

  /** DIM-side sink for dim `name`: per micro-batch, upsert the dim
    * store, then re-derive exactly the facts whose join keys the batch
    * touched ([[affectedFacts]]' two-phase semi-join — O(affected
    * facts' history), never a table re-join or full-store window). The
    * feed must carry at most one row per join key per batch
    * (fail-loud). A thin wrapper over [[dimBatch]]. */
  def dimSink(stream: DataFrame, name: String, star: StreamStar,
      storeDir: String, checkpoint: String, compactAfter: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val d = star.dims.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"dimSink: '$name' is not a dim of this star " +
          s"(${star.dims.map(_.name).mkString(", ")})"))
    GoldAggOps.batchSink(stream, checkpoint)(
      dimBatch(_, _, _, d, star, storeDir, compactAfter))
  }

  /** One batch of dim `d`, gated on (`batchId`, `qid`) — the body of
    * [[dimSink]], also called directly by the triggered run. */
  def dimBatch(batch: DataFrame, batchId: Long, qid: Option[String],
      d: StreamDim, star: StreamStar, storeDir: String,
      compactAfter: Int): Unit =
    lockFor(storeDir).synchronized {
      val spark = batch.sparkSession
      val fs = fsOf(spark, storeDir)
      val markerP = dimMarker(storeDir, d.name)
      val dimKeys = d.storeKeys
      RunLock.withLock(spark, storeDir) {
        if (replayGate(fs, markerP, batchId, qid,
            s"streaming join mart dimSink(${d.name}) at $storeDir")) {
          val seq = nextSeq(fs, storeDir, star)
          val del = d.deleteCol
            .map(c => coalesce(col(s"`$c`"), lit(false)))
            .getOrElse(lit(false))
          val stamped = batch.withColumn(Live, !del)
            .withColumn(Seq_, lit(seq)).drop(d.deleteCol.toSeq: _*)
            .localCheckpoint(false)
          requireUnique(stamped, dimKeys,
            s"streaming join mart dimSink(${d.name}) at $storeDir")
          val dstore = store(fs, s"$storeDir/dim_${d.name}")
          GoldAggOps.writeSizeScaled(stamped, dimKeys, "append",
            dstore.dataDir)
          // affected facts: the batch's touched keys restrict the fact
          // store BEFORE its keep-latest window (updates AND deletes
          // both invalidate their keys' derived rows)
          val touched = stamped.select(d.keys.map { case (f, dc) =>
            col(s"`$dc`").as(f) }: _*).distinct()
          affectedFacts(spark, storeDir, star, d, touched)
            .foreach { affected =>
              upsertRows(spark, storeDir, star,
                derive(spark, storeDir, star, affected, seq),
                compactAfter)
            }
          writeMarker(fs, markerP, batchId, seq, qid)
          compactKeepLatest(spark, dstore, dimKeys, compactAfter,
            s"stream mart dim ${d.name} $storeDir")
        }
      }
    }

  /** The live fact rows a dim batch's `touched` join keys affect — the
    * TWO-PHASE restriction that keeps the dim path O(affected facts),
    * never a full-store window (the r12-verdict scale item: `latest()`
    * over the whole fact store shuffled O(store) per dim micro-batch).
    * The fact store CANNOT be restricted on join keys directly — a
    * PK's join key can change across its versions, and [[latest]]'s
    * restrict contract requires the restricting columns constant per
    * window-key group. So:
    *
    *   1. ANY-VERSION semi-join on the touched keys → candidate PKs.
    *      A superset of the PKs whose LIVE row matches (the live row is
    *      itself a stored version, so it is found); a PK matching only
    *      via a superseded version re-derives harmlessly (derive joins
    *      each fact's CURRENT key against the CURRENT dim state, and
    *      the rows-store upsert is idempotent keep-latest). One
    *      column-pruned scan + a broadcast semi-join — no shuffle of
    *      the store.
    *   2. Semi-join the raw store on those PKs — ALL versions of each
    *      candidate (the window key IS the restriction key, so this
    *      pre-window restriction is exact) — and run the keep-latest
    *      window over only that slice. No broadcast hint on the PK
    *      frame: it is O(affected PKs), and AQE promotes the join to a
    *      broadcast when the runtime stats allow.
    *
    * Cost per dim batch: two column-pruned store scans + a shuffle of
    * O(affected facts' history). None when the fact store has no data
    * yet. */
  private[graft] def affectedFacts(spark: SparkSession, storeDir: String,
      star: StreamStar, d: StreamDim, touched: DataFrame)
      : Option[DataFrame] = {
    val st = store(fsOf(spark, storeDir), s"$storeDir/facts")
    if (!st.exists) return None
    val raw = spark.read.option("mergeSchema", "true").parquet(st.dataDir)
    val candPks = raw
      .join(broadcast(touched), d.keys.map(_._1), "left_semi")
      .select(star.pkCols.map(c => col(s"`$c`")): _*).distinct()
    val slice = raw.join(candPks, star.pkCols, "left_semi")
    Some(keepLatestRank(slice, star.pkCols).filter(col(Live))
      .drop(Seq_, Live))
  }

  /** The LIVE mart: keep-latest row per fact PK over the rows store,
    * tombstones dropped, hidden columns dropped. */
  def readMart(spark: SparkSession, storeDir: String, star: StreamStar)
      : DataFrame = {
    val fs = fsOf(spark, storeDir)
    latest(spark, store(fs, s"$storeDir/rows"),
        star.pkCols.map(c => s"_mpk_$c"))
      .map(_.drop(star.pkCols.map(c => s"_mpk_$c"): _*))
      .getOrElse(throw new IllegalStateException(
        s"streaming join mart at $storeDir has no rows store yet - " +
          "run a fact batch first"))
  }
}
