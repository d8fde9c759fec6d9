package graft.config

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-entity pipeline configuration — the 6-field schema of the reference's
  * `dp_config_template.json` (reference `README.md:94-101`, read at
  * `02_silver_processing.py:82-98` and `01_bronze_ingestion.py:130`).
  *
  * Scale note (100 TB): config is tiny driver-side metadata; it never touches
  * executors except for the initial text read.
  */
final case class EntityConfig(
    /** Source file format for this entity's raw folder (parquet/json/csv/avro)
      * — reference `01_bronze_ingestion.py:130`. */
    rawFileFormat: String = "parquet",
    /** Physical-layout clustering columns (the liquid-clustering analog) —
      * reference `02_silver_processing.py:82,148`. */
    clusteringCols: Seq[String] = Nil,
    /** Data-skipping stats columns; carried as table metadata (parquet row
      * groups always have min/max) — reference `02_silver_processing.py:85-92`. */
    skippingIndexes: Seq[String] = Nil,
    /** Primary key for silver dedup; reference default `["id"]` —
      * `02_silver_processing.py:98`. */
    uniquePrimaryKey: Seq[String] = Seq("id"),
    /** Reserved in the reference (`README.md:100`); we implement it as
      * old->new pairs for capability completion. Accepts either a JSON object
      * or a list of "old:new" strings. */
    renamedColumns: Map[String, String] = Map.empty,
    /** Data-quality expectations name -> SQL predicate; a row is KEPT iff ALL
      * predicates are true (real SDP expect_all_or_drop semantics, SURVEY §2
      * P7) — reference `02_silver_processing.py:94-95,139-141`. */
    expectAllOrDrop: Map[String, String] = Map.empty,
    /** WARN-only expectations (the DLT `expect` tier): violations are
      * counted in the observe metrics / event log but the rows are KEPT.
      * Names must be unique across all four expectation maps. */
    expectAll: Map[String, String] = Map.empty,
    /** FAIL expectations (the DLT `expect_or_fail` tier): a publish with
      * ANY violating row is ABORTED before the table repoints — the
      * candidate version dir is deleted and the run throws, so readers
      * keep the last good version (the atomic versioned publish doubles
      * as the rollback). Counted on the same observe pass as the other
      * tiers; currently requires `silver_mode: "full"`. */
    expectAllOrFail: Map[String, String] = Map.empty,
    /** QUARANTINE expectations ([EXT] — the documented DLT quarantine
      * pattern): violating rows are EXCLUDED from silver and appended to
      * `<silver-schema>._quarantine_<entity>` with a `_violated` name
      * array, `_run_id`, and the ingestion clock — an auditable
      * dead-letter table instead of silent row loss. Costs one extra
      * filtered pass over the batch (the two sides are written with
      * opposite filters); currently requires `silver_mode: "full"`. */
    expectAllOrQuarantine: Map[String, String] = Map.empty,
    /** Silver materialization mode: `"full"` (reference behavior — batch
      * recompute of the whole bronze table per trigger,
      * `02_silver_processing.py:115-150`) or `"incremental"` (merge-on-
      * arrival: a checkpointed stream over the bronze directory folds only
      * NEW files into the published silver — the 100 TB path, where a full
      * recompute per trigger is the scalability cliff). Incremental silver
      * is laid out in [[silverBuckets]] PK-hash buckets and each merge
      * rewrites ONLY the buckets the new rows land in, so the write is
      * O(new + touched buckets), not O(silver); the table carries an extra
      * `_bucket` layout/audit column (same `_`-prefixed convention as
      * `_ingested_at`).
      *
      * Equivalence with the full recompute: both modes produce identical
      * silver contents PROVIDED `_ingested_at` is strictly monotone across
      * triggers (the wall-clock default). Under an injected FIXED clock
      * (the determinism mode) a PK whose latest version was CDC-deleted or
      * expectation-dropped leaves no tombstone in silver, so a later file
      * with the SAME ingestion timestamp re-contests the `_source_file`
      * tie-break against fewer candidates than the full recompute sees —
      * same-timestamp ties on such retracted PKs may resolve differently.
      * Keep-latest dedup is associative, the CDC filter and expectations
      * gate run on the merged frame, so with a monotone clock a new
      * deleted/violating latest version retracts its PK exactly like the
      * full recompute. */
    silverMode: String = "full",
    /** Number of PK-hash buckets for the incremental-silver layout (used
      * only when `silver_mode` is `"incremental"`). Each micro-batch
      * rewrites only the buckets containing new rows; size so one bucket
      * of silver fits a comfortable rewrite unit (at 100 TB silver and
      * ~1 GB rewrite units, thousands). Changing it on an existing table
      * requires a full refresh (bucket assignment is baked into the
      * layout); the pipeline fails loud on a mismatch. */
    silverBuckets: Int = 16,
    /** Merge strategy for `silver_mode: "incremental"`:
      *
      *  - `"copy_on_write"` (default): each merge REWRITES the touched
      *    buckets in full (read prev bucket ∪ new rows, keep-latest,
      *    publish a fresh bucket generation). Reads stay plain table
      *    scans; a 1-row update pays a whole-bucket write.
      *  - `"merge_on_read"`: each merge only APPENDS the batch's
      *    per-PK-latest rows as a small DELTA file per touched bucket
      *    (CDC deletes / expectation violations ride along as tombstone
      *    rows, `_retracted = true`), so the write is O(batch) — at
      *    100 TB silver a 1-row update writes kilobytes, not a
      *    multi-GB bucket. The published silver name becomes a MERGE
      *    VIEW: base rows whose PK is uncontested pass through
      *    untouched (one broadcast anti-join against the small delta PK
      *    set — never a table-sized shuffle), contested PKs resolve by
      *    the same keep-latest ordering the copy-on-write merge uses,
      *    and tombstone winners retract their PK. Buckets whose delta
      *    file count exceeds [[silverCompactAfter]] are compacted back
      *    into their base generation inline (the Hudi MOR /
      *    Iceberg merge-on-read posture on the repo's
      *    catalog-partition manifest).
      *
      * Same fixed-clock tie caveat as [[silverMode]]; switching
      * strategies on an existing table requires a full refresh (the
      * physical layouts differ — fails loud otherwise). */
    silverMerge: String = "copy_on_write",
    /** Merge-on-read only: compact a bucket back into its base
      * generation when it accumulates MORE than this many delta files.
      * Bounds the per-bucket read amplification (a view read touches at
      * most `silverCompactAfter + 1` generations per bucket) and the
      * broadcast delta-PK set. */
    silverCompactAfter: Int = 8,
    /** `silver_cdf`: incremental-silver CHANGE DATA FEED — each merge
      * batch also commits its row-level change images (`insert` /
      * `update_preimage` / `update_postimage` / `delete`, the Delta CDF
      * vocabulary) under `<silver>/_cdf/b<batchId>`, so downstream
      * consumers read O(changed rows) per batch instead of diffing
      * snapshots (which a bucketed layout cannot even offer — old
      * generations vacuum away). Streaming-cadence gold marts over an
      * incremental input enable this implicitly (the runner derives the
      * need from the config); set it explicitly only for EXTERNAL CDC
      * consumers — they own retention of the `_cdf` batches they read
      * (the pipeline auto-vacuums only what its own declared marts have
      * consumed). Costs one preimage lookup per merge batch: a
      * bucket-pruned read of the touched buckets' current rows
      * semi-joined to the batch PKs. */
    silverCdf: Boolean = false,
    /** Append a per-column data-quality profile
      * ([[graft.analytics.Profiler.profile]], approx-distinct mode) of
      * each just-published table (silver, and gold when declared) to
      * the pipeline's `_profile_log` on every publish — the monitoring census behind drift dashboards
      * and expectation authoring. OPT-IN because it is one extra
      * aggregate scan of the published table per publish (column-pruned
      * but full-row-count); at 100 TB enable it on the entities whose
      * distributions you actually watch. */
    profileOnPublish: Boolean = false,
    /** Optional declarative GOLD layer: a curated table derived from this
      * entity's silver table by the corpus-curation pipeline
      * ([[graft.llm.Curation]]), declared in config exactly the way the
      * reference declares bronze/silver flows (one decorated table per
      * entity — `01_bronze_ingestion.py:92-97` one layer down). Runs after
      * silver with the same expectations / layout / versioned-publish /
      * vacuum / lock semantics. */
    gold: Option[GoldConfig] = None
) {
  /** Expectations that FILTER rows out of silver (drop + quarantine —
    * the quarantined side is additionally captured by the publish). */
  def gateExpectations: Map[String, String] =
    expectAllOrDrop ++ expectAllOrQuarantine
  /** Expectations that only COUNT (warn keeps rows; fail aborts the
    * publish from the observed count, rows untouched). */
  def monitorExpectations: Map[String, String] =
    expectAll ++ expectAllOrFail
  def anyExpectations: Boolean =
    gateExpectations.nonEmpty || monitorExpectations.nonEmpty
  /** The primary key under its published silver names (after
    * `renamed_columns`): the key of the silver table, its merge view and
    * its change feed. */
  def silverPrimaryKey: Seq[String] =
    uniquePrimaryKey.map(p => renamedColumns.getOrElse(p, p))
}

/** Gold-layer declaration: which curation to run and how to publish it. */
final case class GoldConfig(
    /** `"full"` (default): recompute the whole curation per run.
      * `"incremental"`: persist the row-local curation PREFIX (quality,
      * language, PII scrub, fingerprint/shingle derivation, repetition —
      * [[graft.llm.Curation.prefixStages]]) per batch of new/changed
      * silver rows, and run only the corpus-global SUFFIX (decontam,
      * exact dedup, near-dup components) as a full pass over the compact
      * prefix table each publish. Requires the corpus-global segment-
      * cleanup knobs (boilerplate_min_doc_freq / line_dedup_span) to be
      * off, and relies on the same strictly-monotone `_ingested_at`
      * contract as incremental silver. On a `join` or `aggregate` mart,
      * `"incremental"` is the other spelling of `cadence: "streaming"`:
      * both name the one stream-store engine ([[streamMart]]). */
    mode: String = "full",
    /** Maintenance cadence of the mart state. `"batch"` (default): the
      * mart rebuilds per triggered run, or is maintained incrementally
      * when `mode` is `"incremental"`. `"streaming"`: the mart state
      * lives in the stream-store layout and is maintained by the SAME
      * batch bodies a live micro-batch stream's `foreachBatch` sinks
      * drive ([[graft.pipeline.GoldAggOps.goldAggSink]] /
      * [[graft.pipeline.GoldJoinOps]]); each triggered run calls them
      * directly on the input deltas (`changeFeed` / `signedChangeFeed`
      * between published versions of full-mode silver, the merge-time
      * change data feed of incremental silver), so a deployment can
      * later point an actual stream at the same store. `mode:
      * "incremental"` on a join or aggregate mart runs this same engine
      * ([[streamMart]]), so set one of the two.
      * Requires `aggregate` or `join` (curation gold has no streaming
      * sink). */
    cadence: String = "batch",
    curation: GoldCuration = GoldCuration(),
    /** CROSS-ENTITY gold (the dim⋈fact mart): joins declared against
      * OTHER entities' silver tables, applied in order to this entity's
      * silver. Mutually exclusive with `curation` (a mart is a join +
      * projection, not a text-curation pipeline). With mode
      * "incremental" (or cadence "streaming") the mart is MAINTAINED
      * incrementally on the stream store (fact-delta upserts +
      * dim-delta re-derivation) over full-mode or incremental silver —
      * star-only equi joins, each flat dim unique on its join keys.
      * Empty = curation gold (the default). */
    join: Seq[GoldJoin] = Nil,
    /** Projection over the joined frame (SQL expressions, aliases
      * allowed — `"c_name AS customer_name"`). Empty = every column the
      * join produces. */
    select: Seq[String] = Nil,
    /** AGGREGATE gold (the summary mart): group this entity's silver by
      * `group_by` and publish the declared additive aggregates. With
      * mode "incremental" (or cadence "streaming") the mart is
      * MAINTAINED incrementally on the stream store (classical additive
      * IVM: per run only the input's signed row delta is aggregated
      * into per-group partials; publish re-sums the group-count-sized
      * partial store) over full-mode or incremental silver. Mutually
      * exclusive with `join` and `curation`. */
    aggregate: Option[GoldAggregate] = None,
    /** Physical layout of the gold table (same semantics as the silver
      * clustering_cols). */
    clusteringCols: Seq[String] = Nil,
    /** Expectations gating the CURATED rows (post-curation vocabulary:
      * original columns + `quality`). */
    expectAllOrDrop: Map[String, String] = Map.empty,
    /** WARN-only tier for gold (counted, rows kept) — see
      * [[EntityConfig.expectAll]]. */
    expectAll: Map[String, String] = Map.empty,
    /** FAIL tier for gold: abort the gold publish before the repoint on
      * any violating curated row — see [[EntityConfig.expectAllOrFail]].
      * (No gold quarantine tier: its opposite-filter side would re-run
      * the whole curation pipeline.) */
    expectAllOrFail: Map[String, String] = Map.empty,
    /** Batch-file threshold past which the PERSISTED incremental-gold
      * stores (stream-mart rows/facts/dims, aggregate partials,
      * curation prefix, LSH band index, verified-edge store) compact
      * back to their keep-latest (or re-summed) survivors
      * (generation-dir swap, [[graft.pipeline.GenStore]]). These stores
      * are append-only with keep-latest read semantics, so without
      * compaction they grow with TOTAL historical changes and every
      * publish re-windows dead versions — the silver
      * `silver_compact_after` argument, applied to gold state. */
    compactAfter: Int = 16
) {
  require(compactAfter >= 1 && compactAfter <= 65536,
    s"gold.compact_after must be in [1, 2^16], got $compactAfter")
  require(mode != "incremental" || (curation.boilerplateMinDocFreq.isEmpty
      && curation.lineDedupSpan.isEmpty),
    "gold mode 'incremental' cannot run the corpus-global segment-cleanup " +
      "stages (boilerplate_min_doc_freq / line_dedup_span rewrite text " +
      "from corpus-wide frequencies BEFORE the quality gate); use full " +
      "mode or disable them")
  // mode "incremental" + join = the stream-store mart (fact-delta
  // upserts + dim-delta re-derivation); its structural preconditions
  // (star-only equi joins, flat dims unique on their join keys) are
  // validated at run time where schemas exist
  require(join.nonEmpty || select.isEmpty,
    "gold.select is only meaningful with gold.join (curation gold " +
      "publishes the curated columns)")
  require(aggregate.isEmpty || join.isEmpty,
    "gold.aggregate and gold.join are mutually exclusive — aggregate a " +
      "published mart by declaring the aggregate gold on its own entity")
  require(cadence == "batch" || cadence == "streaming",
    s"gold.cadence must be 'batch' or 'streaming', got '$cadence'")
  require(cadence == "batch" || aggregate.nonEmpty || join.nonEmpty,
    "gold.cadence 'streaming' maintains an aggregate or join mart - " +
      "curation gold has no streaming sink")
  require(cadence == "batch" || mode == "full",
    "gold.cadence 'streaming' and gold.mode 'incremental' name the same " +
      "stream-store engine - set one of them")
  // mode "incremental" + temporal join IS supported: a dim-history
  // change can shift interval boundaries of NEIGHBORING versions, so
  // the maintenance re-derives every fact of a changed KEY (the change
  // rows project to their join-key values; conservative but exact —
  // affected facts are always a subset of the changed keys' facts)

  /** True when the mart state lives in the stream store
    * ([[graft.pipeline.PipelineRunner.buildGoldStreamMart]]): a
    * streaming-cadence mart, or a join/aggregate mart in mode
    * "incremental" — two spellings of one engine. */
  def streamMart: Boolean = cadence == "streaming" ||
    (mode == "incremental" && (join.nonEmpty || aggregate.nonEmpty))

  def anyExpectations: Boolean =
    expectAllOrDrop.nonEmpty || expectAll.nonEmpty || expectAllOrFail.nonEmpty
}

/** Aggregate-mart declaration: GROUP BY `groupBy` with the declared
  * additive aggregates. Additivity is the INCREMENTAL-maintenance
  * contract — count and micro-floored sums compose under signed row
  * deltas; a mean is `sum_x1e6`/`count` at read time. */
final case class GoldAggregate(
    groupBy: Seq[String],
    aggs: Seq[GoldAgg]) {
  require(groupBy.nonEmpty, "gold.aggregate.group_by must be non-empty")
  require(aggs.nonEmpty, "gold.aggregate.aggs must be non-empty")
  require(aggs.map(_.as).distinct.size == aggs.size,
    "gold.aggregate.aggs output names must be distinct")
}

/** One additive aggregate of a [[GoldAggregate]] mart: `op` is `count`
  * (rows per group; `expr` ignored) or `sum_x1e6` (exact micro-floored
  * sum of the SQL expression `expr` — NaN/±Inf values contribute
  * nothing, the engine-wide finite-sum convention). */
final case class GoldAgg(op: String, expr: String = "", as: String) {
  require(op == "count" || op == "sum_x1e6",
    s"gold.aggregate op must be 'count' or 'sum_x1e6', got '$op'")
  require(op == "count" || expr.nonEmpty,
    s"gold.aggregate op '$op' needs an 'expr'")
  require(as.nonEmpty, "gold.aggregate entries need an output name 'as'")
}

/** One join of a cross-entity gold mart: this entity's silver joined to
  * `entity`'s silver on the SQL condition `on`. Audit columns are
  * dropped from the joined (right) side before the join, so the mart
  * carries the fact side's lineage. */
final case class GoldJoin(
    entity: String,
    /** SQL join condition over both sides' columns
      * (`"o_custkey = c_custkey"`). */
    on: String,
    joinType: String = "inner",
    /** Broadcast the joined entity's table — the 100 TB posture for
      * dimension tables: the fact side never shuffles. */
    broadcast: Boolean = false,
    /** Which layer of the joined entity to read: `"silver"` (default)
      * or `"gold"` — the CHAINED mart (denormalize a snowflake at the
      * dim's own gold, then every fact mart joins ONE wide dim). The
      * gold phase topologically orders chained marts after their dim
      * entities' gold publish (cycles fail loud). Works in BOTH mart
      * modes: an incremental mart diffs the dim's versioned GOLD
      * snapshots (content-based, so an unchanged republish diffs to an
      * empty delta). */
    layer: String = "silver",
    /** TEMPORAL (SCD2/as-of) join: the dim side is a CHANGE STREAM
      * (its entity's primary key includes the change timestamp so the
      * full history survives silver's latest-wins dedup); the gold
      * phase compacts it into validity intervals
      * ([[graft.ops.Scd2.scd2]]) and each fact row joins the dim
      * VERSION VALID AT ITS EVENT TIME
      * ([[graft.ops.Scd2.temporalJoin]]) — the standard warehouse
      * fact⋈dim-history mart the flat star cannot express. Requires
      * `on` to be exactly ONE equi term (`fact_key = dim_key`) and
      * joinType "inner" (facts preceding the key's first interval drop
      * — the warehouse convention) or "left" (they survive,
      * interval/attribute columns null-filled). */
    temporal: Option[TemporalJoin] = None) {
  require(Set("inner", "left", "right", "full").contains(joinType),
    s"gold.join.type must be inner/left/right/full, got '$joinType'")
  require(on.trim.nonEmpty, "gold.join.on must be a SQL join condition")
  require(layer == "silver" || layer == "gold",
    s"gold.join.layer must be 'silver' or 'gold', got '$layer'")
  require(temporal.isEmpty || joinType == "inner" || joinType == "left",
    s"gold.join.temporal requires type 'inner' or 'left' (at most one " +
      s"interval matches per fact; right/full have no such cardinality " +
      s"guarantee), got '$joinType'")
}

/** The temporal half of a [[GoldJoin]]: how to compact the dim's change
  * stream into SCD2 intervals and which fact column anchors the
  * valid-at lookup. All columns are named in the SOURCE tables' terms
  * (`fact_ts` on the mart's own silver; the rest on the dim's). */
final case class TemporalJoin(
    /** NUMERIC fact-time column on the mart's own entity, comparable
      * to the dim's change timestamps (same unit). */
    factTs: String,
    /** Change-timestamp column on the dim entity (becomes
      * `valid_from`/`valid_to`). */
    dimTs: String,
    /** Unique dim column ordering same-timestamp changes (determinism
      * requirement — the W1 dedup discipline); surfaces as
      * `src_<tie_break>` in the mart. */
    tieBreak: String,
    /** Tracked attribute columns: a dim row opens a new interval iff
      * any of them changed. */
    attrs: Seq[String]) {
  require(factTs.trim.nonEmpty, "gold.join.temporal needs a 'fact_ts'")
  require(dimTs.trim.nonEmpty, "gold.join.temporal needs a 'dim_ts'")
  require(tieBreak.trim.nonEmpty,
    "gold.join.temporal needs a 'tie_break'")
  require(attrs.nonEmpty,
    "gold.join.temporal needs at least one tracked attribute in 'attrs'")
}

/** Knobs of the curation stage — mirrors [[graft.llm.Curation.Config]]
  * plus the column bindings. */
final case class GoldCuration(
    /** Document id column; None = the entity's unique_primary_key head. */
    idCol: Option[String] = None,
    textCol: String = "text",
    langCol: Option[String] = None,
    /** Boilerplate removal before quality scoring: drop every fixed
      * `boilerplate_span`-token segment appearing in at least this many
      * distinct documents. Absent = stage off. */
    boilerplateMinDocFreq: Option[Int] = None,
    boilerplateSpan: Int = 4,
    /** Line-level (fixed-span) keep-first dedup before quality scoring;
      * value = span width in tokens. Absent = stage off. */
    lineDedupSpan: Option[Int] = None,
    minQuality: Double = 0.5,
    keepLangs: Seq[String] = Nil,
    maxRepetition: Double = 0.5,
    nearDupJaccard: Double = 0.8,
    minhashBands: Int = 16,
    minhashRows: Int = 4,
    /** ANOTHER entity whose SILVER table holds eval-benchmark documents
      * (same id/text column names as this entity); when set, the curation
      * runs its decontamination stage against that table — the
      * config-declared form of [[graft.dedup.DedupOps.decontaminate]]. */
    contaminationProbesEntity: Option[String] = None,
    contaminationThreshold: Double = 0.5,
    /** Near-dup cluster representative: false (default) = min id (the
      * oracle-checkable form); true = highest quality, ties → min id. */
    keepBestQuality: Boolean = false
)

/** Pipeline-wide parameters — the reference reads these from `spark.conf`
  * (set by the pipeline YAML, `resources/sdp_pipeline.pipeline.yml:22-29`;
  * read at `01_bronze_ingestion.py:85-99`, `02_silver_processing.py:34-54`).
  */
final case class PipelineParams(
    sourceLocation: String,
    catalogName: String = "dev",
    bronzeDb: String = "bronze",
    silverDb: String = "silver",
    goldDb: String = "gold",
    externalLocation: String = "",
    deletedFileRetention: String = "interval 14 days",
    softDeletes: String = "N",
    /** Injectable clock for `_ingested_at` determinism (SURVEY §7.4.3).
      * None = wall clock (reference behavior, `01_bronze_ingestion.py:170`). */
    fixedIngestedAt: Option[java.sql.Timestamp] = None,
    /** Per-micro-batch file cap for bronze ingestion (Auto Loader's
      * `cloudFiles.maxFilesPerTrigger` analog) — bounds memory/commit size
      * when a backlog of millions of files lands at once. None = all
      * available files in one batch (Trigger.AvailableNow still splits by
      * source defaults). Also applied to streaming-mart FEED drains:
      * a first-consumption pair is the whole live table, and pairs are
      * key-unique so splitting one across micro-batches preserves the
      * sinks' per-key contract ([[graft.pipeline.PipelineRunner]]'s
      * maintainFeed). */
    maxFilesPerTrigger: Option[Int] = None,
    /** true disables the NO-CHANGE RUN SKIP (a run whose bronze ingested
      * nothing and whose config is unchanged normally skips the silver/
      * gold republish — content is identical by construction). Force the
      * old always-republish behavior for measurement (the bench's
      * steady-state rerun measures the real publish machinery, not the
      * skip) or for belt-and-braces re-derivation. */
    republishUnchanged: Boolean = false
) {
  def softDeletesEnabled: Boolean = softDeletes.toUpperCase == "Y"
  private def collapse(db: String): String =
    if (catalogName.nonEmpty) s"${catalogName}_$db" else db
  /** OSS Spark default catalog is 2-level; collapse catalog.schema →
    * "{catalog}_{schema}" (SURVEY §7.4.2). */
  def bronzeSchema: String = collapse(bronzeDb)
  def silverSchema: String = collapse(silverDb)
  def goldSchema: String = collapse(goldDb)
  def activeSchema: String = collapse(s"${silverDb}_active")
  /** Backtick-quote one identifier part, mirroring the reference's
    * `cat`.`db`.`table` quoting (`03_active_views.py:58-59`) — entity or
    * schema names with hyphens/spaces would otherwise break every generated
    * DDL statement and open an injection surface for config-supplied names.
    * Spark parses quoted parts identically in spark.sql DDL, spark.table,
    * catalog calls, and writeStream.toTable, so quoting at the source covers
    * all of them. */
  private def bq(part: String): String = "`" + part.replace("`", "``") + "`"
  def bronzeFqn(entity: String): String =
    s"${bq(bronzeSchema)}.${bq(s"bronze_$entity")}"
  def silverFqn(entity: String): String =
    s"${bq(silverSchema)}.${bq(s"silver_$entity")}"
  /** Merge-on-read only: the physical base+delta table behind the
    * published silver MERGE VIEW ([[silverFqn]]). */
  def silverRawFqn(entity: String): String =
    s"${bq(silverSchema)}.${bq(s"silver_${entity}_raw")}"
  def goldFqn(entity: String): String =
    s"${bq(goldSchema)}.${bq(s"gold_$entity")}"
  def activeViewFqn(entity: String): String =
    s"${bq(activeSchema)}.${bq(s"silver_$entity")}"
  /** Pipeline-scoped expectation EVENT LOG table (the SDP event-log
    * analog — reference `02_silver_processing.py:139-141` semantics):
    * one append-only row per (publish, expectation) with the violation
    * count, instead of only the latest counts in table properties. */
  def expectationLogFqn: String =
    s"${bq(silverSchema)}.${bq("_expectation_log")}"
  /** Pipeline-scoped per-column PROFILE history ([EXT] — the
    * data-quality census of `profile_on_publish`): one append-only row
    * per (publish, column) with null/distinct/min-max/length metrics,
    * the feed behind drift dashboards. */
  def profileLogFqn: String =
    s"${bq(silverSchema)}.${bq("_profile_log")}"
  /** Dead-letter table for `expect_all_or_quarantine` violations
    * ([EXT]): the entity's quarantined rows (silver vocabulary +
    * `_violated` names + run stamps), republished per run through the
    * same versioned publish as silver, so history is inspectable via
    * time-travel version reads. */
  def quarantineFqn(entity: String): String =
    s"${bq(silverSchema)}.${bq(s"_quarantine_$entity")}"
}

object PipelineParams {
  /** Mirror of the reference's conf-reading preamble (rstrip("/") included —
    * `00_config_loader.py:25-31`). */
  def fromConf(spark: SparkSession): PipelineParams = {
    def get(k: String, d: String) = spark.conf.get(k, d)
    PipelineParams(
      sourceLocation = get("source_location", "").stripSuffix("/"),
      catalogName = get("catalog_name", "dev"),
      bronzeDb = get("bronze_db", "bronze"),
      silverDb = get("silver_db", "silver"),
      goldDb = get("gold_db", "gold"),
      externalLocation = get("external_location", "").stripSuffix("/"),
      deletedFileRetention =
        get("deleted_file_retention_duration", "interval 14 days"),
      softDeletes = get("soft_deletes", "N"),
      maxFilesPerTrigger =
        get("max_files_per_trigger", "").toIntOption.filter(_ > 0)
    )
  }
}

/** Loads `dp_config_template.json` exactly the way the reference does:
  * read the file as text lines THROUGH Spark (so any Hadoop-compatible FS
  * works — S3/HDFS/local), collect to the driver, join, parse
  * (reference `00_config_loader.py:36-40`).
  */
object ConfigLoader {
  def load(spark: SparkSession, sourceLocation: String)
      : Map[String, EntityConfig] =
    parse(readText(spark, s"${sourceLocation.stripSuffix("/")}/dp_config_template.json"))

  def readText(spark: SparkSession, path: String): String =
    spark.read.text(path).collect().map(_.getString(0)).mkString

  private def strSeq(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _          => Nil
  }

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(x)  => Some(x)
    case JDecimal(x) => Some(x.toDouble)
    case JInt(x)     => Some(x.toDouble)
    case JLong(x)    => Some(x.toDouble)
    case _           => None
  }

  private def strMap(v: JValue): Map[String, String] = v match {
    case JObject(fields) =>
      fields.collect { case JField(k, JString(s)) => k -> s }.toMap
    // tolerate the reference's list form for renamed_columns ("old:new")
    case JArray(xs) =>
      xs.collect { case JString(s) if s.contains(":") =>
        val Array(o, n) = s.split(":", 2); o -> n
      }.toMap
    case _ => Map.empty
  }

  def parse(jsonText: String): Map[String, EntityConfig] =
    JsonMethods.parse(jsonText) match {
      case JObject(entities) =>
        entities.map { case JField(name, cfg) =>
          val f = cfg match {
            case JObject(fs) => fs.toMap
            case _           => Map.empty[String, JValue]
          }
          def s(k: String, d: String) = f.get(k) match {
            case Some(JString(v)) => v
            case _                => d
          }
          name -> EntityConfig(
            rawFileFormat = s("raw_file_format", "parquet"),
            clusteringCols = f.get("clustering_cols").map(strSeq).getOrElse(Nil),
            skippingIndexes =
              f.get("skipping_indexes").map(strSeq).getOrElse(Nil),
            uniquePrimaryKey = f.get("unique_primary_key").map(strSeq)
              .filter(_.nonEmpty).getOrElse(Seq("id")),
            renamedColumns =
              f.get("renamed_columns").map(strMap).getOrElse(Map.empty),
            expectAllOrDrop =
              f.get("expect_all_or_drop").map(strMap).getOrElse(Map.empty),
            expectAll = f.get("expect_all").map(strMap).getOrElse(Map.empty),
            expectAllOrFail =
              f.get("expect_all_or_fail").map(strMap).getOrElse(Map.empty),
            expectAllOrQuarantine = f.get("expect_all_or_quarantine")
              .map(strMap).getOrElse(Map.empty),
            silverMode = {
              val m = s("silver_mode", "full")
              require(m == "full" || m == "incremental",
                s"$name.silver_mode must be 'full' or 'incremental', got '$m'")
              m
            },
            silverBuckets = {
              val b = f.get("silver_buckets").flatMap(num).map(_.toInt)
                .getOrElse(EntityConfig().silverBuckets)
              require(b > 0 && b <= (1 << 20),
                s"$name.silver_buckets must be in [1, 2^20], got $b")
              b
            },
            silverMerge = {
              val m = s("silver_merge", "copy_on_write")
              require(m == "copy_on_write" || m == "merge_on_read",
                s"$name.silver_merge must be 'copy_on_write' or " +
                  s"'merge_on_read', got '$m'")
              m
            },
            silverCompactAfter = {
              val c = f.get("silver_compact_after").flatMap(num).map(_.toInt)
                .getOrElse(EntityConfig().silverCompactAfter)
              require(c >= 1 && c <= (1 << 16),
                s"$name.silver_compact_after must be in [1, 2^16], got $c")
              c
            },
            silverCdf = f.get("silver_cdf") match {
              case Some(org.json4s.JBool(b)) => b
              case Some(JString("true"))     => true
              case Some(JString("false"))    => false
              case None                      => false
              case Some(other) => throw new IllegalArgumentException(
                s"$name.silver_cdf must be a boolean, got $other")
            },
            profileOnPublish = f.get("profile_on_publish") match {
              case Some(org.json4s.JBool(b)) => b
              case Some(JString("true"))     => true
              case Some(JString("false"))    => false
              case None                      => false
              case Some(other) => throw new IllegalArgumentException(
                s"$name.profile_on_publish must be a boolean, got $other")
            },
            gold = f.get("gold").collect { case JObject(gf) =>
              parseGold(gf.toMap)
            }
          )
        }.toMap.map { case (name, c) =>
          // cross-tier validation: one violations_<name> metric per
          // expectation, so names must be unique ACROSS the four tiers;
          // fail/quarantine ride the full path's atomic versioned publish
          // (abort-before-repoint / opposite-filter split) — incremental
          // merges don't have that hook yet, so fail loud, not silent
          val tiers = Seq(c.expectAll, c.expectAllOrDrop,
            c.expectAllOrFail, c.expectAllOrQuarantine)
          val dup = tiers.flatMap(_.keys).groupBy(identity)
            .collect { case (k, v) if v.size > 1 => k }
          require(dup.isEmpty, s"$name: expectation names used in more " +
            s"than one tier: ${dup.toSeq.sorted.mkString(", ")}")
          require(!c.silverCdf || c.silverMode == "incremental",
            s"$name: silver_cdf is the incremental-merge change feed " +
              "(full-mode silver already has versioned snapshots to " +
              "diff - use tableChanges/changeFeed there)")
          require(c.silverMode == "full" ||
            (c.expectAllOrFail.isEmpty && c.expectAllOrQuarantine.isEmpty),
            s"$name: expect_all_or_fail / expect_all_or_quarantine " +
              "require silver_mode 'full' (the abort-before-repoint and " +
              "quarantine-split hooks live on the versioned batch publish)")
          c.gold.foreach { g =>
            val gdup = Seq(g.expectAll, g.expectAllOrDrop, g.expectAllOrFail)
              .flatMap(_.keys).groupBy(identity)
              .collect { case (k, v) if v.size > 1 => k }
            require(gdup.isEmpty, s"$name.gold: expectation names used " +
              s"in more than one tier: ${gdup.toSeq.sorted.mkString(", ")}")
          }
          name -> c
        } match { case all =>
          // cross-entity gold joins must name DECLARED entities (their
          // silvers are the join inputs, built in the phase before gold)
          // and never this entity itself
          all.foreach { case (name, c) =>
            c.gold.toSeq.flatMap(_.join).foreach { j =>
              require(j.entity != name, s"$name.gold.join: '${j.entity}' " +
                "is this entity itself — a mart joins OTHER silvers")
              require(all.contains(j.entity), s"$name.gold.join: entity " +
                s"'${j.entity}' is not declared in this config (its " +
                "silver would not exist when gold runs)")
              // a temporal dim must keep its FULL change history through
              // silver's latest-wins PK dedup: the dim's declared PK has
              // to include the change timestamp or the tie-break, or the
              // compaction sees one latest row per key and the mart
              // silently degenerates to the flat star
              j.temporal.foreach { t =>
                val pk = all(j.entity).uniquePrimaryKey
                  .map(_.toLowerCase).toSet
                require(pk.contains(t.dimTs.toLowerCase) ||
                    pk.contains(t.tieBreak.toLowerCase),
                  s"$name.gold.join: temporal dim '${j.entity}' has " +
                    s"unique_primary_key ${all(j.entity).uniquePrimaryKey
                      .mkString("[", ", ", "]")} — it must include the " +
                    s"change timestamp '${t.dimTs}' or tie-break " +
                    s"'${t.tieBreak}' so silver keeps the change " +
                    "history an SCD2 compaction needs")
              }
            }
          }
          all
        }
      case _ =>
        throw new IllegalArgumentException(
          "dp_config_template.json must be a JSON object keyed by entity name")
    }

  /** `"gold": {"curation": {...}, "clustering_cols": [...],
    * "expect_all_or_drop": {...}}` — all curation knobs optional, snake_case
    * keys matching the reference config's vocabulary. */
  private def parseGold(f: Map[String, JValue]): GoldConfig = {
    val cf = f.get("curation") match {
      case Some(JObject(fs)) => fs.toMap
      case _                 => Map.empty[String, JValue]
    }
    def str(k: String): Option[String] = cf.get(k) match {
      case Some(JString(s)) => Some(s)
      case _                => None
    }
    def d(k: String, dft: Double): Double =
      cf.get(k).flatMap(num).getOrElse(dft)
    val base = GoldCuration()
    val mode = f.get("mode") match {
      case Some(JString(m)) => m
      case _                => "full"
    }
    require(mode == "full" || mode == "incremental",
      s"gold.mode must be 'full' or 'incremental', got '$mode'")
    val cadence = f.get("cadence") match {
      case Some(JString(c)) => c
      case _                => "batch"
    }
    val joins = f.get("join") match {
      case Some(org.json4s.JArray(js)) => js.map {
        case JObject(jf) =>
          val m = jf.toMap
          def s(k: String): Option[String] = m.get(k) match {
            case Some(JString(v)) => Some(v)
            case _                => None
          }
          GoldJoin(
            entity = s("entity").getOrElse(throw new IllegalArgumentException(
              "gold.join entries need an 'entity'")),
            on = s("on").getOrElse(throw new IllegalArgumentException(
              "gold.join entries need an 'on' condition")),
            joinType = s("type").getOrElse("inner"),
            broadcast = m.get("broadcast") match {
              case Some(JBool(b)) => b
              case _              => false
            },
            layer = s("layer").getOrElse("silver"),
            temporal = m.get("temporal") match {
              case Some(JObject(tf)) =>
                val tm = tf.toMap
                def ts(k: String): String = tm.get(k) match {
                  case Some(JString(v)) => v
                  case _ => throw new IllegalArgumentException(
                    s"gold.join.temporal needs a string '$k'")
                }
                Some(TemporalJoin(
                  factTs = ts("fact_ts"), dimTs = ts("dim_ts"),
                  tieBreak = ts("tie_break"),
                  attrs = tm.get("attrs").map(strSeq).getOrElse(Nil)))
              case None => None
              case Some(other) => throw new IllegalArgumentException(
                s"gold.join.temporal must be an object, got $other")
            })
        case other => throw new IllegalArgumentException(
          s"gold.join entries must be objects, got $other")
      }
      case None => Nil
      case Some(other) => throw new IllegalArgumentException(
        s"gold.join must be an array of join objects, got $other")
    }
    require(joins.isEmpty || cf.isEmpty,
      "gold.join (cross-entity mart) and gold.curation are mutually " +
        "exclusive — a mart is a join + projection; declare curation on " +
        "a separate gold entity instead")
    val aggregate = f.get("aggregate") match {
      case Some(JObject(af)) =>
        val m = af.toMap
        val aggs = m.get("aggs") match {
          case Some(org.json4s.JArray(as)) => as.map {
            case JObject(gf) =>
              val gm = gf.toMap
              def s(k: String): Option[String] = gm.get(k) match {
                case Some(JString(v)) => Some(v)
                case _                => None
              }
              GoldAgg(
                op = s("op").getOrElse(throw new IllegalArgumentException(
                  "gold.aggregate.aggs entries need an 'op'")),
                expr = s("expr").getOrElse(""),
                as = s("as").getOrElse(throw new IllegalArgumentException(
                  "gold.aggregate.aggs entries need an output name 'as'")))
            case other => throw new IllegalArgumentException(
              s"gold.aggregate.aggs entries must be objects, got $other")
          }
          case _ => throw new IllegalArgumentException(
            "gold.aggregate needs an 'aggs' array")
        }
        Some(GoldAggregate(
          groupBy = m.get("group_by").map(v => strSeq(v)).getOrElse(Nil),
          aggs = aggs))
      case None => None
      case Some(other) => throw new IllegalArgumentException(
        s"gold.aggregate must be an object, got $other")
    }
    require(aggregate.isEmpty || cf.isEmpty,
      "gold.aggregate and gold.curation are mutually exclusive — " +
        "declare the aggregate gold on its own entity")
    GoldConfig(
      mode = mode,
      cadence = cadence,
      join = joins,
      select = f.get("select").map(strSeq).getOrElse(Nil),
      aggregate = aggregate,
      curation = GoldCuration(
        idCol = str("id_col"),
        textCol = str("text_col").getOrElse(base.textCol),
        langCol = str("lang_col"),
        boilerplateMinDocFreq =
          cf.get("boilerplate_min_doc_freq").flatMap(num).map(_.toInt),
        boilerplateSpan =
          d("boilerplate_span", base.boilerplateSpan.toDouble).toInt,
        lineDedupSpan = cf.get("line_dedup_span").flatMap(num).map(_.toInt),
        minQuality = d("min_quality", base.minQuality),
        keepLangs = cf.get("keep_langs").map(strSeq).getOrElse(Nil),
        maxRepetition = d("max_repetition", base.maxRepetition),
        nearDupJaccard = d("near_dup_jaccard", base.nearDupJaccard),
        minhashBands = d("minhash_bands", base.minhashBands.toDouble).toInt,
        minhashRows = d("minhash_rows", base.minhashRows.toDouble).toInt,
        contaminationProbesEntity = str("contamination_probes_entity"),
        contaminationThreshold =
          d("contamination_threshold", base.contaminationThreshold),
        keepBestQuality = cf.get("keep_best_quality") match {
          case Some(JBool(b)) => b
          case _              => base.keepBestQuality
        }),
      clusteringCols = f.get("clustering_cols").map(strSeq).getOrElse(Nil),
      expectAllOrDrop =
        f.get("expect_all_or_drop").map(strMap).getOrElse(Map.empty),
      expectAll = f.get("expect_all").map(strMap).getOrElse(Map.empty),
      expectAllOrFail =
        f.get("expect_all_or_fail").map(strMap).getOrElse(Map.empty),
      compactAfter = f.get("compact_after").flatMap(num).map(_.toInt)
        .getOrElse(GoldConfig().compactAfter))
  }
}
