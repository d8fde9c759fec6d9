package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType}

import graft.config.{ConfigLoader, EntityConfig, GoldAggregate, GoldConfig, GoldCuration, GoldJoin, PipelineParams}
import graft.ops._

/** The medallion pipeline engine — our idiomatic-Scala reimplementation of
  * the reference's SDP-based flow (SURVEY §3): per entity, a checkpointed
  * *streaming* bronze table incrementally ingesting raw files, a
  * *materialized* (full-recompute) silver table deduplicated on the
  * configured PK, and — when soft deletes are enabled — an `_active` schema
  * of plain SQL views filtering `op != 'D'`.
  *
  * Execution order mirrors SDP's resolved dataflow graph (the only edges are
  * silver→bronze by FQN — reference `02_silver_processing.py:101,117`):
  * all bronze flows, then all silver flows, then config-declared gold
  * flows (curated tables — [[runGold]]), then views. Bronze flows are
  * independent of each other, as are silver flows, so each phase could run
  * its entities concurrently on a real cluster; we run them sequentially
  * (local mode shares one scheduler, and correctness is order-independent
  * within a phase).
  *
  * Scale posture (100 TB): bronze is a narrow streaming append — file
  * listing on the driver, decode/project on executors, NO shuffle. Silver
  * has exactly one shuffle (hash partition by PK for the dedup window, which
  * Spark 4 rewrites to a WindowGroupLimit so the exchange carries ≤1 row
  * per map-partition per key) plus an optional range exchange for the
  * cluster layout. Views are catalog-only.
  *
  * Storage note: all tables are created with an explicit LOCATION (under
  * [[PipelineRunner.storageRoot]] unless the config's external_location
  * overrides it — reference `01_bronze_ingestion.py:140-145`). Pinning the
  * path makes schema evolution a metadata-only re-registration and is the
  * OSS stand-in for SDP's managed-table lifecycle.
  */
final class PipelineRunner(
    spark: SparkSession,
    params: PipelineParams,
    /** Root for table data + stream checkpoints when no external location
      * is configured. */
    storageRoot: String) {

  import PipelineRunner._

  private val startedAtNs = System.nanoTime()

  /** Elapsed-stamped so a slow run localizes its cost to a phase without
    * a profiler (`[pipeline +12.3s] ...`). */
  private def log(msg: String): Unit = {
    val elapsed = (System.nanoTime() - startedAtNs) / 1e9
    Console.err.println(f"[pipeline +$elapsed%.1fs] $msg")
  }

  // ---- locations ----------------------------------------------------------

  private def bronzePath(entity: String): String =
    if (params.externalLocation.nonEmpty)
      s"${params.externalLocation}/bronze/$entity"
    else s"$storageRoot/bronze/$entity"

  private def silverPath(entity: String): String =
    if (params.externalLocation.nonEmpty)
      s"${params.externalLocation}/silver/$entity"
    else s"$storageRoot/silver/$entity"

  private def goldPath(entity: String): String =
    if (params.externalLocation.nonEmpty)
      s"${params.externalLocation}/gold/$entity"
    else s"$storageRoot/gold/$entity"

  private def checkpointPath(entity: String): String =
    s"$storageRoot/_checkpoints/bronze_$entity"

  // ---- version inspection / time travel -----------------------------------

  /** One published version of a silver/gold table: `v<version>` directory,
    * whether it is the catalog-live one, and when it was superseded (None
    * while live). */
  final case class TableVersion(version: Long, path: String, live: Boolean,
      supersededAtMs: Option[Long])

  /** List the on-disk versions of a published table, oldest first — what
    * [[publishVersioned]] wrote minus what vacuum reclaimed. `layer` is
    * "silver" or "gold". */
  def tableVersions(entity: String, layer: String = "silver")
      : Seq[TableVersion] = {
    val baseStr = layer match {
      case "silver" => silverPath(entity)
      case "gold"   => goldPath(entity)
      case other => throw new IllegalArgumentException(
        s"layer must be silver or gold, got '$other'")
    }
    val base = new org.apache.hadoop.fs.Path(baseStr)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    val fqn = if (layer == "silver") params.silverFqn(entity)
      else params.goldFqn(entity)
    val liveLocation = tableLocation(fqn).map(_.toUri.getPath)
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .flatMap(p => p.getName.stripPrefix("v").toLongOption
        .filter(_ => p.getName.startsWith("v")).map(v => (v, p)))
      .sortBy(_._1)
      .map { case (v, p) => TableVersion(v, p.toString,
        live = liveLocation.exists(_.endsWith(p.toUri.getPath)),
        supersededAtMs = PipelineRunner.readSupersededAt(fs, p))
      }.toSeq
  }

  /** Time-travel read (Delta `VERSION AS OF` analog, bounded by the
    * retention window exactly like the reference's
    * `delta.deletedFileRetentionDuration` —
    * 02_silver_processing.py:49,89): read the `v<version>` directory of a
    * published table while vacuum still keeps it on disk. Fails loud with
    * the versions that ARE readable when the requested one was vacuumed
    * or never published. */
  def readVersion(entity: String, version: Long,
      layer: String = "silver"): DataFrame = {
    val versions = tableVersions(entity, layer)
    versions.find(_.version == version) match {
      case Some(tv) => spark.read.parquet(tv.path)
      case None => throw new NoSuchElementException(
        s"$layer/$entity has no version $version on disk " +
          s"(vacuumed or never published); available: " +
          s"${versions.map(_.version).mkString("[", ", ", "]")}")
    }
  }

  /** CHANGE DATA FEED between two published versions of a silver/gold
    * table — the Delta CDF analog on the versioned-publish layout,
    * retention-bounded exactly like [[readVersion]]: one row per
    * differing PK with `status` ∈ ('added', 'removed', 'changed'),
    * derived by the signature-compressed snapshot diff (two scans + one
    * PK-keyed full-outer merge; at 100 TB the diff is the small output).
    * `compareCols` default to every column shared by both versions
    * minus the PK and audit columns (audit lineage would mark every
    * republished row changed). Downstream consumers that can't
    * subscribe to the pipeline read this instead of re-diffing tables:
    * `tableChanges(e, v, v+1)` per published version is the CDC
    * stream. */
  def tableChanges(entity: String, fromVersion: Long, toVersion: Long,
      pkCols: Seq[String], layer: String = "silver",
      compareCols: Seq[String] = Nil): DataFrame = {
    val a = readVersion(entity, fromVersion, layer)
    val b = readVersion(entity, toVersion, layer)
    val cmp: Seq[String] =
      if (compareCols.nonEmpty) compareCols
      else {
        val bl = b.columns.map(_.toLowerCase).toSet
        val audit = Set(Audit.IngestedAt, Audit.SourceFile,
          Audit.FileModTime)
        val pkl = pkCols.map(_.toLowerCase).toSet
        a.columns.toSeq.filter(c => bl.contains(c.toLowerCase) &&
          !pkl.contains(c.toLowerCase) && !audit.contains(c))
      }
    graft.analytics.Profiler.snapshotDiff(a, b, pkCols, cmp)
  }

  /** FULL-ROW CDC images between two published versions — the feed
    * shape [[GoldJoinOps.factSink]]/[[GoldJoinOps.dimSink]] consume
    * (the medallion→streaming-mart bridge): one row per changed PK,
    * upserts carrying the TO-version row (`_cdc_deleted` = false),
    * deletes carrying the FROM-version's last image (`_cdc_deleted` =
    * true — the standard CDC delete image, so downstream projections
    * still see the final attribute values). Replaying
    * `changeFeed(e, v, v+1)` per published version through a sink
    * reproduces the mart a direct stream would have maintained
    * (spec-pinned). Shape: [[tableChanges]]' signature-compressed diff
    * plus two PK semi-joins — never a full-row comparison shuffle. */
  def changeFeed(entity: String, fromVersion: Long, toVersion: Long,
      pkCols: Seq[String], layer: String = "silver"): DataFrame =
    changeFeedImages(entity, fromVersion, toVersion, pkCols, layer,
      tableChanges(entity, fromVersion, toVersion, pkCols, layer)
        .localCheckpoint(false)) // feeds both semi-joins

  /** [[changeFeed]]'s image-building half over a PRECOMPUTED (and
    * materialized) diff `ch` — split out so the streaming-mart feed can
    * probe the diff for emptiness first and reuse the same checkpointed
    * frame for the images (never computing the diff twice). */
  private def changeFeedImages(entity: String, fromVersion: Long,
      toVersion: Long, pkCols: Seq[String], layer: String,
      ch: DataFrame): DataFrame = {
    def img(v: Long, statuses: Seq[String], deleted: Boolean) =
      readVersion(entity, v, layer)
        .join(ch.filter(col("status").isin(statuses: _*))
          .select(pkCols.map(col): _*), pkCols, "left_semi")
        .withColumn("_cdc_deleted", lit(deleted))
    // allowMissingColumns: under schema evolution (S7) the FROM
    // version's delete images lack columns the TO version added —
    // null-fill them (the image is the row's last known state)
    img(toVersion, Seq("added", "changed"), deleted = false)
      .unionByName(img(fromVersion, Seq("removed"), deleted = true),
        allowMissingColumns = true)
  }

  /** SIGNED row deltas between two published versions — the feed shape
    * [[GoldAggOps.goldAggSink]] consumes (additive IVM at stream
    * cadence): +1 rows from the TO version for added∪changed PKs, −1
    * rows from the FROM version for removed∪changed PKs (an update is
    * the −old/+new pair, exactly the batch aggregate mart's delta
    * algebra). */
  def signedChangeFeed(entity: String, fromVersion: Long,
      toVersion: Long, pkCols: Seq[String], layer: String = "silver")
      : DataFrame =
    signedChangeFeedImages(entity, fromVersion, toVersion, pkCols, layer,
      tableChanges(entity, fromVersion, toVersion, pkCols, layer)
        .localCheckpoint(false))

  /** [[signedChangeFeed]]'s image half over a precomputed diff — same
    * split (and reason) as [[changeFeedImages]]. */
  private def signedChangeFeedImages(entity: String, fromVersion: Long,
      toVersion: Long, pkCols: Seq[String], layer: String,
      ch: DataFrame): DataFrame = {
    def side(v: Long, statuses: Seq[String], sign: Long) =
      readVersion(entity, v, layer)
        .join(ch.filter(col("status").isin(statuses: _*))
          .select(pkCols.map(col): _*), pkCols, "left_semi")
        .withColumn("_cdc_sign", lit(sign))
    side(toVersion, Seq("added", "changed"), 1L)
      .unionByName(side(fromVersion, Seq("removed", "changed"), -1L),
        allowMissingColumns = true)
  }

  /** Table properties carried from the reference (Delta-specific knobs
    * recorded as metadata on OSS parquet — SURVEY §4.1/§7.4.1). */
  private def refTableProps(cfg: EntityConfig): Map[String, String] = {
    val base = Map(
      "delta.autoOptimize.optimizeWrite" -> "true",
      "delta.autoOptimize.autoCompact" -> "true",
      "delta.deletedFileRetentionDuration" -> params.deletedFileRetention)
    if (cfg.skippingIndexes.nonEmpty)
      base + ("delta.dataSkippingStatsColumns" ->
        cfg.skippingIndexes.mkString(","))
    else base
  }

  // ---- phase 0: schemas ---------------------------------------------------

  def ensureSchemas(softDeletes: Boolean): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${params.bronzeSchema}`")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${params.silverSchema}`")
    if (softDeletes)
      // reference 03_active_views.py:52-54
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `${params.activeSchema}`")
  }

  // ---- phase 1: bronze (streaming, incremental) ---------------------------

  /** Infer the source schema from the files currently present (the OSS
    * analog of Auto Loader's `cloudFiles.inferColumnTypes` —
    * reference `01_bronze_ingestion.py:159`). One batch metadata pass; for
    * csv/json this samples the files. */
  def inferSourceSchema(format: String, path: String): StructType = {
    if (format == "avro")
      // no spark-avro DataSource in this environment: header-read via
      // avro core (S5 — graft.sources.AvroSource)
      return graft.sources.AvroSource.inferSchema(spark, path)
    val reader = format match {
      case "csv"  => spark.read.option("header", "true")
        .option("inferSchema", "true")
      case "json" => spark.read
      case _      => spark.read.option("mergeSchema", "true")
    }
    // S6 bounded inference: infer from the N NEWEST files, not the whole
    // raw history — a full csv/json inference scan makes every triggered
    // run O(total history) instead of O(new files). Newest-first catches
    // added columns (S7); a column only in older files stays via the
    // table-schema merge in runBronze. Empty list → let load(path) raise
    // the format's own unable-to-infer error (handled by the caller's
    // table-schema fallback).
    val newest = newestDataFiles(path, 32)
    if (newest.isEmpty) reader.format(format).load(path).schema
    else reader.format(format).load(newest: _*).schema
  }

  /** The `n` newest non-hidden files under `path` by modification time. */
  private def newestDataFiles(path: String, n: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(-_.getModificationTime)
      .take(n).map(_.getPath.toString)
  }

  /** One triggered (Trigger.AvailableNow) incremental ingest for an entity —
    * the reference's bronze streaming table (`01_bronze_ingestion.py:123-180`)
    * with the pipeline's `continuous: false` trigger semantics
    * (`resources/sdp_pipeline.pipeline.yml:32`). Restart resumes from the
    * checkpoint's file offset log (T1). */
  /** Returns the number of source rows this run actually ingested
    * (diagnostic; the no-change skip keys on the DURABLE checkpoint
    * provenance — [[latestBronzeBatch]] vs the silver's consumed
    * marker — not on this run-local count, which would go permanently
    * stale after a crash between the bronze commit and the silver
    * publish). */
  def runBronze(entity: String, cfg: EntityConfig,
      fullRefresh: Boolean = false): Long = {
    val fqn = params.bronzeFqn(entity)
    val srcPath = s"${params.sourceLocation}/$entity/"
    val tablePath = bronzePath(entity)
    val cp = checkpointPath(entity)

    if (fullRefresh) {
      // full_refresh: delete checkpoint + truncate (README.md:216-218)
      log(s"full refresh: dropping $fqn, checkpoint $cp")
      spark.sql(s"DROP TABLE IF EXISTS $fqn")
      deleteRecursively(spark, cp)
      deleteRecursively(spark, tablePath)
    }

    // S6: infer; P1: upcast applies to the SCHEMA too, so the pinned
    // streaming schema and the table schema agree on bigint. When the raw
    // files are gone (a retention job cleaned already-ingested sources)
    // inference has nothing to read — fall back to the existing table's
    // schema instead of failing a run that has nothing new to ingest.
    val inferred =
      try inferSourceSchema(cfg.rawFileFormat, srcPath)
      catch {
        case e: Exception =>
          tableSchema(spark, fqn) match {
            case Some(old) =>
              log(s"$entity: source inference failed (${e.getMessage}); " +
                "using the existing table schema")
              val auditNames = auditFields.map(_.name).toSet
              StructType(old.fields.filterNot(f => auditNames(f.name)))
            case None => throw e
          }
      }
    val target = upcastSchema(inferred)

    // S7 schema evolution (addNewColumns): widen the existing table by the
    // newly appeared columns — metadata-only because the location is pinned.
    // A column present in BOTH whose inferred type CHANGED across file
    // batches either up-casts the incoming data to the table's type
    // (numeric widening, via Spark's own Cast.canUpCast contract — the
    // cast lands in the aligned projection below) or fails LOUDLY with a
    // named error instead of a confusing mid-stream encoder/parquet
    // failure; the remedy (full refresh) is in the message.
    val existing = tableSchema(spark, fqn)
    val merged = existing match {
      case Some(old) =>
        val oldByName = old.fields.map(f => f.name.toLowerCase -> f).toMap
        val conflicts = target.fields.flatMap { f =>
          oldByName.get(f.name.toLowerCase).collect {
            case o if o.dataType != f.dataType &&
                !org.apache.spark.sql.catalyst.expressions.Cast
                  .canUpCast(f.dataType, o.dataType) =>
              (f.name, f.dataType, o.dataType)
          }
        }
        if (conflicts.nonEmpty)
          throw new SchemaConflictException(entity, fqn, conflicts.toSeq)
        target.fields.foreach { f =>
          oldByName.get(f.name.toLowerCase).foreach { o =>
            if (o.dataType != f.dataType)
              log(s"schema evolution on $fqn: up-casting incoming " +
                s"${f.name} ${f.dataType.simpleString} -> ${o.dataType.simpleString}")
          }
        }
        val newCols = target.fields.filterNot(f =>
          oldByName.contains(f.name.toLowerCase))
        if (newCols.nonEmpty) {
          log(s"schema evolution on $fqn: adding ${newCols.map(_.name).mkString(", ")}")
          val colsDdl = StructType(newCols).toDDL
          spark.sql(s"ALTER TABLE $fqn ADD COLUMNS ($colsDdl)")
        }
        tableSchema(spark, fqn).get
      case None => StructType(target.fields ++ auditFields)
    }

    val raw =
      if (cfg.rawFileFormat == "avro")
        // binaryFile stream + executor-side decode (same checkpoint/
        // trigger semantics as the native file formats — S2/S5/T1).
        // Decode against the PRE-upcast schema: avro ints arrive as ints
        // and the shared Upcast projection widens them like every format.
        graft.sources.AvroSource.readStream(spark, srcPath,
          StructType(inferred.fields), params.maxFilesPerTrigger)
      else {
        val reader0 = spark.readStream.format(cfg.rawFileFormat)
          .schema(StructType(target.fields)) // pinned source schema (pre-audit)
        val reader = params.maxFilesPerTrigger
          .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
        val withOpts = cfg.rawFileFormat match {
          case "csv" => reader.option("header", "true")
          case _     => reader
        }
        withOpts.load(srcPath)
      }

    val projected = Audit(Upcast(raw), params.fixedIngestedAt)
    // align to the table schema: evolution keeps old columns that current
    // files may lack (null-filled), fixes column order, and up-casts any
    // type-evolved incoming column to the table's type (validated safe by
    // the canUpCast gate above)
    val projTypes = projected.schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    // backtick-quote names: a bare col("user.id") parses as struct-field
    // access, breaking any source column with a dot in its name
    def bqCol(name: String) = col("`" + name.replace("`", "``") + "`")
    val aligned = merged.fields.map { f =>
      projTypes.get(f.name.toLowerCase) match {
        case Some(dt) if dt != f.dataType =>
          bqCol(f.name).cast(f.dataType).as(f.name)
        case Some(_) => bqCol(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    val out = projected.select(aligned.toIndexedSeq: _*)

    val q = out.writeStream
      .format("parquet")
      .option("checkpointLocation", cp)
      .option("path", tablePath)
      .trigger(Trigger.AvailableNow())
      .toTable(fqn)
    q.awaitTermination()

    setTableProps(spark, fqn, refTableProps(cfg) +
      ("comment" -> s"Bronze raw ingestion for $entity from $srcPath"))
    // this run's ingested rows: the AvailableNow query is fresh per run,
    // so its progress history covers exactly this trigger's batches.
    // The progress ring buffer holds ~100 entries — if it overflowed,
    // the sum may undercount, and a wrong "0" would skip a real change:
    // report at least 1 (a spurious republish is the safe direction).
    val prog = q.recentProgress
    val n = prog.map(_.numInputRows).sum
    if (prog.length >= 100) math.max(n, 1L) else n
  }

  // ---- phase 2: silver (batch, full recompute) ----------------------------

  /** The silver frame (reference `02_silver_processing.py:115-150`):
    * dedup → CDC filter → cluster layout →
    * expectations gate (+ metrics) → rename. When `obs` is given,
    * expectation violation counts bind to it (read after the write
    * action).
    *
    * ORDER MATTERS for the metrics: `repartitionByRange` (the cluster
    * layout) executes its child TWICE — a sampling pass for the range
    * boundaries, then the real shuffle — so a CollectMetrics node below
    * it double-counts. The expectations gate (+ observe) therefore sits
    * ABOVE the layout exchange, where it executes exactly once; filter
    * pushdown cannot move it below because Catalyst never pushes
    * predicates through CollectMetrics (it would change the metrics).
    * The layout thus samples boundaries over pre-gate rows — harmless
    * (dropped rows only nudge the sampled ranges).
    *
    * The layout runs on the PRE-rename frame (so expectations keep the
    * reference's pre-rename column vocabulary above it); clustering
    * columns configured under their post-rename silver names are
    * translated back. The bronze scan serves as the z-order quantile
    * sketch source so the sketch never re-executes the dedup window. */
  def buildSilverFrame(entity: String, cfg: EntityConfig,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    silverTransform(spark.read.table(params.bronzeFqn(entity)), cfg, obs,
      s"expectations_$entity")

  /** The silver transform over an arbitrary bronze-vocabulary source —
    * shared by the full recompute ([[buildSilverFrame]] over the whole
    * bronze table) and the incremental merge ([[runSilverIncremental]]
    * over previous-silver ∪ new rows), so the two modes cannot drift. */
  private def silverTransform(source: DataFrame, cfg: EntityConfig,
      obs: Option[org.apache.spark.sql.Observation],
      obsName: String,
      /** When set, the frame carries the PK-hash bucket column
        * ([[PipelineRunner.BucketCol]]) and is laid out by
        * [[bucketLayout]] in place of the global range/z-order layout,
        * whose cross-bucket file ordering the bucketed publish cannot
        * keep. */
      bucketed: Boolean = false): DataFrame = {
    val afterCdc = silverPreGate(source, cfg)
    val newToOld = cfg.renamedColumns.map(_.swap)
    val clusterCols = cfg.clusteringCols.map(c => newToOld.getOrElse(c, c))
    val laid =
      if (bucketed) bucketLayout(afterCdc, clusterCols)
      else ClusterLayout(afterCdc, clusterCols, boundsFrom = Some(source))
    // drop + quarantine tiers FILTER; warn + fail tiers only COUNT (all
    // four ride one observe on the write action — zero extra passes).
    // The named-observe fallback (no Observation handle) carries the gate
    // tiers only; fail/quarantine are config-restricted to the full path,
    // which always passes a handle.
    val gated = obs match {
      case Some(o) if cfg.anyExpectations =>
        Expectations.gated(laid, cfg.gateExpectations,
          cfg.monitorExpectations, o)
      case _ => Expectations(laid, cfg.gateExpectations,
        observeName = Some(obsName))
    }
    Rename(gated, cfg.renamedColumns)
  }

  /** The bronze checkpoint's latest COMPLETED batch id (−1 before any
    * batch) — the silver skip's provenance source. Completed (the
    * `commits` log), not merely started: an interrupted batch replays,
    * and its data must not count as consumable until it lands. */
  private def latestBronzeBatch(entity: String): Long = {
    val p = new org.apache.hadoop.fs.Path(
      s"${checkpointPath(entity)}/commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).flatMap(st =>
      st.getPath.getName.toLongOption).foldLeft(-1L)(math.max)
  }

  /** The catalog location of table `fqn`; None for a view or a missing
    * table. A metadata read, no listing. */
  private def tableLocation(fqn: String): Option[org.apache.hadoop.fs.Path] =
    if (!spark.catalog.tableExists(fqn)) None
    else spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(fqn))
      .storage.locationUri.map(new org.apache.hadoop.fs.Path(_))

  /** True when table `fqn` is located in one of this runner's own `v<N>`
    * version dirs under `basePath`. The no-change skips require it: their
    * provenance props say what the table holds, not where, and a runner
    * on another storage root that reuses the catalog name must publish
    * under its own root. */
  private def livesIn(fqn: String, basePath: String): Boolean = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(hconf)
    tableLocation(fqn).exists(loc => loc.getName.matches("v\\d+") &&
      fs.makeQualified(loc.getParent) == fs.makeQualified(base))
  }

  /** Returns true when a publish happened, false when the no-change
    * skip fired. `skipIfUnchanged` (set by [[run]] unless
    * `republishUnchanged` forces the old behavior) ALLOWS the skip; the
    * decision itself is PROVENANCE-based — the silver's stored
    * consumed-bronze-batch marker must equal the checkpoint's latest
    * completed batch (self-healing after a crash between the bronze
    * commit and this publish), the content fingerprint must match, AND
    * the table must live under this runner's root ([[livesIn]]).
    * Then the silver content is identical by construction, so the
    * republish (a full table rewrite in full mode) is pure waste: at
    * scale an idle trigger must cost metadata, not a rewrite (the SDP
    * unchanged-flow skip). Direct callers default to always-publish. */
  def runSilver(entity: String, cfg: EntityConfig,
      fullRefresh: Boolean = false,
      skipIfUnchanged: Boolean = false): Boolean =
    if (cfg.silverMode == "incremental") {
      // the incremental path is already O(new rows) and publishes no new
      // version on an empty batch — no gate needed
      runSilverIncremental(entity, cfg, fullRefresh)
      true
    } else {
      val fqn = params.silverFqn(entity)
      val bronzeBatch = latestBronzeBatch(entity)
      if (skipIfUnchanged && !fullRefresh &&
          spark.catalog.tableExists(fqn) &&
          tableProp(spark, fqn, ConfigFpProp)
            .contains(configFp(cfg, params.softDeletesEnabled)) &&
          tableProp(spark, fqn, ConsumedBronzeProp)
            .contains(bronzeBatch.toString) &&
          livesIn(fqn, silverPath(entity))) {
        log(s"$fqn: bronze unchanged since the last consumed batch " +
          s"($bronzeBatch) and an unchanged config - skipping the " +
          "silver republish (content identical by construction; delete " +
          "the table or change the config to force)")
        return false
      }
      // mode-switch guard: a bucketed (incremental-mode) table has
      // catalog-registered partitions pointing into generation dirs; a
      // full-mode publish would repoint the TABLE location while those
      // partition entries keep serving the old data — silently stale
      // reads forever. Under --full-refresh the bucketed table and its
      // data are dropped and rebuilt flat; otherwise fail loud.
      if (tableProp(spark, fqn, BucketCountProp).nonEmpty) {
        require(fullRefresh,
          s"$fqn was published by silver_mode=incremental (bucketed " +
            "layout with catalog-registered partitions); switching to " +
            "silver_mode=full requires a full refresh (--full-refresh) " +
            "to drop and rebuild it")
        log(s"full refresh: dropping bucketed $fqn for silver_mode=full")
        dropTableOrView(fqn) // a merge-on-read silver publishes a VIEW
        spark.sql(s"DROP TABLE IF EXISTS ${params.silverRawFqn(entity)}")
        deleteRecursively(spark, silverPath(entity))
      }
      // expectation metrics ride the write action via df.observe — zero
      // extra passes (the SDP expectation-event-log analog); persisted as
      // table properties below so they are queryable after the run
      val obs = Option.when(cfg.anyExpectations)(
        new org.apache.spark.sql.Observation(s"expectations_$entity"))
      val laid = buildSilverFrame(entity, cfg, obs)
      // expect_all_or_fail: the version dir is fully written when the
      // check runs, so a violation aborts BEFORE the repoint — readers
      // keep the last good version, the candidate dir is deleted
      // (atomic versioned publish doubling as the rollback)
      publishVersioned(fqn, silverPath(entity), laid,
        preCommit = () => failOnViolations(entity, cfg.expectAllOrFail, obs))
      setTableProps(spark, fqn, refTableProps(cfg) +
        ("comment" -> s"Silver deduplicated table for $entity") +
        ("clustering_cols" -> cfg.clusteringCols.mkString(",")) +
        (ConfigFpProp -> configFp(cfg, params.softDeletesEnabled)) +
        (ConsumedBronzeProp -> bronzeBatch.toString) ++
        expectationMetrics(entity, "silver", fqn, obs))
      if (cfg.expectAllOrQuarantine.nonEmpty) publishQuarantine(entity, cfg)
      if (cfg.profileOnPublish) appendProfileLog(entity, "silver", fqn)
      true
    }

  /** Incremental silver (`silver_mode: "incremental"`) — the 100 TB path:
    * at scale the reference's full silver recompute per trigger is the
    * scalability cliff (every trigger rescans the entire bronze history).
    * Here a SECOND checkpointed file stream follows the bronze directory
    * and each micro-batch folds only the NEW files into the published
    * silver, at BUCKET granularity: silver is laid out in
    * `cfg.silverBuckets` PK-hash buckets (`_bucket = pmod(hash(pk), n)`,
    * a hive-style partition dir per bucket), the merge reads ONLY the
    * buckets the new rows land in (partition-pruned), and the publish
    * rewrites only those buckets — untouched buckets are never written or
    * moved; their catalog partition entries keep pointing at the older
    * generation dirs that hold their files.
    * Per trigger the READ is O(|new| + |touched silver buckets|) and the
    * WRITE is O(|new| + |touched silver buckets|), not O(|silver|): at
    * 100 TB silver with thousands of buckets, a trigger touching a few
    * PKs rewrites gigabytes, not the table ([[mergeSilverBatch]]).
    *
    * Contents equal the full recompute because keep-latest dedup is
    * per-PK (bucket-local by construction) and the CDC filter +
    * expectations gate run on the MERGED frame — a new deleted/violating
    * latest version retracts its PK exactly like the full recompute
    * would. Caveat shared with any merge-on-arrival design: equivalence
    * of same-timestamp ties needs a strictly monotone ingestion clock —
    * under an injected FIXED clock a previously retracted PK re-contests
    * the `_source_file` tie-break against fewer candidates (see the
    * [[graft.config.EntityConfig.silverMode]] doc). A run with no new
    * bronze files publishes no new version (the checkpoint knows there is
    * nothing to do). Expectation metrics are per-merge (they gate the
    * merged frame, so violation counts cover touched-bucket survivors +
    * increment, not bronze history). Full refresh drops the silver
    * checkpoint and table first, then the stream replays the whole bronze
    * directory in one rebuild. */
  def runSilverIncremental(entity: String, cfg: EntityConfig,
      fullRefresh: Boolean = false): Unit = {
    val fqn = params.silverFqn(entity)
    val cp = s"$storageRoot/_checkpoints/silver_$entity"
    if (fullRefresh) {
      log(s"full refresh: dropping $fqn, checkpoint $cp")
      dropTableOrView(fqn)
      spark.sql(s"DROP TABLE IF EXISTS ${params.silverRawFqn(entity)}")
      deleteRecursively(spark, cp)
      deleteRecursively(spark, silverPath(entity))
    }
    // bronze's catalog schema is the evolved superset; older files simply
    // read their missing columns as NULL
    val bronzeSchema = spark.table(params.bronzeFqn(entity)).schema
    val q = spark.readStream.schema(bronzeSchema)
      .parquet(bronzePath(entity))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeSilverBatch(entity, cfg, batch, batchId)
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // profile once per RUN (not per micro-batch — a run is the publish
    // session); guard on existence for the nothing-ever-ingested case
    if (cfg.profileOnPublish && spark.catalog.tableExists(fqn))
      appendProfileLog(entity, "silver", fqn)
  }

  /** One incremental-silver merge at bucket granularity:
    * touched-buckets-of-previous-silver ∪ `batch` through the shared
    * transform, published with only the touched bucket dirs rewritten
    * ([[publishBucketedGeneration]]); the strategy bodies build the
    * frame and capture the change feed.
    *
    * The touched-bucket set is a `distinct().collect()` over the NEW
    * batch's bucket ids — bounded by `silverBuckets` ints, never by data
    * size. The previous-silver read carries a `_bucket IN (touched)`
    * partition filter, so file listing prunes every untouched bucket dir
    * before a byte is read. */
  private def mergeSilverBatch(entity: String, cfg: EntityConfig,
      batch: DataFrame, batchId: Long): Unit = {
    val fqn = params.silverFqn(entity)
    val n = cfg.silverBuckets
    // bucket count is baked into the physical layout: a silent change
    // would make partition pruning read the WRONG subset — fail loud.
    // Both strategies record their props on the PUBLISHED name (a table
    // for copy-on-write, the merge view for merge-on-read).
    tableProp(spark, fqn, BucketCountProp).map(_.toInt) match {
      case Some(recorded) =>
        require(recorded == n,
          s"$fqn was laid out with silver_buckets=$recorded but the " +
            s"config now says $n — bucket assignment is baked into the " +
            "layout; run a full refresh (--full-refresh) to re-bucket")
      case None =>
        // full→incremental mode switch on an existing flat table: the
        // merge would look for a _bucket column that does not exist —
        // name the situation and the remedy instead
        require(!spark.catalog.tableExists(fqn),
          s"$fqn exists but was published by silver_mode=full (no " +
            "bucketed layout); switching to silver_mode=incremental " +
            "requires a full refresh (--full-refresh) to rebuild it " +
            "bucketed")
    }
    // merge-strategy guard: cow publishes a bucketed TABLE, mor a raw
    // table + merge VIEW — physically incompatible, so a silent switch
    // would corrupt reads. Absent prop on an existing bucketed table =
    // a pre-strategy copy-on-write layout.
    val recorded = tableProp(spark, fqn, MergeStrategyProp).orElse(
      Option.when(spark.catalog.tableExists(fqn))("copy_on_write"))
    recorded.foreach { rec =>
      require(rec == cfg.silverMerge,
        s"$fqn was published with silver_merge=$rec but the config now " +
          s"says ${cfg.silverMerge} — the physical layouts differ " +
          "(bucketed table vs base+delta table behind a merge view); " +
          "run a full refresh (--full-refresh) to switch")
    }
    val mor = cfg.silverMerge == "merge_on_read"
    val rawFqn = params.silverRawFqn(entity)
    // the bucket is computed on the bronze-vocabulary PK, BEFORE the
    // rename projection, on both sides of the merge. Persist: the batch
    // is consumed TWICE (touched-bucket distinct, then the merge write)
    // and a foreachBatch frame recomputes from the source files each
    // time — at the 100 TB design point a catch-up batch would
    // otherwise pay the new-file ingest I/O twice
    val withB = batch.withColumn(BucketCol, bucketOf(cfg.uniquePrimaryKey, n))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = withB.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
      // a merge-on-read store exists once its raw table does
      if (touched.isEmpty &&
          spark.catalog.tableExists(if (mor) rawFqn else fqn)) {
        log(s"$fqn batch $batchId is empty; publishing nothing"); return
      }
      val pk = cfg.silverPrimaryKey
      // the change feed's pre-image: the published rows of the batch's
      // PKs, read from the touched buckets only
      lazy val batchPKs = Rename(withB, cfg.renamedColumns)
        .select(pk.map(col): _*).distinct()
      def preImage: DataFrame = spark.table(fqn).where(inBuckets(touched))
        .join(batchPKs, pk, "left_semi")
      val obsName = s"expectations_${entity}_b$batchId"
      val obs = Option.when(cfg.anyExpectations)(
        new org.apache.spark.sql.Observation(obsName))
      if (mor) {
        mergeSilverBatchMor(entity, cfg, withB, batchId, touched, obs,
          obsName)(preImage)
        refreshMorView(entity, cfg)
      } else
        mergeSilverBatchCow(entity, cfg, withB, batchId, touched, obs,
          obsName)(batchPKs, preImage)
      val props = refTableProps(cfg) ++ Map(
        "comment" -> (
          if (mor) s"Silver deduplicated merge view for $entity " +
            s"(incremental merge-on-read, $n PK-hash buckets over $rawFqn)"
          else s"Silver deduplicated table for $entity (incremental, " +
            s"$n PK-hash buckets)"),
        "clustering_cols" -> cfg.clusteringCols.mkString(","),
        BucketCountProp -> n.toString,
        MergeStrategyProp -> cfg.silverMerge) ++
        expectationMetrics(entity, "silver", fqn, obs)
      if (mor) setViewProps(spark, fqn, props)
      else setTableProps(spark, fqn, props)
    } finally withB.unpersist()
  }

  /** The PK-hash bucket of a row: Murmur3 (the hash family Spark
    * bucketing uses) of `pk`, mod `n`. The merge hashes the
    * bronze-vocabulary PK, the rebucket the renamed one: same values,
    * same bucket. */
  private def bucketOf(pk: Seq[String], n: Int): Column =
    pmod(hash(pk.map(col): _*), lit(n))

  /** Rows of the given buckets — a partition filter on a bucketed table. */
  private def inBuckets(buckets: Iterable[Int]): Column =
    col(BucketCol).isin(buckets.toSeq.map(Int.box): _*)

  /** The bucketed write layout: ONE hash exchange on the bucket plus a
    * within-partition sort by (bucket, the cluster columns `df` has) —
    * exactly the sort the dynamic partitioned write needs, so no second
    * exchange and bounded open writers per task. */
  private def bucketLayout(df: DataFrame, clusterCols: Seq[String])
      : DataFrame = {
    val cc = clusterCols.filter(df.columns.contains)
    df.repartition(col(BucketCol))
      .sortWithinPartitions((BucketCol +: cc).map(col): _*)
  }

  /** REBUCKET MIGRATION: rewrite an existing incremental-silver layout
    * from its recorded `silver_buckets` to the config's new count — the
    * surgical alternative to `--full-refresh` when ONLY the bucket count
    * changed. A full refresh drops the checkpoint and replays every
    * bronze file through the stream; this is one read of the CURRENT
    * silver contents (winners only — the logical table, so for
    * merge-on-read the tombstones collapse exactly as a full compaction
    * would) re-hashed into the new bucket count and published as a fresh
    * generation, with stale partitions/deltas dropped. Bronze, the
    * checkpoint, and the ingest stream are untouched, so the next run
    * merges incrementally into the new layout.
    *
    * No-op when the recorded count already matches. Fails loud when the
    * entity has no bucketed layout (nothing to migrate — either
    * silver_mode=full or the table was never built).
    *
    * Scale: one table-sized shuffle+write — the same cost class as one
    * compaction of every bucket; at 100 TB you schedule it like any
    * table rewrite, but you do NOT re-read or re-parse the raw zone the
    * way full refresh does. */
  def rebucketSilver(entity: String, cfg: EntityConfig): Unit =
    RunLock.withLock(spark, s"$storageRoot/_checkpoints") {
      rebucketSilverLocked(entity, cfg)
    }

  private def rebucketSilverLocked(entity: String, cfg: EntityConfig): Unit = {
    val fqn = params.silverFqn(entity)
    val n = cfg.silverBuckets
    if (!spark.catalog.tableExists(fqn)) {
      // fresh deployment: nothing to migrate, the first run lays out
      // with the config's count directly
      log(s"$fqn does not exist yet; rebucket is a no-op"); return
    }
    val recorded = tableProp(spark, fqn, BucketCountProp).map(_.toInt)
      .getOrElse(throw new IllegalStateException(
        s"$fqn has no bucketed layout to rebucket (silver_mode=full); " +
          "rebucket only migrates an existing incremental layout — " +
          "use --full-refresh to rebuild bucketed"))
    if (recorded == n) {
      log(s"$fqn already at silver_buckets=$n; rebucket is a no-op"); return
    }
    log(s"$fqn rebucketing $recorded -> $n buckets")
    val mor = tableProp(spark, fqn, MergeStrategyProp)
      .contains("merge_on_read")
    // the published name is the logical table (for merge-on-read the
    // merge VIEW: winners, tombstones collapsed — identical to compacting
    // every bucket); its renamed PK holds the merge path's PK values, so
    // the new buckets match what the merge will compute. The publish
    // writes a NEW generation before any partition repoint, so the
    // rewrite reads the old layout consistently; a merge-on-read base
    // publish also drops every old delta partition.
    val cur = spark.table(fqn).drop(BucketCol)
      .withColumn(BucketCol, bucketOf(cfg.silverPrimaryKey, n))
    publishBucketedGeneration(if (mor) params.silverRawFqn(entity) else fqn,
      silverPath(entity),
      bucketLayout(if (mor) cur.withColumn(RetractedCol, lit(false)) else cur,
        cfg.clusteringCols),
      touched = (0 until math.max(recorded, n)).toSet,
      deltaGen = Option.when(mor)(0L))
    if (mor) {
      // CREATE OR REPLACE VIEW wipes the view's properties — restore the
      // layout contract (count AND strategy) or the next merge's guard
      // misreads the table as a pre-strategy copy-on-write layout
      refreshMorView(entity, cfg)
      setViewProps(spark, fqn, Map(BucketCountProp -> n.toString,
        MergeStrategyProp -> "merge_on_read"))
    } else setTableProps(spark, fqn, Map(BucketCountProp -> n.toString))
    log(s"$fqn rebucketed to $n buckets")
  }

  /** Copy-on-write merge (`silver_merge: "copy_on_write"`): the touched
    * buckets are REWRITTEN in full per trigger. */
  private def mergeSilverBatchCow(entity: String, cfg: EntityConfig,
      withB: DataFrame, batchId: Long, touched: Set[Int],
      obs: Option[org.apache.spark.sql.Observation], obsName: String)(
      batchPKs: => DataFrame, preImage: => DataFrame): Unit = {
    val fqn = params.silverFqn(entity)
    val exists = spark.catalog.tableExists(fqn)
    val prev =
      if (exists)
        Rename(spark.table(fqn), cfg.renamedColumns.map(_.swap))
          .where(inBuckets(touched))
      else withB.limit(0)
    // allowMissingColumns: schema evolution can widen either side mid-
    // stream (an old silver lacks a just-evolved bronze column); the
    // absent side null-fills, exactly like the bronze evolution path
    val merged = prev.unionByName(withB, allowMissingColumns = true)
    val frame = silverTransform(merged, cfg, obs, obsName, bucketed = true)
    // CDF capture BEFORE the publish swaps partitions — the pre-image
    // only exists now. The post-image re-runs the transform WITHOUT
    // the Observation (its metrics must come from the publish action,
    // not the diff) — one extra pass over the touched-bucket merge,
    // the copy-on-write price of exact preimages.
    // (a batch-0 first build skips image capture — dead weight, see
    // the merge-on-read hook; the epoch latch still mints)
    if (cdfOn(entity, cfg)) {
      if (batchId == 0L && !exists) ensureCdfEpoch(entity)
      else writeCdfBatch(entity, cfg, batchId)(
        if (exists) preImage else Rename(withB, cfg.renamedColumns).limit(0),
        silverTransform(merged, cfg, None, obsName, bucketed = true)
          .join(batchPKs, cfg.silverPrimaryKey, "left_semi"))
    }
    publishBucketedGeneration(fqn, silverPath(entity), frame, touched)
  }

  // ---- merge-on-read incremental silver -----------------------------------

  /** Merge-on-read merge (`silver_merge: "merge_on_read"`): the write per
    * trigger is O(batch) — the batch's per-PK-latest rows land as one
    * small DELTA file per touched bucket, never rewriting base data. CDC
    * deletes and expectation violations become TOMBSTONE rows
    * (`_retracted = true`) so they can retract a base winner at read
    * time. The published silver name is a merge VIEW over the raw
    * base+delta table ([[refreshMorView]]); buckets whose delta count
    * exceeds `silver_compact_after` compact inline
    * ([[compactMorBuckets]]).
    *
    * At 100 TB silver this is the low-latency ingest posture (Hudi's MOR
    * / Iceberg's merge-on-read on this repo's catalog-partition
    * manifest): copy-on-write amortizes a whole-bucket write per touched
    * bucket per trigger; merge-on-read defers that cost to a bounded
    * read-side merge plus an occasional compaction, which is the right
    * trade when triggers are frequent and batches are small relative to
    * a bucket. */
  private def mergeSilverBatchMor(entity: String, cfg: EntityConfig,
      withB: DataFrame, batchId: Long, touched: Set[Int],
      obs: Option[org.apache.spark.sql.Observation], obsName: String)(
      preImage: => DataFrame): Unit = {
    val rawFqn = params.silverRawFqn(entity)
    if (!spark.catalog.tableExists(rawFqn)) {
      // first merge = the base build: the regular silver transform
      // (keep-latest, CDC filter, expectations gate, bucket layout,
      // rename). Dropped rows need no tombstone — there is no base
      // to retract from yet.
      val frame = silverTransform(withB, cfg, obs, obsName, bucketed = true)
        .withColumn(RetractedCol, lit(false))
      // CDF: a batch-0 base build writes NO images — every consumer's
      // first delta is an initial load of the live table and every
      // later range is (from ≥ 0, to], so gen-0 images are dead
      // weight (at 100 TB, a full-table copy). The epoch latch still
      // mints so later merges keep the feed current. A base build at
      // a HIGHER batch id (a table dropped out from under a live
      // checkpoint) still captures, since ranges can reach it.
      if (cdfOn(entity, cfg)) {
        if (batchId == 0L) ensureCdfEpoch(entity)
        else {
          val cleanNew = silverTransform(withB, cfg, None, obsName,
            bucketed = true)
          writeCdfBatch(entity, cfg, batchId)(cleanNew.limit(0),
            cleanNew)
        }
      }
      publishBucketedGeneration(rawFqn, silverPath(entity), frame, touched,
        deltaGen = Some(0L))
    } else {
      val frame = silverDeltaFrame(withB, cfg, obs)
      // CDF capture BEFORE the delta partitions register — the
      // pre-image is the CURRENT merge view (touched-bucket-pruned,
      // semi-joined to the batch PKs: the one read-side cost CDC adds
      // to merge-on-read's O(batch) write, the same trade Delta/Hudi
      // CDC makes on MOR tables). The post-image is NOT the raw
      // delta: a batch row can LOSE the view's keep-latest ordering
      // to the existing winner (a replay under the same injected
      // clock, an out-of-order file), and emitting its image would
      // be a change silver never made — so the post state re-runs
      // the SAME keep-latest over current-winners ∪ delta winners
      // (tombstone winners retract their PK, surfacing as 'delete'
      // via the diff with the PRE-image row — the standard CDC
      // delete image; a losing batch row leaves post == pre and
      // diffs to nothing).
      if (cdfOn(entity, cfg)) {
        val pre = preImage
        writeCdfBatch(entity, cfg, batchId)(
          pre,
          Dedup.latestByIngestion(
              pre.withColumn(RetractedCol, lit(false))
                .unionByName(silverDeltaFrame(withB, cfg, None),
                  allowMissingColumns = true),
              cfg.silverPrimaryKey)
            .filter(!col(RetractedCol)).drop(RetractedCol, DeltaCol))
      }
      // delta generation id: unique per merge. batchId is monotone per
      // checkpoint; guard against a manually reset checkpoint by also
      // clearing the max delta gen already registered.
      val gen = math.max(math.max(batchId, 1L),
        bucketPartitions(rawFqn).map(_._2).maxOption.getOrElse(0L) + 1L)
      publishBucketedGeneration(rawFqn, silverPath(entity), frame, touched,
        deltaGen = Some(gen))
      compactMorBuckets(entity, cfg, touched)
    }
  }

  /** The DELTA transform: the batch's per-PK-latest rows, CLASSIFIED
    * instead of filtered — a row the copy-on-write transform would drop
    * (CDC delete when hard deletes are on, or an expectation violation)
    * becomes a tombstone (`_retracted = true`) that retracts its PK at
    * read time. Mirrors [[silverTransform]]'s order exactly: keep-latest
    * dedup, CDC classification, expectation classification (violation
    * metrics count post-dedup NON-deleted rows, matching the cow gate
    * which runs above the CDC filter), bucket layout, rename. */
  private def silverDeltaFrame(withB: DataFrame, cfg: EntityConfig,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val latest = Dedup.latestByIngestion(withB, cfg.uniquePrimaryKey)
    val del: Column =
      if (!params.softDeletesEnabled && latest.columns.contains("op"))
        col("op") === "D"
      else lit(false)
    val preds = cfg.expectAllOrDrop.toSeq.sortBy(_._1)
      .map { case (nm, sql) => nm -> expr(sql) }
    val passes: Column =
      if (preds.isEmpty) lit(true)
      else preds.map(p => coalesce(p._2, lit(false))).reduce(_ && _)
    // warn-tier (expect_all) predicates are counted on the same observe
    // but never gate (fail/quarantine tiers are config-restricted to
    // silver_mode=full, so only warn can appear here as a monitor)
    val monitors = cfg.monitorExpectations.toSeq.sortBy(_._1)
      .map { case (nm, sql) => nm -> expr(sql) }
    val observed = obs match {
      case Some(o) =>
        val metrics = (preds ++ monitors).map { case (nm, p) =>
          sum(when(!del && !coalesce(p, lit(false)), 1L).otherwise(0L))
            .as(s"violations_$nm")
        }
        latest.observe(o, metrics.head, metrics.tail: _*)
      case None => latest
    }
    val classified = observed.withColumn(RetractedCol, del || !passes)
    // same physical discipline as the bucketed transform
    val newToOld = cfg.renamedColumns.map(_.swap)
    Rename(bucketLayout(classified,
        cfg.clusteringCols.map(c => newToOld.getOrElse(c, c))),
      cfg.renamedColumns)
  }

  /** The catalog partition inventory of a bucketed silver table as
    * (bucket, deltaGen) pairs — deltaGen 0 on a copy-on-write table,
    * which has no `_delta` partition column. Bounded by buckets ×
    * (compact_after + 1), pure metadata. */
  private def bucketPartitions(fqn: String): Seq[(Int, Long)] =
    spark.sql(s"SHOW PARTITIONS $fqn").collect().toSeq
      .map(_.getString(0)).flatMap { s =>
        val kv = s.split('/').flatMap { part =>
          part.split("=", 2) match {
            case Array(a, b) => Some(a -> b)
            case _ => None
          }
        }.toMap
        for {
          b <- kv.get(BucketCol).flatMap(_.toIntOption)
          d <- kv.get(DeltaCol).fold(Option(0L))(_.toLongOption)
        } yield (b, d)
      }

  /** Compact every candidate bucket holding MORE than
    * `silver_compact_after` delta partitions: merge its base ∪ deltas
    * with the same keep-latest ordering the view uses, drop tombstone
    * winners, and publish the result as the bucket's new BASE
    * generation, which also drops its delta partitions
    * ([[publishBucketedGeneration]] at `_delta = 0`). Read is
    * partition-pruned to exactly the compacted buckets; untouched
    * buckets never move. The view contents are invariant under
    * compaction (same ordering, same tombstone filter) — pinned by
    * spec. */
  private def compactMorBuckets(entity: String, cfg: EntityConfig,
      candidates: Set[Int]): Unit = {
    val rawFqn = params.silverRawFqn(entity)
    val deltas = bucketPartitions(rawFqn).filter(_._2 > 0L).groupBy(_._1)
    val toCompact = candidates.toSeq.sorted.filter(k =>
      deltas.getOrElse(k, Nil).sizeIs > cfg.silverCompactAfter)
    if (toCompact.isEmpty) return
    log(s"$rawFqn compacting buckets ${toCompact.mkString(",")} " +
      s"(> ${cfg.silverCompactAfter} deltas)")
    val winners = Dedup.latestByIngestion(
        spark.table(rawFqn).where(inBuckets(toCompact)), cfg.silverPrimaryKey)
      .filter(!col(RetractedCol))
      .drop(DeltaCol)
    publishBucketedGeneration(rawFqn, silverPath(entity),
      bucketLayout(winners, cfg.clusteringCols), toCompact.toSet,
      deltaGen = Some(0L))
  }

  /** (Re)create the published silver MERGE VIEW over the raw base+delta
    * table. Read-side plan, by construction:
    *
    *  - `dpk` (the contested-PK set) comes from delta partitions only —
    *    bounded by `silver_compact_after` small files per bucket — and is
    *    BROADCAST to both joins: base is NEVER shuffled, the whole read
    *    is one pass over base plus a delta-sized merge. (Base is scanned
    *    by two branches; each is a pruned columnar scan — still far
    *    cheaper at scale than one table-sized hash exchange.)
    *  - keep-latest ties resolve by the SAME ordering
    *    [[graft.ops.Dedup.latestByIngestion]] uses (`_ingested_at` DESC,
    *    then source-file/mod-time DESC — Spark's DESC is NULLS LAST,
    *    matching `desc_nulls_last`), so view contents equal the
    *    copy-on-write merge row for row.
    *  - the window partitions by (`_bucket`, pk) — `_bucket` is a pure
    *    function of the PK so the grouping is unchanged, and having the
    *    partition column in the spec lets a reader's `_bucket` predicate
    *    push below the window into BOTH raw scans: partition pruning
    *    survives the view.
    *  - tombstone winners (`_retracted`) drop here, retracting their PK
    *    exactly like the cow merge's CDC filter / expectations gate. */
  private def refreshMorView(entity: String, cfg: EntityConfig): Unit = {
    def q(id: String): String = "`" + id.replace("`", "``") + "`"
    val fqn = params.silverFqn(entity)
    val rawFqn = params.silverRawFqn(entity)
    val raw = spark.table(rawFqn)
    val pkNew = cfg.silverPrimaryKey
    val pkList = pkNew.map(q).mkString(", ")
    val joinCond = pkNew.map(p => s"b.${q(p)} <=> d.${q(p)}")
      .mkString(" AND ")
    val order = Seq(Audit.IngestedAt, Audit.SourceFile, Audit.FileModTime)
      .filter(raw.columns.contains).map(c => s"${q(c)} DESC").mkString(", ")
    val outCols = raw.schema.fieldNames
      .filterNot(Set(DeltaCol, RetractedCol).contains)
    val outList = outCols.map(q).mkString(", ")
    spark.sql(
      s"""CREATE OR REPLACE VIEW $fqn AS
         |WITH delta AS (SELECT * FROM $rawFqn WHERE ${q(DeltaCol)} > 0),
         |dpk AS (SELECT DISTINCT $pkList FROM delta),
         |base AS (SELECT * FROM $rawFqn WHERE ${q(DeltaCol)} = 0),
         |uncontested AS (
         |  SELECT /*+ BROADCAST(d) */ b.* FROM base b
         |  LEFT ANTI JOIN dpk d ON $joinCond),
         |contested AS (
         |  SELECT /*+ BROADCAST(d) */ b.* FROM base b
         |  LEFT SEMI JOIN dpk d ON $joinCond
         |  UNION ALL SELECT * FROM delta),
         |ranked AS (
         |  SELECT c.*, ROW_NUMBER() OVER (
         |    PARTITION BY ${q(BucketCol)}, $pkList
         |    ORDER BY $order) AS ${q(RowNumCol)}
         |  FROM contested c)
         |SELECT $outList FROM uncontested
         |UNION ALL
         |SELECT $outList FROM ranked
         |WHERE ${q(RowNumCol)} = 1 AND NOT ${q(RetractedCol)}
         |""".stripMargin)
  }

  /** DROP VIEW / DROP TABLE as the object's actual type demands — the
    * published silver name is a TABLE under full / copy-on-write modes
    * and a VIEW under merge-on-read. */
  private def dropTableOrView(fqn: String): Unit =
    if (spark.catalog.tableExists(fqn)) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(fqn)
      val isView = spark.sessionState.catalog.getTableMetadata(ident)
        .tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
      if (isView) spark.sql(s"DROP VIEW IF EXISTS $fqn")
      else spark.sql(s"DROP TABLE IF EXISTS $fqn")
    }

  /** Drain an expectations Observation (post-write) into table-property
    * form AND append the counts to the pipeline's expectation event log —
    * shared by the silver (full + incremental) and gold publishes so
    * metric naming, logging, and event-log rows cannot diverge between
    * layers. */
  private def expectationMetrics(entity: String, layer: String, fqn: String,
      obs: Option[org.apache.spark.sql.Observation]): Map[String, String] =
    obs match {
      case Some(o) =>
        // sum() over an EMPTY observed frame yields NULL — an empty
        // publish (empty bronze, everything dropped upstream) has zero
        // violations, not unparseable ones
        val raw = o.get.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (v match {
            case n: Number => n.longValue()
            case _         => 0L
          }) }
        raw.foreach { case (k, v) => log(s"$fqn expectations.$k = $v") }
        appendExpectationLog(entity, layer, raw.map { case (k, v) =>
          k.stripPrefix("violations_") -> v })
        raw.map { case (k, v) => s"expectations.$k" -> v.toString }.toMap
      case None => Map.empty
    }

  /** The SDP event-log analog (reference `02_silver_processing.py:139-141`
    * semantics): expectation violation counts were previously visible only
    * as the LATEST table properties; real SDP keeps an append-only history
    * in the pipeline event log. This appends one row per (publish,
    * expectation) — (entity, layer, run_id, expectation, violations, ts)
    * — to `<silver-schema>._expectation_log`, a plain parquet table
    * registered on first use, queryable via `spark.table`. Tiny
    * metadata-sized writes (one file per publish; compact like any
    * streaming sink if it ever matters). */
  private def appendExpectationLog(entity: String, layer: String,
      counts: Seq[(String, Long)]): Unit = {
    if (counts.isEmpty) return
    val ts = params.fixedIngestedAt.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    import spark.implicits._
    val path = s"$storageRoot/_expectation_log"
    // SERIALIZE appends: concurrent entity flows (run(concurrency = N))
    // would otherwise race two Spark append jobs on one output path,
    // whose shared `_temporary` staging dir the first commit deletes —
    // silently dropping the second flow's rows. Cross-RUN concurrency is
    // already excluded by the RunLock, so a JVM-level monitor suffices;
    // the serialized section writes a few KB.
    PipelineRunner.expectationLogWriteLock.synchronized {
      counts.map { case (name, n) => (entity, layer, runId, name, n, ts) }
        .toDF("entity", "layer", "run_id", "expectation", "violations", "ts")
        .coalesce(1).write.mode("append").parquet(path)
      val fqn = params.expectationLogFqn
      if (!spark.catalog.tableExists(fqn))
        spark.sql(s"CREATE TABLE IF NOT EXISTS $fqn (entity STRING, " +
          "layer STRING, run_id STRING, expectation STRING, " +
          s"violations BIGINT, ts TIMESTAMP) USING parquet LOCATION '$path'")
      else spark.catalog.refreshTable(fqn)
    }
  }

  /** `profile_on_publish`: append the published table's per-column
    * census ([[graft.analytics.Profiler.profile]], approx-distinct mode
    * — no Expand blowup) to `<silver-schema>._profile_log`, stamped
    * (entity, layer, run_id, ts) — the drift-dashboard feed. One extra
    * column-pruned aggregate scan of the published table; the appended
    * rows are column-count-sized. Same serialized-append posture as the
    * expectation log. */
  private def appendProfileLog(entity: String, layer: String,
      fqn: String): Unit = {
    val ts = params.fixedIngestedAt.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    val rows = graft.analytics.Profiler.profile(spark.table(fqn))
      .withColumn("entity", lit(entity))
      .withColumn("layer", lit(layer))
      .withColumn("run_id", lit(runId))
      .withColumn("ts", lit(ts))
    // materialize the (column-count-sized) profile OUTSIDE the lock —
    // the lock's contract is a few-KB critical section, and the profile
    // is a full aggregate scan of the published table
    val schema = rows.schema
    val local = java.util.Arrays.asList(rows.collect(): _*)
    val path = s"$storageRoot/_profile_log"
    PipelineRunner.expectationLogWriteLock.synchronized {
      spark.createDataFrame(local, schema)
        .coalesce(1).write.mode("append").parquet(path)
      val logFqn = params.profileLogFqn
      if (!spark.catalog.tableExists(logFqn))
        spark.sql(s"CREATE TABLE IF NOT EXISTS $logFqn " +
          "(col_name STRING, data_type STRING, n_rows BIGINT, " +
          "n_nulls BIGINT, n_distinct BIGINT, min_num DECIMAL(38,6), " +
          "max_num DECIMAL(38,6), min_str STRING, max_str STRING, " +
          "avg_len_x1e6 BIGINT, entity STRING, layer STRING, " +
          s"run_id STRING, ts TIMESTAMP) USING parquet LOCATION '$path'")
      else spark.catalog.refreshTable(logFqn)
    }
  }

  /** One id per [[run]] invocation, stamped on event-log rows so a
    * publish history groups by run. */
  @volatile private var runId: String = java.util.UUID.randomUUID().toString

  /** `expect_all_or_fail` check, run between the version-dir write and
    * the table repoint: the observed violation counts (already collected
    * by the write action — no extra pass) abort the publish on the first
    * nonzero fail-tier count. */
  private def failOnViolations(entity: String,
      failTier: Map[String, String],
      obs: Option[org.apache.spark.sql.Observation]): Unit =
    if (failTier.nonEmpty) obs.foreach { o =>
      val counts = o.get
      val failed = failTier.keys.toSeq.sorted
        // sum() over an EMPTY observed frame yields NULL, not 0 — an
        // empty publish (all rows dropped upstream, empty bronze) has
        // zero violations and must go through
        .map(nm => nm -> (counts.get(s"violations_$nm") match {
          case Some(v: Number) => v.longValue()
          case _               => 0L
        }))
        .filter(_._2 > 0)
      if (failed.nonEmpty)
        throw new IllegalStateException(s"expect_all_or_fail violated " +
          s"for $entity: " + failed.map { case (nm, n) => s"$nm ($n rows)" }
            .mkString(", ") + "; publish aborted, previous version kept")
    }

  /** The shared silver prefix BEFORE any expectation gate — keep-latest
    * PK dedup then the CDC delete filter. Factored so the quarantine
    * side can never drift from what silver actually gated (both derive
    * from this exact sequence). */
  private def silverPreGate(source: DataFrame, cfg: EntityConfig)
      : DataFrame = {
    val deduped = Dedup.latestByIngestion(source, cfg.uniquePrimaryKey)
    if (!params.softDeletesEnabled) SoftDeleteFilter(deduped) else deduped
  }

  /** Quarantine publish ([EXT] `expect_all_or_quarantine`): the rows that
    * passed the drop gate but violate >= 1 quarantine predicate, with the
    * sorted `_violated` names and run stamps, republished through the
    * same versioned publish as silver — the table always reflects the
    * CURRENT source (no cross-run duplicate rows) and history stays
    * inspectable via time-travel version reads. Costs one extra pass
    * over the batch INCLUDING the PK-dedup shuffle (the price of the
    * DLT quarantine pattern — two sides, opposite filters; the sides
    * share [[silverPreGate]], so the cost is duplicated work, never
    * divergent semantics). */
  private def publishQuarantine(entity: String, cfg: EntityConfig): Unit = {
    val afterCdc =
      silverPreGate(spark.read.table(params.bronzeFqn(entity)), cfg)
    val afterDrop = Expectations(afterCdc, cfg.expectAllOrDrop)
    val ts = params.fixedIngestedAt.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    val frame = Rename(
      Expectations.violatedOnly(afterDrop, cfg.expectAllOrQuarantine),
      cfg.renamedColumns)
      .withColumn("_run_id", lit(runId))
      .withColumn("_quarantined_at", lit(ts))
    val fqn = params.quarantineFqn(entity)
    publishVersioned(fqn, s"$storageRoot/_quarantine/$entity", frame)
    setTableProps(spark, fqn, Map(
      "comment" -> s"Quarantined expectation violations for $entity"))
  }

  /** Atomic versioned publish shared by the silver and gold batch tables:
    * write `df` to a fresh `.../v{N}` dir, widen the catalog schema
    * additively, repoint with `SET LOCATION` (or create on first run),
    * then vacuum superseded versions past the retention window. The
    * repoint is one catalog operation, so readers see one complete
    * version or the next, never a missing table (the parquet-catalog
    * stand-in for a table format's atomic commit). A
    * `preCommit` hook runs after the write but before the repoint; if it
    * throws, the candidate dir is deleted and the table keeps its
    * previous version (the `expect_all_or_fail` abort path). */
  private def publishVersioned(fqn: String, basePathStr: String,
      df: DataFrame, preCommit: () => Unit = () => ()): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePathStr)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (oldVersions, target) = nextVersionDir(fs, base)

    df.write.mode("overwrite").parquet(target.toString)
    try preCommit() catch {
      case e: Throwable =>
        fs.delete(target, true)
        throw e
    }
    if (spark.catalog.tableExists(fqn)) {
      // widen BEFORE the location switch
      widenCatalogSchema(fqn, df.schema)
      spark.sql(s"ALTER TABLE $fqn SET LOCATION '${target.toString}'")
      spark.catalog.refreshTable(fqn)
    } else {
      val schemaDdl = spark.read.parquet(target.toString).schema.toDDL
      spark.sql(s"CREATE TABLE $fqn ($schemaDdl) USING parquet " +
        s"LOCATION '${target.toString}'")
    }
    supersedeAndVacuum(fs, oldVersions)
  }

  /** S7: widen the catalog schema of `fqn` by every field of `schema` it
    * lacks (case-insensitive; additive-only, mirroring bronze
    * evolution). */
  private def widenCatalogSchema(fqn: String, schema: StructType): Unit = {
    val existingCols = spark.table(fqn).schema.fieldNames
      .map(_.toLowerCase).toSet
    val newFields = schema.fields
      .filterNot(f => existingCols.contains(f.name.toLowerCase))
    if (newFields.nonEmpty)
      spark.sql(s"ALTER TABLE $fqn ADD COLUMNS " +
        s"(${StructType(newFields).toDDL})")
  }

  /** List existing `v{N}` version dirs and allocate the next one. */
  private def nextVersionDir(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path)
      : (Seq[org.apache.hadoop.fs.Path], org.apache.hadoop.fs.Path) = {
    val oldVersions =
      if (fs.exists(base))
        fs.listStatus(base).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("v")).toSeq
      else Seq.empty
    val nextV = oldVersions.map(_.getName.stripPrefix("v"))
      .flatMap(_.toLongOption).maxOption.getOrElse(0L) + 1
    (oldVersions, new org.apache.hadoop.fs.Path(base, s"v$nextV"))
  }

  /** Retention (the deletedFileRetentionDuration analog, reference
    * `02_silver_processing.py:49,89` / `README.md:160-169`): superseded
    * version dirs within the window survive for in-flight readers and
    * time-travel-ish debugging; older ones are vacuumed here. The window
    * is measured from when a version was SUPERSEDED (Delta's
    * deletedFileRetentionDuration semantics), not from when it was
    * written — a long-lived live version must still get the full grace
    * period after the switch. The supersede instant is recorded in an
    * underscore-prefixed marker file (ignored by parquet readers) the
    * first time a version is seen as non-live. */
  private def supersedeAndVacuum(fs: org.apache.hadoop.fs.FileSystem,
      oldVersions: Seq[org.apache.hadoop.fs.Path]): Unit = {
    val nowMs = System.currentTimeMillis()
    oldVersions.foreach { p =>
      if (PipelineRunner.readSupersededAt(fs, p).isEmpty)
        PipelineRunner.markSupersededAt(fs, p, nowMs)
    }
    val horizonMs = nowMs -
      PipelineRunner.parseRetentionMs(params.deletedFileRetention)
    oldVersions.foreach { p =>
      if (PipelineRunner.readSupersededAt(fs, p).exists(_ <= horizonMs))
        fs.delete(p, true)
    }
  }

  /** Bucket-granular versioned publish — the ONE write-and-swap path of
    * incremental silver: the copy-on-write merge, the merge-on-read base
    * build, delta publish and compaction, and both rebucket branches.
    * `frame` holds the new contents of exactly the `touched` buckets,
    * bucket-tagged in [[PipelineRunner.BucketCol]]. `deltaGen` is the
    * partition spec: None = `_bucket` alone (the copy-on-write table),
    * Some(g) = `_bucket` plus `_delta = g` (the merge-on-read raw table:
    * 0 is a bucket's BASE, > 0 a delta).
    *
    * The catalog's partition registry IS the manifest: the table's own
    * location is the stable base dir (it never changes and holds no data
    * files), while every partition carries an explicit location pointing
    * into some generation dir `v{N}/_bucket=k`. A publish (1) writes
    * `frame` hive-partitioned by `_bucket` into a fresh `v{N}` — only
    * touched bucket dirs materialize; (2) creates the table (schema from
    * `frame`, not a read-back: an all-rows-retracted first batch writes
    * no dir) or widens its schema additively; (3) repoints each touched
    * bucket with ONE catalog op — `SET LOCATION` when its partition
    * exists, `ADD PARTITION` when it is new, `DROP PARTITION` when the
    * bucket has no dir in `v{N}` (every PK retracted: the correct
    * contents) — then drops the bucket's partitions at a HIGHER
    * `_delta`, so a base supersedes its deltas only once it is
    * registered; (4) refreshes the table; (5) marks and vacuums
    * superseded BUCKET dirs under the shared retention window
    * ([[bucketedSupersedeAndVacuum]]).
    *
    * Untouched buckets are never written, moved, or even mentioned: their
    * partition entries keep pointing at the older generation dirs that
    * hold their files. Superseded bucket dirs stay on disk for the full
    * retention window, so a reader that resolved its file list before a
    * swap still finds every file — the SAME in-flight-reader guarantee as
    * [[publishVersioned]]'s whole-table swap. Each bucket's swap is one
    * atomic catalog operation; a reader resolving mid-publish can see a
    * mix of pre- and post-merge BUCKETS (each individually consistent) —
    * the standard posture of Hive partition repoints and exactly what
    * Delta/Iceberg `overwrite-partitions` makes transactional; this
    * bucket scheme maps 1:1 onto that operation on a real lakehouse.
    *
    * A superseded `v{M}` dir degrades to holding exactly the bucket dirs
    * REPLACED by later generations — bucket-level versioning: a per-bucket
    * restore source within the retention window, not a whole-table
    * snapshot (whole-table time travel rides the full publish path). */
  private def publishBucketedGeneration(fqn: String, basePathStr: String,
      frame: DataFrame, touched: Set[Int], deltaGen: Option[Long] = None)
      : Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(basePathStr)
    val fs = base.getFileSystem(hconf)
    val (_, target) = nextVersionDir(fs, base)

    frame.write.mode("overwrite").partitionBy(BucketCol)
      .parquet(target.toString)

    val partCols = BucketCol +: deltaGen.map(_ => DeltaCol).toSeq
    val existingParts: Seq[(Int, Long)] =
      if (!spark.catalog.tableExists(fqn)) {
        // partition columns last, per datasource partitioned-table DDL
        val dataCols = StructType(frame.schema.fields
          .filterNot(_.name == BucketCol))
        val partDdl = partCols.map(c =>
          s"`$c` ${if (c == BucketCol) "INT" else "BIGINT"}")
        spark.sql(s"CREATE TABLE $fqn (${dataCols.toDDL}, " +
          s"${partDdl.mkString(", ")}) USING parquet " +
          s"PARTITIONED BY (${partCols.map(c => s"`$c`").mkString(", ")}) " +
          s"LOCATION '${base.toString}'")
        Nil
      } else {
        widenCatalogSchema(fqn, frame.schema)
        bucketPartitions(fqn)
      }

    val g = deltaGen.getOrElse(0L)
    def spec(k: Int, d: Long): String =
      partCols.zip(Seq(k.toLong, d)).map { case (c, v) => s"`$c`=$v" }
        .mkString(", ")
    touched.toSeq.sorted.foreach { k =>
      val dir = new Path(target, s"$BucketCol=$k")
      (fs.exists(dir), existingParts.contains((k, g))) match {
        case (true, true) => spark.sql(
          s"ALTER TABLE $fqn PARTITION (${spec(k, g)}) " +
            s"SET LOCATION '${dir.toString}'")
        case (true, false) => spark.sql(
          s"ALTER TABLE $fqn ADD PARTITION (${spec(k, g)}) " +
            s"LOCATION '${dir.toString}'")
        case (false, true) => spark.sql(
          s"ALTER TABLE $fqn DROP IF EXISTS PARTITION (${spec(k, g)})")
        case (false, false) => () // retracted bucket that never existed
      }
      existingParts.filter(p => p._1 == k && p._2 > g).foreach { p =>
        spark.sql(
          s"ALTER TABLE $fqn DROP IF EXISTS PARTITION (${spec(k, p._2)})")
      }
    }
    spark.catalog.refreshTable(fqn)
    bucketedSupersedeAndVacuum(fqn, fs, base, target)
  }

  /** Bucket-granular retention: a `v{M}/_bucket=k` dir is superseded the
    * first time no live partition points at it; it survives the shared
    * retention window (for in-flight readers and per-bucket restores) and
    * is vacuumed after. A generation dir left with no bucket dirs (and
    * not the newest) is removed. Cost: O(generations × buckets) pure
    * metadata ops, bounded by the retention window — data is only ever
    * deleted, never copied. */
  private def bucketedSupersedeAndVacuum(fqn: String,
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path,
      newest: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(fqn)
    val liveDirs: Set[String] = spark.sessionState.catalog
      .listPartitions(ident)
      .flatMap(_.storage.locationUri).map(u => new Path(u).toUri.getPath)
      .toSet
    val nowMs = System.currentTimeMillis()
    val horizonMs = nowMs -
      PipelineRunner.parseRetentionMs(params.deletedFileRetention)
    val gens = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("v") &&
        p.getName.stripPrefix("v").toLongOption.nonEmpty)
    gens.foreach { gen =>
      fs.listStatus(gen).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(s"$BucketCol="))
        .filterNot(p => liveDirs.contains(p.toUri.getPath))
        .foreach { dead =>
          if (PipelineRunner.readSupersededAt(fs, dead).isEmpty)
            PipelineRunner.markSupersededAt(fs, dead, nowMs)
          if (PipelineRunner.readSupersededAt(fs, dead).exists(_ <= horizonMs))
            fs.delete(dead, true)
        }
      // listStatus returns fs-QUALIFIED paths (file:/...), `newest` was
      // built unqualified — compare qualified-to-qualified, or the guard
      // never holds and an all-retracted batch's freshly written (empty)
      // newest generation gets deleted, re-allocating its version number
      if (fs.makeQualified(gen) != fs.makeQualified(newest) &&
          !fs.listStatus(gen).exists(s => s.isDirectory &&
            s.getPath.getName.startsWith(s"$BucketCol=")))
        fs.delete(gen, true)
    }
  }

  // ---- phase 2.5: gold (batch, declarative curation) -----------------------

  /** The gold curated frame: silver scan → [[graft.llm.Curation]] (quality
    * gate → lang filter → PII scrub → repetition gate → exact dedup →
    * near-dup component resolution) → cluster layout → expectations gate.
    * Same stage discipline as [[buildSilverFrame]]: expectations (+observe)
    * sit ABOVE the layout exchange so metrics count once; the layout's
    * boundary sketch samples the cheap silver scan, not the curation
    * pipeline. */
  def buildGoldFrame(entity: String, cfg: EntityConfig, g: GoldConfig,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val silver = spark.read.table(params.silverFqn(entity))
    val cur = g.curation
    val idCol = cur.idCol.getOrElse(cfg.uniquePrimaryKey.head)
    val curated = graft.llm.Curation.curateFrame(silver, idCol, cur.textCol,
      cur.langCol, curationConfig(cur),
      contaminationProbes = goldProbes(entity, cur))
    goldGate(entity, g, curated, silver, obs)
  }

  /** The table a mart join reads: the dim entity's silver, or its
    * published gold for a CHAINED mart (layer "gold"). */
  private def martDimFqn(j: GoldJoin): String =
    if (j.layer == "gold") params.goldFqn(j.entity)
    else params.silverFqn(j.entity)

  /** Cross-entity gold mart (`gold.join`): this entity's silver joined
    * to the declared entities' silvers in order, then the declared
    * projection, then the shared gold gate (cluster layout +
    * expectations) and the same versioned publish. The joined sides
    * drop their audit columns before the join (the mart carries the
    * fact side's lineage, and both silvers carry `_ingested_at` — the
    * collision would poison every downstream star reference) and
    * broadcast when declared — the 100 TB posture for a dim⋈fact mart:
    * the fact table never shuffles for a dimension join. */
  def buildGoldJoinFrame(entity: String, cfg: EntityConfig, g: GoldConfig,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val silver = spark.read.table(params.silverFqn(entity))
    val joined = g.join.foldLeft(silver) { (acc, j) =>
      // layer "gold" = the CHAINED mart: the dim side is the entity's
      // published gold (runLocked's gold phase topologically orders
      // this entity after it); audit-column drops are no-ops when the
      // gold projection already removed them
      val dim = spark.read.table(martDimFqn(j))
        .drop(Audit.IngestedAt, Audit.SourceFile, Audit.FileModTime)
      j.temporal match {
        case Some(t) => temporalMartJoin(entity, acc, dim, j, t)
        case None =>
          acc.join(if (j.broadcast) broadcast(dim) else dim,
            expr(j.on), j.joinType)
      }
    }
    val projected =
      if (g.select.nonEmpty) joined.select(g.select.map(expr): _*)
      else joined
    // clustering bounds sample the cheap fact-silver scan only when
    // every cluster column lives there; a dim-sourced layout samples
    // the mart itself
    val boundsSrc =
      if (g.clusteringCols.forall(silver.columns.contains)) silver
      else projected
    goldGate(entity, g, projected, boundsSrc, obs)
  }

  /** One TEMPORAL (SCD2) join of a gold mart: compact the dim's change
    * stream into validity intervals, then join each fact row to the
    * version valid at its event time — config-declared
    * [[graft.ops.Scd2.scd2]] + [[graft.ops.Scd2.temporalJoin]], the
    * fact⋈dim-history mart every medallion deployment builds after the
    * flat star (the reference's per-entity silver reads,
    * `02_silver_processing.py:117`, are exactly the inputs).
    *
    * The dim entity's primary key must include its change timestamp
    * (or tie-break) so the FULL history survives silver's latest-wins
    * dedup — a latest-only dim compacts to one open interval per key
    * and the mart silently degenerates to the flat star; fail loud
    * when the dim's declared PK can't keep history.
    *
    * Scale: the SCD2 compaction is ONE shuffle on the dim key
    * (dim-history-sized, not fact-sized); the valid-at join is
    * equi-anchored — a plain hash/sort-merge join with a residual range
    * filter, never a nested loop — and broadcasts when declared (dim
    * histories are dimension-sized), so the fact table never shuffles.
    * A second temporal join in the same mart must alias away the
    * first's `valid_from`/`valid_to` via `gold.select` first
    * (temporalJoin refuses the collision loudly). */
  /** The single (factKey, dimKey) equi anchor of a temporal join —
    * shared by the full-mode mart build and the stream-store mart's
    * dim key mapping ([[streamStarFor]]; the [[starJoinKeys]] role for
    * temporal entries). */
  private def temporalJoinKey(entity: String, j: GoldJoin,
      factColsL: Set[String], dimColsL: Set[String]): (String, String) = {
    def bare(s: String) = s.trim.stripPrefix("`").stripSuffix("`")
    val sides = j.on.split("=").map(bare)
    require(sides.length == 2 && sides.forall(_.nonEmpty) &&
        !j.on.toLowerCase.contains(" and "),
      s"gold.$entity: temporal joins need exactly ONE equi term " +
        s"('fact_key = dim_key'); got '${j.on}'")
    if (factColsL.contains(sides(0).toLowerCase) &&
        dimColsL.contains(sides(1).toLowerCase)) (sides(0), sides(1))
    else if (dimColsL.contains(sides(0).toLowerCase) &&
        factColsL.contains(sides(1).toLowerCase)) (sides(1), sides(0))
    else throw new IllegalArgumentException(
      s"gold.$entity: temporal join '${j.on}' must pair one column " +
        s"of this entity with one column of dim '${j.entity}'")
  }

  private def temporalMartJoin(entity: String, facts: DataFrame,
      dim: DataFrame, j: GoldJoin, t: graft.config.TemporalJoin)
      : DataFrame = {
    val (factKey, dimKey) = temporalJoinKey(entity, j,
      facts.columns.map(_.toLowerCase).toSet,
      dim.columns.map(_.toLowerCase).toSet)
    require(facts.columns.map(_.toLowerCase)
        .contains(t.factTs.toLowerCase),
      s"gold.$entity: temporal fact_ts '${t.factTs}' is not a column " +
        "of this entity's silver")
    val hist = graft.ops.Scd2.scd2(dim, dimKey, t.dimTs, t.tieBreak,
        t.attrs)
      .drop("is_current") // interval metadata the mart doesn't need
    val keyed =
      if (factKey.equalsIgnoreCase(dimKey)) hist
      else hist.withColumnRenamed(dimKey, factKey)
    graft.ops.Scd2.temporalJoin(facts,
      if (j.broadcast) broadcast(keyed) else keyed, factKey, t.factTs,
      j.joinType)
  }

  /** Parse a star-join condition into (factCol, dimCol) equi pairs —
    * the structural precondition of INCREMENTAL mart maintenance: a dim
    * change can only be mapped back to affected fact rows when each
    * equality pairs one fact column with one column of THAT dim.
    * Snowflake chains (a join keyed through another dim's columns) have
    * no such mapping and fail loud with the remedy. */
  private def starJoinKeys(entity: String, j: GoldJoin,
      factColsL: Set[String], dimColsL: Set[String])
      : Seq[(String, String)] = {
    def bare(s: String) = s.trim.stripPrefix("`").stripSuffix("`")
    j.on.split("(?i)\\bAND\\b").toSeq.map { term =>
      val sides = term.split("=").map(bare)
      require(sides.length == 2 && sides.forall(_.nonEmpty),
        s"gold.$entity: incremental marts need star equi-join " +
          s"conditions ('fact_col = dim_col [AND ...]'); got " +
          s"'${term.trim}' in '${j.on}'")
      val (l, r) = (sides(0), sides(1))
      if (factColsL.contains(l.toLowerCase) &&
          dimColsL.contains(r.toLowerCase)) (l, r)
      else if (dimColsL.contains(l.toLowerCase) &&
          factColsL.contains(r.toLowerCase)) (r, l)
      else throw new IllegalArgumentException(
        s"gold.$entity: incremental marts are STAR-only — each " +
          s"equality must pair one FACT column with one column of the " +
          s"joined dim '${j.entity}'; '${term.trim}' does not " +
          "(snowflake chains through another dim's columns need mode " +
          "'full', or denormalize the chain into the dim's silver)")
    }
  }

  /** AGGREGATE gold mart (`gold.aggregate`, mode "full"): one hash
    * aggregate over this entity's silver, then the shared gold gate +
    * versioned publish. */
  def buildGoldAggFrame(entity: String, cfg: EntityConfig, g: GoldConfig,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val a = g.aggregate.get
    val silver = spark.read.table(params.silverFqn(entity))
    val es = GoldAggOps.aggExprs(a, lit(1L))
    val out = silver.groupBy(a.groupBy.map(c => col(s"`$c`")): _*)
      .agg(es.head, es.tail: _*)
    val boundsSrc =
      if (g.clusteringCols.forall(silver.columns.contains)) silver else out
    goldGate(entity, g, out, boundsSrc, obs)
  }

  /** [[graft.llm.Curation.Config]] from the config-declared knobs. */
  private def curationConfig(cur: GoldCuration): graft.llm.Curation.Config =
    graft.llm.Curation.Config(
      boilerplateMinDocFreq = cur.boilerplateMinDocFreq,
      boilerplateSpan = cur.boilerplateSpan,
      lineDedupSpan = cur.lineDedupSpan,
      minQuality = cur.minQuality, keepLangs = cur.keepLangs,
      maxRepetition = cur.maxRepetition,
      nearDupJaccard = cur.nearDupJaccard,
      minhashBands = cur.minhashBands, minhashRows = cur.minhashRows,
      contaminationThreshold = cur.contaminationThreshold,
      keepBestQuality = cur.keepBestQuality)

  /** Config-declared decontamination probes: the probe corpus is ANOTHER
    * entity's silver table (an eval-benchmark entity riding the same
    * medallion flow), so bronze ingest ordering already guarantees it
    * exists when gold runs. */
  private def goldProbes(entity: String, cur: GoldCuration)
      : Option[DataFrame] =
    cur.contaminationProbesEntity.map { p =>
      // a self-reference would flag EVERY doc (each contains itself) and
      // silently publish an empty gold table — fail loud instead
      require(p != entity, s"gold.$entity: contamination_probes_entity " +
        s"must name a DIFFERENT entity (got '$p' — self-containment " +
        "would empty the gold table)")
      spark.read.table(params.silverFqn(p))
    }

  // ---- incremental-silver change data feed (_cdf) --------------------------

  /** Entities whose merges must emit CDF batches, derived from the FULL
    * run config in [[runLocked]]: every incremental-silver entity that a
    * stream-store gold mart (`GoldConfig.streamMart`) consumes (as the
    * mart entity itself or
    * as a silver-layer dim). A bucketed layout has no versioned
    * snapshots to diff — old generations vacuum away — so the change
    * feed must be captured AT MERGE TIME, while both the pre-image and
    * the post-image exist (the Delta CDF posture: CDC is a write-side
    * product, not a read-side reconstruction). */
  @volatile private var cdfTargets: Set[String] = Set.empty

  private def cdfRoot(entity: String): String =
    s"${silverPath(entity)}/_cdf"

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** CDF is ON for an entity when the config says so (`silver_cdf`), the
    * run config derives it (a streaming mart consumes this entity), or
    * the `_cdf/_epoch` marker already exists on disk — the LATCH: once
    * any consumer enabled the feed, every later merge keeps it current
    * even when invoked outside the full-config runner, so a feed can
    * never silently stall at a stale high-water. ([[vacuumCdf]] drops
    * the feed — and so the latch — once no declared consumer remains.)
    * The epoch probe is one fs metadata call; NEGATIVE results are
    * cached per run (cleared in runLocked) so the common
    * CDF-off-incremental merge path does not pay a namenode round-trip
    * per trigger; positives latch for the runner's lifetime. */
  private val cdfProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def cdfOn(entity: String, cfg: EntityConfig): Boolean =
    cfg.silverMode == "incremental" && (cfg.silverCdf ||
      cdfTargets.contains(entity) ||
      cdfProbeCache.computeIfAbsent(entity, _ => {
        val p = new org.apache.hadoop.fs.Path(cdfRoot(entity), "_epoch")
        p.getFileSystem(hconf).exists(p)
      }).booleanValue())

  /** The feed's IDENTITY marker: a UUID minted when the `_cdf` dir is
    * first created. A silver full refresh deletes the whole silver path
    * (feed included), so a changed epoch tells every consumer "the
    * upstream world was rebuilt — your derived state is stale" even
    * when the new feed's batch ids happen to overlap the old clock.
    * Returns the (existing or new) epoch. */
  private def ensureCdfEpoch(entity: String): String = {
    import org.apache.hadoop.fs.Path
    val root = new Path(cdfRoot(entity))
    val fs = root.getFileSystem(hconf)
    val p = new Path(root, "_epoch")
    StoreMarkers.readText(fs, p).getOrElse {
      fs.mkdirs(root)
      val id = java.util.UUID.randomUUID().toString
      StoreMarkers.writeAtomic(fs, p, id)
      // re-read: two concurrent creators race the atomic replace; both
      // must agree on whichever epoch landed
      StoreMarkers.readText(fs, p).getOrElse(id)
    }
  }

  /** The feed clock: the highest merge batch id whose CDF commit (or
    * replay-skip) completed. Fail-loud parse (the GenStore.readGen
    * discipline) — consumed batches vacuum, so guessing 0 on a corrupt
    * marker would re-mint initial loads over live mart state. */
  private def readCdfHi(entity: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(cdfRoot(entity), "_hi")
    val fs = p.getFileSystem(hconf)
    StoreMarkers.readText(fs, p).map(txt =>
      txt.toLongOption.getOrElse(throw new IllegalStateException(
        s"silver CDF high-water marker $p is unreadable ('$txt') - " +
          "refusing to guess the feed clock; restore the marker or " +
          "full-refresh the entity to re-mint the feed"))).getOrElse(0L)
  }

  /** Committed CDF batch dirs (`b<gen>`), ascending by gen. */
  private def cdfBatchDirs(entity: String)
      : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(cdfRoot(entity))
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case s if s.startsWith("b") =>
          s.stripPrefix("b").toLongOption.map(_ -> st.getPath)
        case _ => None
      }).sortBy(_._1).toSeq
  }

  /** Commit one merge batch's change images to the CDF. `mkOld` /
    * `mkNew` are the PRE-image and POST-image frames RESTRICTED to the
    * batch's PKs (touched-bucket-pruned reads — O(batch ⋈ touched
    * buckets), never a table scan); both are materialized once
    * (`localCheckpoint`) because the diff and the image fetches consume
    * them repeatedly. Emitted rows carry the full final-vocabulary
    * image plus `_change_type` ∈ insert / update_preimage /
    * update_postimage / delete (the Delta CDF vocabulary) and
    * `_cdf_gen` = the merge batch id.
    *
    * Crash discipline: the batch dir commits by tmp-rename, KEYED BY
    * THE CHECKPOINT BATCH ID — a crashed merge replays the same batch
    * id, finds the committed dir, and skips recomputation (the FIRST
    * attempt's diff is the one taken against the true pre-state; the
    * replayed merge republishes identical non-audit contents, so the
    * kept images stay exact). The `_hi` clock bumps AFTER the dir
    * check on every path, so a crash between dir commit and the bump
    * heals on replay. An empty diff commits no dir but still advances
    * the clock. */
  private def writeCdfBatch(entity: String, cfg: EntityConfig,
      batchId: Long)(mkOld: => DataFrame, mkNew: => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(cdfRoot(entity))
    val fs = root.getFileSystem(hconf)
    ensureCdfEpoch(entity)
    // RESTARTED-CLOCK GUARD (the replay-gate discipline): a benign
    // at-least-once replay can only present the HIGH-WATER batch id
    // itself (the checkpoint commits per batch, and gold never consumes
    // a batch whose silver checkpoint did not commit, so lower gens are
    // either committed-and-consumed or never existed). A batch BELOW
    // the high water means the silver checkpoint was reset/replaced
    // while the feed kept its clock — its dirs may be vacuumed and _hi
    // would never advance, so consuming marts would silently miss every
    // replayed merge. Fail loud with the remedy instead (the adjacent
    // MOR delta-gen guard handles the same reset for the table itself).
    val hi0 = readCdfHi(entity)
    require(batchId >= hi0,
      s"silver CDF at $root: merge batch $batchId is below the feed's " +
        s"high-water gen $hi0 - the silver checkpoint was reset " +
        "(batch ids restarted) while the change feed kept its clock, " +
        "and consuming marts would silently miss the replayed merges. " +
        "Full-refresh the entity (rebuilds the feed and its marts get " +
        "a fresh epoch) or restore the original checkpoint")
    val dir = new Path(root, s"b$batchId")
    if (!fs.exists(dir)) {
      val pkNew = cfg.silverPrimaryKey
      val oldW = mkOld.drop(PipelineRunner.BucketCol).localCheckpoint(true)
      val newW = mkNew.drop(PipelineRunner.BucketCol).localCheckpoint(true)
      try {
        val audit = Set(Audit.IngestedAt, Audit.SourceFile,
          Audit.FileModTime)
        val pkL = pkNew.map(_.toLowerCase).toSet
        val oldCols = oldW.columns.map(_.toLowerCase).toSet
        val cmp = newW.columns.toSeq.filter(c =>
          oldCols.contains(c.toLowerCase) && !pkL.contains(c.toLowerCase)
            && !audit.contains(c))
        val ch = (if (cmp.nonEmpty)
            graft.analytics.Profiler.snapshotDiff(oldW, newW, pkNew, cmp)
          else {
            // degenerate pk-only table: membership is the only signal
            val o = oldW.select(pkNew.map(col): _*)
              .withColumn("_in_a", lit(1))
            val n = newW.select(pkNew.map(col): _*)
              .withColumn("_in_b", lit(1))
            o.join(n, pkNew, "full_outer")
              .withColumn("status",
                when(col("_in_b").isNull, lit("removed"))
                  .when(col("_in_a").isNull, lit("added")))
              .filter(col("status").isNotNull)
              .select(pkNew.map(col) :+ col("status"): _*)
          }).localCheckpoint(true)
        def img(side: DataFrame, status: String, tpe: String) =
          side.join(ch.filter(col("status") === status)
              .select(pkNew.map(col): _*), pkNew, "left_semi")
            .withColumn(PipelineRunner.CdfTypeCol, lit(tpe))
        val rows = img(newW, "added", "insert")
          .unionByName(img(newW, "changed", "update_postimage"),
            allowMissingColumns = true)
          .unionByName(img(oldW, "changed", "update_preimage"),
            allowMissingColumns = true)
          .unionByName(img(oldW, "removed", "delete"),
            allowMissingColumns = true)
          .withColumn(PipelineRunner.CdfGenCol, lit(batchId))
        if (!ch.isEmpty) {
          val tmp = new Path(root, s".b$batchId.tmp")
          if (fs.exists(tmp)) fs.delete(tmp, true)
          rows.write.mode("overwrite").parquet(tmp.toString)
          require(fs.rename(tmp, dir),
            s"silver CDF: committing $dir failed")
        }
      } finally { oldW.unpersist(); newW.unpersist() }
    }
    if (readCdfHi(entity) < batchId)
      StoreMarkers.writeAtomic(fs, new Path(root, "_hi"),
        batchId.toString)
  }

  /** The stream-mart feed over a CDF range — the bucketed-silver
    * counterpart of the full-mode [[changeFeed]]/[[signedChangeFeed]]
    * bridge. `from = None` is the initial load (the whole live silver
    * as inserts / +1 rows, valid as of clock `to`); otherwise the union
    * of CDF batches in (from, to].
    *
    * SIGNED shape (aggregate marts): every event, signed +1 for
    * insert/update_postimage and −1 for delete/update_preimage — the
    * sum telescopes exactly across any number of intermediate states,
    * so no per-key netting is needed.
    *
    * JOIN shape: netted to ONE row per `pkCols` value — the sinks'
    * one-row-per-key-per-batch contract. `pkCols` may be ANY unique key
    * of the table (join keys, an SCD2 change id), not just the entity
    * PK: each image row is an event on ITS OWN key value (a pre-image /
    * delete says "this key's old row left", an insert / post-image says
    * "this key now holds this row"), so a key-value change inside an
    * update correctly yields a delete at the old key and an upsert at
    * the new one. Per (key, gen) at most one of each evidence kind can
    * exist (keys are unique in both the pre- and post-state of every
    * batch), and when both do — two entities swapped key values — the
    * upsert is the final state and wins; across gens the latest gen
    * wins. A key inserted then deleted inside the range emits a
    * spurious delete-of-absent-key; the upsert stores treat a delete as
    * a tombstone write, so it is harmless. */
  private def cdfDeltaFrame(e: String, pkCols: Seq[String],
      signed: Boolean)(from: Option[Long], to: Long): DataFrame = {
    val audit = Seq(Audit.IngestedAt, Audit.SourceFile, Audit.FileModTime)
    from match {
      case None =>
        val base = spark.read.table(params.silverFqn(e))
          .drop(PipelineRunner.BucketCol).drop(audit: _*)
        if (signed) base.withColumn("_cdc_sign", lit(1L))
        else base.withColumn("_cdc_deleted", lit(false))
      case Some(f) =>
        val dirs = cdfBatchDirs(e).filter { case (g, _) => g > f && g <= to }
        val evs = dirs.map { case (_, p) => spark.read.parquet(p.toString) }
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .getOrElse(
            // every batch in range diffed empty: an empty feed frame in
            // the live schema (the sinks still need the column shape)
            spark.read.table(params.silverFqn(e)).limit(0)
              .withColumn(PipelineRunner.CdfTypeCol, lit("insert"))
              .withColumn(PipelineRunner.CdfGenCol, lit(0L)))
          .drop(PipelineRunner.BucketCol)
        val isUp = col(PipelineRunner.CdfTypeCol)
          .isin("insert", "update_postimage")
        if (signed)
          evs.withColumn("_cdc_sign", when(isUp, lit(1L)).otherwise(lit(-1L)))
            .drop(PipelineRunner.CdfTypeCol, PipelineRunner.CdfGenCol)
            .drop(audit: _*)
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(pkCols.map(col): _*)
            .orderBy(col(PipelineRunner.CdfGenCol).desc,
              isUp.cast("int").desc)
          evs.withColumn("_cdf_rn", row_number().over(w))
            .filter(col("_cdf_rn") === 1)
            .withColumn("_cdc_deleted", !isUp)
            .drop("_cdf_rn", PipelineRunner.CdfTypeCol,
              PipelineRunner.CdfGenCol)
            .drop(audit: _*)
        }
    }
  }

  /** Vacuum CDF batches every DECLARED consumer has drained: for each
    * fed entity, delete `b<gen>` dirs at or below the MINIMUM of its
    * consuming marts' `_consumed` markers. A consumer whose marker is
    * missing (mart never ran yet) blocks the vacuum — its first feed is
    * an initial load, but the marker is the only proof. Entities with
    * `silver_cdf: true` and NO declared stream-store consumer are
    * external-consumer feeds: never auto-vacuumed (the external reader
    * owns retention). */
  private def vacuumCdf(entities: Map[String, EntityConfig]): Unit = {
    import org.apache.hadoop.fs.Path
    val consumers: Map[String, Seq[String]] = entities.toSeq
      .flatMap { case (ge, cfg) =>
        cfg.gold.toSeq.filter(_.streamMart).flatMap { g =>
          (ge +: g.join.filter(_.layer == "silver").map(_.entity))
            .map(_ -> ge)
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    consumers.foreach { case (e, marts) =>
      // `silver_cdf: true` = an EXTERNAL reader also consumes this
      // feed; the pipeline must never vacuum at its own marts' pace
      // (the external reader owns retention — config doc)
      if (!entities.get(e).exists(_.silverCdf)) {
        val gens = cdfBatchDirs(e)
        if (gens.nonEmpty) {
          val fs = gens.head._2.getFileSystem(hconf)
          val markers = marts.map { m =>
            StoreMarkers.readText(fs,
              new Path(s"${goldStreamPath(m)}/feed_$e/_consumed"))
              .flatMap(_.toLongOption)
          }
          if (markers.forall(_.nonEmpty)) {
            val min = markers.flatten.min
            gens.filter(_._1 <= min).foreach { case (_, p) =>
              fs.delete(p, true) }
          }
        }
      }
    }
    // ORPHANED feeds: the epoch latch keeps an enabled feed current
    // across runners, so when the LAST declared consumer leaves the
    // config (and silver_cdf is off) the entity would otherwise pay
    // the per-merge capture and accumulate batches forever. Dropping
    // the whole feed is safe: a mart added back later initial-loads
    // the live table and the fresh epoch makes it rebuild loud.
    entities.foreach { case (e, cfg) =>
      if (cfg.silverMode == "incremental" && !cfg.silverCdf &&
          !consumers.contains(e)) {
        val root = new Path(cdfRoot(e))
        val fs = root.getFileSystem(hconf)
        if (fs.exists(root)) {
          log(s"silver CDF at $root has no declared consumer left " +
            "(no streaming mart reads this entity and silver_cdf is " +
            "off) - dropping the orphaned feed; a future mart " +
            "initial-loads and re-mints the epoch")
          fs.delete(root, true)
        }
      }
    }
  }

  // ---- stream-store gold (gold.cadence "streaming" / mode "incremental") --

  private def goldStreamPath(entity: String): String =
    if (params.externalLocation.nonEmpty)
      s"${params.externalLocation}/gold_stream/$entity"
    else s"$storageRoot/gold_stream/$entity"

  /** The replay-gate identity of the triggered runs' sink calls: fixed,
    * so a pinned replay skips at the gate while a live stream's fresh
    * checkpoint fails it until [[takeoverStreamMart]]. */
  private val BridgeQueryId = Some("triggered-bridge")

  /** A feed's `_consumed` marker — its only high-water mark. Fail-loud
    * parse (the GenStore.readGen discipline): a corrupt marker silently
    * mapped to None would re-run the initial load — for an aggregate
    * mart that appends the whole live version as fresh +1 partials on
    * top of the existing totals (silent doubling). */
  private def feedMarker(fs: org.apache.hadoop.fs.FileSystem,
      feedDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(feedDir, "_consumed")
    StoreMarkers.readText(fs, p).map(txt =>
      txt.toLongOption.getOrElse(throw new IllegalStateException(
        s"streaming-cadence feed marker $p is unreadable " +
          s"('$txt') - refusing to guess the consumed version (a " +
          "reset would re-run the initial load over a live sink); " +
          "restore the marker or rebuild the stream state")))
  }

  /** A feed's `_pin` that `_consumed` does not cover yet — the range a
    * crashed run was applying. Fail-loud parse, like the marker. */
  private def pendingPin(fs: org.apache.hadoop.fs.FileSystem,
      feedDir: String): Option[FeedPin] = {
    val p = new org.apache.hadoop.fs.Path(feedDir, "_pin")
    StoreMarkers.readText(fs, p).map { txt =>
      (txt.split(' ') match {
        case Array("-", t) => t.toLongOption.map(FeedPin(None, _))
        case Array(f, t) =>
          for (fv <- f.toLongOption; tv <- t.toLongOption)
            yield FeedPin(Some(fv), tv)
        case _ => None
      }).getOrElse(throw new IllegalStateException(
        s"streaming-cadence feed pin $p is unreadable ('$txt') - " +
          "refusing to guess the pinned range; restore the pin or " +
          "rebuild the stream state"))
    }.filter(pin => feedMarker(fs, feedDir).forall(_ < pin.to))
  }

  /** Maintain one input entity's feed of a stream-store mart: call the
    * sink's batch body directly on the delta from the `_consumed` marker
    * to the live clock, at batch id `to << 16` (+ slice) under
    * [[BridgeQueryId]]. Exactly-once needs a replayable source and
    * idempotent sinks: the inputs are immutable (published versions, or
    * CDF batches above `_consumed`, which [[vacuumCdf]] keeps) and the
    * sinks' replay gates skip committed ids. The `_pin` ties an id to
    * its content: the delta's `(from, to)` is written atomically before
    * the first sink call and `_consumed` advances only after the sink
    * committed, so a crashed run's range replays exactly, at the same
    * ids — an aggregate mart's orphan partials (appended before
    * `_last_batch`) are re-appended as bit-identical copies the read
    * side drops, never overlapped by a wider delta that would count
    * them twice. Initial-load pins never replay ([[buildGoldStreamMart]]
    * rebuilds). THROTTLE (`maxFilesPerTrigger = n`): an initial load
    * splits into ceil(input files / n) PK-hash slices, each key-unique
    * (the sinks' one-row-per-key-per-batch contract). `sinkMarker` is
    * the sink's store marker: the proof of consumption when `_consumed`
    * is missing. */
  private def maintainFeed(feedDir: String, pk: Seq[String],
      delta: (Option[Long], Long) => Option[DataFrame], liveVersion: Long,
      sinkMarker: org.apache.hadoop.fs.Path,
      sink: (DataFrame, Long) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(feedDir).getFileSystem(hconf)
    val consumedP = new Path(feedDir, "_consumed")
    val pinP = new Path(feedDir, "_pin")
    def label(from: Option[Long], to: Long): String =
      s"${new Path(feedDir).getName}/v${from.getOrElse(-1L)}_$to"
    def consume(to: Long): Unit = {
      StoreMarkers.writeAtomic(fs, consumedP, to.toString)
      fs.delete(pinP, false)
    }
    def applyDelta(from: Option[Long], to: Long, d: DataFrame): Unit = {
      StoreMarkers.writeAtomic(fs, pinP, s"${from.fold("-")(_.toString)} $to")
      val slices = if (from.nonEmpty) 1
        else params.maxFilesPerTrigger.fold(1)(n =>
          ((d.inputFiles.length + n - 1) / n).max(1).min(1 << 16))
      val t0 = System.nanoTime()
      val h = pmod(xxhash64(pk.map(c => col(s"`$c`")): _*), lit(slices))
      (0 until slices).foreach(i =>
        sink(if (slices == 1) d else d.filter(h === i), (to << 16) + i))
      log(f"feed drain ${label(from, to)}: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      consume(to)
    }
    pendingPin(fs, feedDir).foreach { pin =>
      require(pin.from.nonEmpty && pin.from == feedMarker(fs, feedDir),
        s"feed pin ${label(pin.from, pin.to)} does not start at the " +
          "_consumed marker - clear the mart's stream state to rebuild")
      log(s"feed ${label(pin.from, pin.to)}: replaying a crashed run's pin")
      delta(pin.from, pin.to) match {
        case Some(d) => applyDelta(pin.from, pin.to, d)
        case None    => consume(pin.to)
      }
    }
    val from = feedMarker(fs, feedDir)
    // an initial load over a sink that committed batches would replay
    // the whole live version into live totals: require a rebuild
    require(from.nonEmpty || !fs.exists(sinkMarker),
      s"streaming-cadence feed at $feedDir has no _consumed marker, " +
        s"but the sink's store marker $sinkMarker shows committed " +
        "batches - the feed's consumed state was lost and an initial " +
        "load would re-append the whole live version over the " +
        "existing mart state (silent doubling for aggregate marts). " +
        "Restore the marker, or clear the mart's stream state to rebuild")
    if (from.forall(_ < liveVersion)) {
      val t0 = System.nanoTime()
      // None = PROVABLY EMPTY delta (a republish that changed nothing):
      // advance the marker directly, skipping the no-op sink call
      delta(from, liveVersion) match {
        case None =>
          require(from.nonEmpty, s"feed extract at $feedDir reported a " +
            "provably-empty INITIAL load - a virgin feed must always " +
            "apply its first delta")
          StoreMarkers.writeAtomic(fs, consumedP, liveVersion.toString)
          log(f"feed extract ${label(from, liveVersion)}: empty delta " +
            f"(probe, ${(System.nanoTime() - t0) / 1e9}%.2fs) - marker " +
            s"advanced to $liveVersion, drain skipped")
        case Some(d) =>
          log(f"feed extract ${label(from, liveVersion)}: " +
            f"${(System.nanoTime() - t0) / 1e9}%.2fs")
          applyDelta(from, liveVersion, d)
      }
    }
  }

  /** The [[GoldJoinOps.StreamStar]] spec a config-declared streaming
    * JOIN mart runs under — shared by [[buildGoldStreamMart]] and
    * [[takeoverStreamMart]] so the triggered bridge and a live takeover
    * stream derive under the IDENTICAL star. */
  private def streamStarFor(entity: String, cfg: EntityConfig,
      g: GoldConfig): GoldJoinOps.StreamStar = {
    import GoldJoinOps.{StreamDim, StreamStar, StreamTemporal}
    val factColsL = spark.read.table(params.silverFqn(entity))
      .columns.map(_.toLowerCase).toSet
    val dims = g.join.map { j =>
      // layer "gold" = a CHAINED streaming mart: the dim is another
      // entity's PUBLISHED gold (the Kahn waves in runLocked order its
      // publish before this mart), fed by the same versioned changeFeed
      val dimColsL = spark.read.table(martDimFqn(j))
        .columns.map(_.toLowerCase).toSet
      val keys = j.temporal match {
        case Some(_) =>
          Seq(temporalJoinKey(entity, j, factColsL, dimColsL))
        case None => starJoinKeys(entity, j, factColsL, dimColsL)
      }
      StreamDim(j.entity, keys, joinType = j.joinType,
        deleteCol =
          if (j.temporal.isEmpty) Some("_cdc_deleted") else None,
        temporal = j.temporal.map(t =>
          StreamTemporal(t.factTs, t.dimTs, t.tieBreak, t.attrs)))
    }
    StreamStar(cfg.uniquePrimaryKey, dims,
      select = g.select, factDeleteCol = Some("_cdc_deleted"))
  }

  /** SANCTIONED STREAM TAKEOVER: hand a config-built streaming mart's
    * store to a LIVE stream (or hand it back). The replay gates
    * correctly fail loud when a NEW checkpoint presents batch ids at or
    * below the store's high water — which is exactly what a takeover
    * does — so this op is the explicit migration: every store marker's
    * batch clock resets to −1 and its query identity is stripped
    * (seq clocks KEEP — the keep-latest order must stay monotone), so
    * the next stream's batch 0 processes and stamps its own identity on
    * first write. For aggregate stores the partials ALSO compact to one
    * row per group at sentinel `_batch_id = −1` first — the read-side
    * replay dedup keys on (_batch_id, group), and a restarted clock
    * would otherwise collide new batch-k partials with orphaned old
    * ones ([[GoldAggOps.migrateStoreIdentity]]).
    *
    * OPERATOR CONTRACT (why this is a deliberate op, not automatic):
    * call only at a QUIESCED handoff — the previous driver drained its
    * input and stopped, and the new stream's source starts strictly
    * after the old one's consumed position (for the config bridge this
    * holds by construction: each triggered run applies its deltas up to
    * the live clock and advances `_consumed`, so nothing is pending
    * after a run). Running
    * two drivers concurrently, or a source that replays already-applied
    * changes, double-applies them — the same contract as any offset
    * handoff. Taking BACK to the config bridge needs no migration while
    * the bridge's batch clock is above the live stream's marker; when
    * it is not, the gate fails loud and this op migrates again. */
  def takeoverStreamMart(entity: String, cfg: EntityConfig): Unit = {
    val g = cfg.gold.getOrElse(throw new IllegalArgumentException(
      s"takeoverStreamMart($entity): entity declares no gold section"))
    require(g.streamMart,
      s"takeoverStreamMart($entity): gold cadence is '${g.cadence}' and " +
        s"mode '${g.mode}' - only stream-store marts (cadence " +
        "'streaming', or an incremental join/aggregate mart) keep a " +
        "stream store to migrate")
    val storeDir = s"${goldStreamPath(entity)}/store"
    g.aggregate match {
      case Some(a) =>
        GoldAggOps.migrateStoreIdentity(spark, storeDir, a)
      case None =>
        GoldJoinOps.migrateStoreIdentity(spark, storeDir,
          streamStarFor(entity, cfg, g))
    }
    log(s"gold.$entity: stream-mart store identity migrated - the " +
      "next stream (fresh checkpoint, batch ids from 0) takes over " +
      s"$storeDir; ensure the handoff is quiesced (previous driver " +
      "drained and stopped)")
  }

  /** STREAM-STORE mart (`gold.cadence: "streaming"`, or a join or
    * aggregate mart in `gold.mode: "incremental"` — one engine, two
    * spellings, [[GoldConfig.streamMart]]): the mart state lives in the
    * stream-store layout and is maintained by the batch bodies of the
    * SAME `foreachBatch` sinks a live stream drives —
    * [[GoldAggOps.aggBatch]] for `gold.aggregate` (signed deltas,
    * additive IVM), [[GoldJoinOps.dimBatch]]/[[GoldJoinOps.factBatch]]
    * for `gold.join` (full-row CDC images, keyed upsert stores). Each
    * triggered run calls them directly ([[maintainFeed]], no streaming
    * query) on the per-input delta: [[signedChangeFeed]]/[[changeFeed]]
    * between published versions for FULL-mode silver, the merge-time
    * CDF images ([[cdfDeltaFrame]]) for INCREMENTAL/bucketed silver (so
    * the 100 TB silver write path and the streaming marts compose), the
    * whole live state as inserts on first consumption. The publish then
    * reads the live mart back ([[GoldAggOps.readMart]] /
    * [[GoldJoinOps.readMart]]) through the shared gold gate. Because the
    * store and replay markers are the streaming deployment's, an actual
    * stream can take over the same store through ONE explicit marker
    * migration ([[takeoverStreamMart]] — the replay gates otherwise fail
    * loud on a fresh checkpoint's restarted batch ids, by design);
    * spec-pinned equivalence: the mart equals the batch star/aggregate
    * over the final silver state, and a live `foreachBatch` stream
    * continues a config-built store to the same oracle (StreamingSpec).
    *
    * Scale shape per run: O(changed rows) delta extraction (the
    * signature-compressed snapshot diff), one sink batch per input
    * (fact batches broadcast-join batch-restricted dim slices; dim
    * batches re-derive O(affected facts) via the two-phase restrict),
    * and a keep-latest/re-sum read over stores bounded by compaction.
    * Dims feed BEFORE facts so first-run facts derive against complete
    * dim state. Preconditions fail loud, before any feed or store
    * write: star-only equi joins, and each flat dim unique on its join
    * keys (a 1:N fan-out cannot ride the fact-PK-keyed row store). An
    * upstream full refresh of an incremental input (new CDF epoch), a
    * vacuumed consumed or pinned full-mode version, and an interrupted
    * initial load all rebuild the mart loud from the live versions. */
  def buildGoldStreamMart(entity: String, cfg: EntityConfig,
      g: GoldConfig,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val dir = goldStreamPath(entity)
    val storeDir = s"$dir/store"
    val audit = Seq(Audit.IngestedAt, Audit.SourceFile, Audit.FileModTime)
    // PER-INPUT feed clock + delta source, dispatched on the silver
    // layout: a FULL-mode input is clocked by its published version and
    // diffed by changeFeed/signedChangeFeed; an INCREMENTAL (bucketed)
    // input is clocked by its CDF high-water and fed the merge-time
    // change images (cdfDeltaFrame) — bucketed silver has no versioned
    // snapshots to diff, so the 100 TB write path and the streaming
    // marts compose through the write-side CDF instead.
    def isBucketed(e: String, layer: String = "silver"): Boolean =
      layer == "silver" &&
        tableProp(spark, params.silverFqn(e), BucketCountProp).nonEmpty
    def liveVersion(e: String, layer: String = "silver"): Long =
      if (isBucketed(e, layer)) readCdfHi(e)
      else tableVersions(e, layer).find(_.live).map(_.version).getOrElse(
        throw new IllegalStateException(
          s"gold.$entity: stream-mart input '$e' has no live " +
            s"$layer version yet - publish it before this entity"))
    // the join star, resolved once (its key parse is the star-only guard)
    val joinStar = if (g.aggregate.nonEmpty) None
      else Some(streamStarFor(entity, cfg, g))
    // FAN-OUT GUARD, before any feed or store write: the rows store is
    // keyed by the fact PK, so a flat dim that is not unique on its join
    // keys would keep one arbitrary survivor per fan-out (the dim sink's
    // per-batch key check trips only inside a micro-batch, after the
    // feeds moved). Temporal dims are change streams, non-unique on the
    // key by design — scd2's disjoint intervals give at most one match.
    // Validated ONCE per published dim version (dimUniqueValidated).
    for (st <- joinStar.toSeq; (j, d) <- g.join zip st.dims
         if j.temporal.isEmpty) {
      val v = liveVersion(j.entity, j.layer)
      val version = if (isBucketed(j.entity, j.layer))
          s"cdf:${ensureCdfEpoch(j.entity)}:$v"
        else s"v$v"
      val memoKey = s"$storageRoot|${params.catalogName}|$entity|" +
        s"${j.entity}|${j.layer}|$version"
      if (!PipelineRunner.dimUniqueValidated.contains(memoKey)) {
        val dimKeys = d.keys.map(_._2)
        val dup = spark.read.table(martDimFqn(j))
          .groupBy(dimKeys.map(c => col(s"`$c`")): _*)
          .agg(count(lit(1)).as("_c")).filter(col("_c") > 1L).limit(1)
        require(dup.isEmpty,
          s"gold.$entity: incremental-mart dim '${j.entity}' is NOT " +
            s"unique on its join keys (${dimKeys.mkString(", ")}) — a " +
            "1:N fan-out cannot ride a fact-PK-keyed row store (joined " +
            "rows would be silently dropped); deduplicate the dim's " +
            "silver on those keys or use a full-mode batch mart")
        PipelineRunner.dimUniqueValidated.add(memoKey)
      }
    }
    // DERIVATION fingerprint: the persisted store's rows were derived
    // under a specific (pk, select, join, aggregate) shape. Without
    // this, a config edit would leave every already-derived row under
    // the OLD projection — the consumed versions match the live ones,
    // so nothing re-derives and the mart silently publishes the old
    // (or a mixed) shape while its table props claim the new config.
    // On mismatch the whole stream state (stores and feeds) clears and
    // rebuilds from the live versions — derived state, logged loud,
    // self-healing (the batch full path is immune: it rebuilds per
    // run). The layout tag: a mart built by the file-stream bridge has
    // checkpoint batch ids and identities in its markers, so it rebuilds
    // once, and its `feed_*` pairs and `cp_*` checkpoints go with it.
    val derivFp = {
      val shape = ("direct-sink", cfg.uniquePrimaryKey, g.select,
        g.join.map(j => (j.entity, j.on, j.joinType, j.layer,
          j.temporal.map(t => (t.factTs, t.dimTs, t.tieBreak, t.attrs)))),
        g.aggregate.map(a =>
          (a.groupBy, a.aggs.map(x => (x.op, x.expr, x.as))))).toString
      java.security.MessageDigest.getInstance("MD5")
        .digest(shape.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fsS = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fpP = new org.apache.hadoop.fs.Path(dir, "_deriv_fp")
    // captured BEFORE any marker surgery: a mart that already has a
    // derivation fingerprint predates this run (the full→incremental
    // migration guard below needs to know)
    val hadState = fsS.exists(fpP)
    StoreMarkers.readText(fsS, fpP).foreach { old =>
      if (old != derivFp) {
        log(s"gold.$entity: the streaming mart's derivation config " +
          "changed (select/join/aggregate/pk/layout) - clearing the " +
          s"stream state at $dir and rebuilding from the live versions")
        fsS.delete(dirP, true)
      }
    }
    // INPUT EPOCHS: each bucketed input's CDF identity, recorded in the
    // mart dir. A silver full refresh deletes the feed and re-mints the
    // epoch — the consumed-gen clock restarted, so every derived mart
    // row is stale even though batch ids may overlap; rebuild loud
    // (the derivation-fingerprint posture: derived state, self-healing).
    val inputEpochs: Seq[(String, String)] =
      (entity +: g.join.filter(_.layer == "silver").map(_.entity))
        .distinct.filter(e => isBucketed(e)).sorted
        .map(e => e -> ensureCdfEpoch(e))
    val epochsTxt = inputEpochs.map { case (e, u) => s"$e=$u" }.mkString(",")
    val epP = new org.apache.hadoop.fs.Path(dir, "_input_epochs")
    if (fsS.exists(dirP))
      StoreMarkers.readText(fsS, epP).foreach { old =>
        if (old != epochsTxt) {
          log(s"gold.$entity: an incremental-silver input was " +
            s"full-refreshed (CDF epoch changed: '$old' -> " +
            s"'$epochsTxt') - clearing the stream state at $dir and " +
            "rebuilding from the live versions")
          fsS.delete(dirP, true)
        }
      }
    // FULL→INCREMENTAL migration under an existing mart: the mart was
    // built when this input had no CDF (no _input_epochs recorded), so
    // its _consumed markers live in PUBLISHED-VERSION space — silently
    // reinterpreting them as CDF gens would stall the feed and then
    // apply a partial gen range over pre-migration state. The clock
    // domain changed: rebuild loud (the epoch-mismatch posture).
    if (hadState && inputEpochs.nonEmpty && fsS.exists(dirP) &&
        !fsS.exists(epP)) {
      log(s"gold.$entity: input(s) ${inputEpochs.map(_._1).mkString(",")}" +
        " moved to incremental silver under an existing streaming " +
        s"mart (no recorded input epochs) - the feed clock domain " +
        s"changed from published versions to CDF gens; clearing the " +
        s"stream state at $dir and rebuilding from the live versions")
      fsS.delete(dirP, true)
    }
    // INTERRUPTED initial load: a pin with no `from` is never replayed
    // (bucketed silver's initial load reads the live table, which moves)
    if (fsS.exists(dirP) && (entity +: g.join.map(_.entity)).exists(e =>
        pendingPin(fsS, s"$dir/feed_$e").exists(_.from.isEmpty))) {
      log(s"gold.$entity: a streaming-mart initial load was interrupted " +
        s"- clearing the stream state at $dir and rebuilding from the " +
        "live versions")
      fsS.delete(dirP, true)
    }
    // VACUUMED consumed or pinned version: a full-mode input's next
    // delta diffs from the version the feed last reached, and a pinned
    // range replays between its two versions; once the retention window
    // reclaimed one of them no delta exists, so rebuild loud from the
    // live versions (the fingerprint posture) instead of failing in
    // readVersion — correct, just not incremental this run.
    if (fsS.exists(dirP)) {
      val lost = ((entity, "silver") +: g.join.map(j => (j.entity, j.layer)))
        .distinct.filterNot { case (e, l) => isBucketed(e, l) }
        .flatMap { case (e, l) =>
          val feedDir = s"$dir/feed_$e"
          val live = liveVersion(e, l)
          val kept = tableVersions(e, l).map(_.version).toSet
          (feedMarker(fsS, feedDir).toSeq ++ pendingPin(fsS, feedDir)
              .toSeq.flatMap(p => p.from.toSeq :+ p.to))
            .distinct.filter(v => v < live && !kept.contains(v))
            .map(v => s"$l/$e v$v")
        }
      if (lost.nonEmpty) {
        log(s"gold.$entity: consumed input version(s) " +
          s"${lost.mkString(", ")} were vacuumed - no delta exists; " +
          s"clearing the stream state at $dir and rebuilding from the " +
          "live versions (correct but not incremental; raise the " +
          "retention window or run the mart more often)")
        fsS.delete(dirP, true)
      }
    }
    if (!fsS.exists(fpP)) {
      fsS.mkdirs(dirP)
      StoreMarkers.writeAtomic(fsS, fpP, derivFp)
    }
    // ALWAYS record the epoch set (empty string when no bucketed
    // inputs) so the next bucketed-input appearance is a detectable
    // transition, not a silent reinterpretation
    if (!fsS.exists(epP))
      StoreMarkers.writeAtomic(fsS, epP, epochsTxt)
    // None = PROVABLY EMPTY delta (maintainFeed advances the marker and
    // skips the sink call): for a bucketed input that is a pure
    // fs-metadata probe (no committed CDF dir in range — empty diffs
    // never commit one); for a full-mode input the signature diff
    // materializes once (localCheckpoint) and, when non-empty, the SAME
    // frame feeds the CDC image joins — the diff is never computed twice
    def deltaFrame(e: String, pk: Seq[String], signed: Boolean,
        layer: String = "silver")(
        from: Option[Long], to: Long): Option[DataFrame] =
      if (isBucketed(e, layer)) {
        if (from.exists(f => !cdfBatchDirs(e)
            .exists { case (g, _) => g > f && g <= to }))
          None
        else Some(cdfDeltaFrame(e, pk, signed)(from, to))
      }
      else from match {
        case None =>
          val base = readVersion(e, to, layer).drop(audit: _*)
          Some(if (signed) base.withColumn("_cdc_sign", lit(1L))
          else base.withColumn("_cdc_deleted", lit(false)))
        case Some(f) =>
          val ch = tableChanges(e, f, to, pk, layer)
            .localCheckpoint(false) // probe + both image semi-joins
          if (ch.isEmpty) None
          else {
            val d = if (signed)
                signedChangeFeedImages(e, f, to, pk, layer, ch)
              else changeFeedImages(e, f, to, pk, layer, ch)
            Some(d.drop(audit: _*))
          }
      }
    val mart = g.aggregate match {
      case Some(a) =>
        maintainFeed(s"$dir/feed_$entity", cfg.uniquePrimaryKey,
          deltaFrame(entity, cfg.uniquePrimaryKey, signed = true),
          liveVersion(entity), GoldAggOps.lastBatchMarker(storeDir),
          (batch, id) => GoldAggOps.aggBatch(batch, id, BridgeQueryId, a,
            storeDir, signCol = Some("_cdc_sign"),
            compactAfter = g.compactAfter))
        GoldAggOps.readMart(spark, storeDir, a)
      case None =>
        val star = joinStar.get
        val dims = star.dims
        val dimFeeds: Seq[() => Unit] = (g.join zip dims).map {
          case (j, d) => () =>
            // the dim's CDC grain: its join keys for a flat star dim
            // (required unique there), the change id for temporal history
            val pk = j.temporal.map(t => Seq(t.tieBreak))
              .getOrElse(d.keys.map(_._2))
            maintainFeed(s"$dir/feed_${j.entity}", pk,
              (from, to) => deltaFrame(j.entity, pk, signed = false,
                  j.layer)(from, to).map { raw =>
                if (j.temporal.nonEmpty) {
                  // an SCD2 change stream is append-only history: a
                  // retracted change row cannot be replayed into the
                  // interval store - rebuild instead of guessing
                  require(raw.filter(col("_cdc_deleted")).limit(1).isEmpty,
                    s"gold.$entity: temporal dim '${j.entity}' retracted " +
                      "change rows between consumed versions - clear " +
                      s"$dir and rebuild (append-only history)")
                  raw.drop("_cdc_deleted")
                } else raw
              },
              liveVersion(j.entity, j.layer),
              GoldJoinOps.dimMarker(storeDir, d.name),
              (batch, id) => GoldJoinOps.dimBatch(batch, id, BridgeQueryId,
                d, star, storeDir, g.compactAfter))
        }
        val factFeed: () => Unit = () =>
          maintainFeed(s"$dir/feed_$entity", cfg.uniquePrimaryKey,
            deltaFrame(entity, cfg.uniquePrimaryKey, signed = false),
            liveVersion(entity), GoldJoinOps.factMarker(storeDir),
            (batch, id) => GoldJoinOps.factBatch(batch, id, BridgeQueryId,
              star, storeDir, g.compactAfter))
        // Run the feeds on a pool (opt guide §2.6). What overlaps is
        // only the work OUTSIDE the sink calls: fact and dim batches
        // serialize on the mart's store lock, and each delta is
        // evaluated inside its sink body under that lock. A full-mode
        // input's delta probe (the `tableChanges` diff + emptiness check
        // in deltaFrame) runs before the lock, so those probes overlap;
        // an incremental-silver input's probe is an fs-metadata check,
        // so for such marts (cdc_trickle's orders ⋈ customer) the pool
        // overlaps nothing and one feed's drain waits for the other's
        // batch. Any batch interleaving converges to the same mart state
        // (factBatch derives against the dims current at its batch;
        // dimBatch re-derives the affected facts). Engages only once
        // every dim store exists: on a VIRGIN mart the fact feed must not
        // race a left-join dim's first batch (derive fails loud there by
        // design), so the first pass keeps the dims-then-fact order.
        val feeds = dimFeeds :+ factFeed
        if (feeds.size > 1 &&
            GoldJoinOps.dimStoresReady(spark, storeDir, star)) {
          val pool = java.util.concurrent.Executors
            .newFixedThreadPool(feeds.size)
          try {
            val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            feeds.map(f => Future(f())(ec))
              .foreach(Await.result(_, Duration.Inf))
          } finally {
            // mirror runLocked's eachOf: never let a failed feed leave
            // a sibling writing into the store past this scope
            pool.shutdownNow()
            pool.awaitTermination(Long.MaxValue,
              java.util.concurrent.TimeUnit.NANOSECONDS)
          }
        } else feeds.foreach(_())
        GoldJoinOps.readMart(spark, storeDir, star)
    }
    goldGate(entity, g, mart, mart, obs)
  }

  /** Cluster layout + the expectation tiers over a curated frame — the
    * publish-side tail shared by full and incremental gold. */
  private def goldGate(entity: String, g: GoldConfig, curated: DataFrame,
      silver: DataFrame,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val laid = ClusterLayout(curated, g.clusteringCols,
      boundsFrom = Some(silver))
    // gold carries the warn/fail tiers too (same one-observe discipline);
    // quarantine stays silver-only — its opposite-filter side would
    // re-run the whole curation pipeline for the dead-letter rows
    obs match {
      case Some(o) if g.anyExpectations =>
        Expectations.gated(laid, g.expectAllOrDrop,
          g.expectAll ++ g.expectAllOrFail, o)
      case _ => Expectations(laid, g.expectAllOrDrop,
        observeName = Some(s"expectations_gold_$entity"))
    }
  }

  private def goldPrefixPath(entity: String): String =
    if (params.externalLocation.nonEmpty)
      s"${params.externalLocation}/gold_prefix/$entity"
    else s"$storageRoot/gold_prefix/$entity"

  /** Root of the incremental-gold SUFFIX state (the persisted LSH band
    * index and verified near-dup edge table — see
    * [[buildGoldFrameIncremental]]). */
  private def goldSuffixPath(entity: String): String =
    if (params.externalLocation.nonEmpty)
      s"${params.externalLocation}/gold_suffix/$entity"
    else s"$storageRoot/gold_suffix/$entity"

  /** INCREMENTAL gold (`gold.mode: "incremental"`) — the Lambda split of
    * the curation pipeline. The ROW-LOCAL prefix (quality gate, language
    * filter, PII scrub, fingerprint + shingle derivation, repetition
    * gate — the expensive regex/hash text kernels,
    * [[graft.llm.Curation.prefixStages]]) runs only over silver rows
    * whose `_ingested_at` is newer than the persisted watermark and
    * APPENDS one O(batch) parquet batch to the prefix store; the
    * CORPUS-GLOBAL suffix then runs over the keep-latest view of the
    * compact prefix table (ids, scrubbed text, fingerprints, shingle
    * hashes — no raw-text kernels) with its near-dup MINING made
    * incremental too ([[maintainGoldSuffixState]]): new prefix versions
    * probe a persisted LSH band index and append verified edges, so per
    * publish only decontamination (probe drift), the exact-dedup hash
    * aggregate, and connected components over the dup-graph-sized live
    * edge set re-run. At 100 TB the per-run cost is O(new documents)
    * text work + O(batch · candidates) mining + a metadata-sized global
    * pass, not a corpus recompute.
    *
    * Semantics vs full mode: identical BY CONSTRUCTION — `stages` IS
    * `prefixStages ++ suffixStages` — with one documented exception:
    * none (decontamination re-runs in the suffix, so probe-set drift is
    * picked up exactly as in full mode). CDC is handled like the silver
    * merge: an UPDATED doc supersedes its old prefix row (keep-latest on
    * `_ingested_at`); a changed doc that now FAILS a prefix gate writes
    * a tombstone row superseding its old surviving version; a doc
    * RETRACTED from silver (expectation tombstone) is dropped by the
    * read-side semi-join against current silver keys.
    *
    * The watermark is derived from the stored batches themselves
    * (`max(_ingested_at)`), so a run that crashes between the prefix
    * append and the gold publish resumes consistently: the prefix is a
    * pure cache of row-local computation, never gated on the publish. */
  /** Store-watermark MARKER (`<store>/_wm`): the store's max timestamp
    * as epoch micros in one text file, written AFTER each successful
    * append (data commits first, marker second). Crash between the two
    * leaves the marker STALE-LOW — exactly the at-least-once posture
    * every incremental store here already tolerates (re-appended
    * batches collapse under keep-latest / distinct); a MISSING marker
    * (legacy store, or a store created before this optimization) falls
    * back to the caller's full max() scan and heals on the next append.
    * Why: the per-run watermark read becomes a metadata op instead of a
    * footer-listing + aggregate Spark job — at batch sizes the job
    * itself is trivia but its driver-side plan/schedule latency is not
    * (measured: the incremental-gold path spent more wall-clock in
    * per-job driver gaps than in job execution). */
  private def readWmMarker(fs: org.apache.hadoop.fs.FileSystem,
      store: String): Option[java.sql.Timestamp] = {
    val p = new org.apache.hadoop.fs.Path(store, "_wm")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      txt.toLongOption.map { us =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L))
      }
    }
  }

  /** Forward-only marker advance; `prev` guards against regressing an
    * existing watermark (an append of old re-mined rows must not move
    * the high-water mark backwards). */
  private def advanceWmMarker(fs: org.apache.hadoop.fs.FileSystem,
      store: String, ts: java.sql.Timestamp,
      prev: Option[java.sql.Timestamp]): Unit =
    if (prev.forall(ts.after)) {
      val i = ts.toInstant
      val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
      val out = fs.create(
        new org.apache.hadoop.fs.Path(store, "_wm"), true)
      try out.write(us.toString.getBytes("UTF-8")) finally out.close()
    }

  /** The observed `max(...)` of a just-written batch, ridden on the
    * write job via a CollectMetrics node — zero extra Spark jobs. A
    * null metric (empty batch) reads as None. */
  private def observedMax(metrics: Map[String, Any])
      : Option[java.sql.Timestamp] =
    metrics.get("_wm").collect { case t: java.sql.Timestamp => t }

  def buildGoldFrameIncremental(entity: String, cfg: EntityConfig,
      g: GoldConfig, obs: Option[org.apache.spark.sql.Observation] = None)
      : DataFrame = {
    val silver = spark.read.table(params.silverFqn(entity))
    val cur = g.curation
    val idCol = cur.idCol.getOrElse(cfg.uniquePrimaryKey.head)
    val ccfg = curationConfig(cur)
    val dir = goldPrefixPath(entity)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // generation-dir store: batches append to `dir/g<N>`, watermark
    // marker stays at `dir/_wm`, compaction below rewrites to the
    // keep-latest survivors (GenStore doc — the store is otherwise
    // unbounded in TOTAL doc versions, not live docs)
    val store = new GenStore(fs, dir, m => log(s"gold.$entity: $m"))
    val hasPrefix = store.exists
    // schema evolution: later batches may carry columns earlier ones
    // lack (additive, like bronze) — merge them on read
    def readPrefix(): DataFrame =
      spark.read.option("mergeSchema", "true").parquet(store.dataDir)
    val watermark = if (!hasPrefix) None
      else readWmMarker(fs, dir).orElse(
        readPrefix().agg(max(col(Audit.IngestedAt))).head()
          match { case r if r.isNullAt(0) => None
                  case r => Some(r.getTimestamp(0)) })
    val changed = watermark match {
      case Some(w) => silver.filter(col(Audit.IngestedAt) > lit(w))
      case None    => silver
    }
    val fresh = graft.llm.Curation
      .prefixStages(changed, idCol, cur.textCol, cur.langCol, ccfg)
      .last._2
      .withColumn("_pfx_live", lit(true))
    // a changed doc whose NEW version fails a prefix gate must supersede
    // its old surviving prefix row — record a tombstone for it
    val tomb = changed
      .select(col(idCol), col(Audit.IngestedAt))
      .join(fresh.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("_pfx_live", lit(false))
    val batch = fresh.unionByName(tomb, allowMissingColumns = true)
    // the O(batch) write — the whole point of the split. The id
    // repartition matters: without it the batch inherits the FULL
    // silver scan's partitioning and writes O(table-partitions) near-
    // empty files per run; with a column repartition (no fixed count)
    // AQE sizes the post-shuffle partition count to the batch's actual
    // bytes, so a small batch lands as one file and a huge one fans out
    val batchObs = org.apache.spark.sql.Observation()
    batch.observe(batchObs, max(col(Audit.IngestedAt)).as("_wm"))
      .repartition(col(idCol))
      .write.mode("append").parquet(store.dataDir)
    observedMax(batchObs.get)
      .foreach(advanceWmMarker(fs, dir, _, watermark))
    log(s"gold.$entity: incremental prefix batch appended " +
      s"(watermark=${watermark.getOrElse("none")})")
    // compaction: keep-latest row per doc (live OR tombstone — the
    // tombstone must keep superseding earlier live versions, and the
    // max-_ingested_at row survives so the marker-less watermark
    // fallback stays exact). Superseded versions can never be read
    // again (strictly-monotone `_ingested_at`), so dropping them is
    // invariant for the live view AND the band append (a superseded
    // live version's bands would be dead on arrival). Result: the
    // store holds O(docs) rows + at most compact_after fresh batches,
    // not O(total updates) — over an unbounded CDC history the publish
    // window stops re-sorting dead versions.
    store.compactTiered(g.compactAfter, "prefix store") { paths =>
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col(Audit.IngestedAt).desc)
      spark.read.option("mergeSchema", "true").parquet(paths: _*)
        .withColumn("_pfx_rn", row_number().over(cw))
        .filter(col("_pfx_rn") === 1).drop("_pfx_rn")
    } { (df, to) =>
      df.repartition(col(idCol)).write.mode("overwrite").parquet(to)
    }
    // keep-latest per doc across batches (strictly-monotone
    // `_ingested_at` contract, same as incremental silver), then drop
    // tombstoned versions and docs retracted from silver itself
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col(Audit.IngestedAt).desc)
    // materialized: the live view feeds the band join, both sides of the
    // edge mining, and the suffix — replaying the keep-latest window per
    // consumer would quadruple the prefix-store scan
    val live = readPrefix()
      .withColumn("_pfx_rn", row_number().over(w))
      .filter(col("_pfx_rn") === 1 && col("_pfx_live"))
      .drop("_pfx_rn", "_pfx_live")
      .join(silver.select(col(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint(false)
    val liveEdges = maintainGoldSuffixState(entity, idCol, ccfg,
      readPrefix _, live, g.compactAfter)
    val curated = graft.llm.Curation
      .suffixStagesFromEdges(live, idCol, cur.textCol, ccfg,
        goldProbes(entity, cur), liveEdges)
      .last._2
    goldGate(entity, g, curated, silver, obs)
  }

  /** The INCREMENTAL near-dup suffix state — why the per-publish suffix
    * is O(batch · candidates) instead of a corpus re-mine. Two persisted
    * stores under [[goldSuffixPath]], each carrying its own watermark so
    * a crash between any two appends self-heals on the next run (the
    * same at-least-once posture as the prefix store; appended batches
    * become visible atomically via the parquet committer):
    *
    *  - `bands/` — the LSH BAND INDEX: one row per live doc VERSION and
    *    band, (id, _ingested_at, band, band_hash). Appended only for
    *    prefix versions newer than the store's `max(_ingested_at)`, so
    *    each version's MinHash signature (the k-hash sweep over its
    *    shingle set — the dominant cost of full-mode mining) is computed
    *    exactly once, at ingest. Candidate membership (sharing a
    *    (band, band_hash) bucket) is a property of the two docs alone,
    *    so probing an append-maintained index yields the same candidates
    *    a full rebuild would (append ≡ rebuild — the lshAppendIndex
    *    argument).
    *  - `edges/` — VERIFIED near-dup pairs, version-stamped on both
    *    endpoints: (id_a, id_b, jaccard, _ia_a, _ia_b, _mined_at). Per
    *    run, only band rows newer than the store's `max(_mined_at)`
    *    probe the index; candidates are Jaccard-verified against the
    *    live shingle sets and appended. An edge is LIVE iff both
    *    endpoint versions are still current — so a doc UPDATE or
    *    RETRACTION kills its stale edges by construction (no deletes
    *    against the store), and the update's batch re-mines the new
    *    version against the whole index. A per-run null-id sentinel row
    *    advances the watermark even when a batch verifies zero edges.
    *
    * Components are NOT incrementally maintained on purpose: CDC removes
    * edges (an updated doc may stop matching), and edge removal SPLITS
    * components — a union-only persisted component table cannot express
    * that. Instead connected components run per publish over the LIVE
    * edge set, which is dup-graph-sized (≪ corpus) — the metadata-sized
    * pass the Lambda split budgets for, vs full mode's corpus-wide
    * signature computation + self-join.
    *
    * Returns the live (id_a, id_b) edge set; restriction to each
    * publish's survivor set happens in
    * [[graft.llm.Curation.suffixStagesFromEdges]] (restriction commutes
    * with pairwise mining, so results equal full mode's exactly). */
  private def maintainGoldSuffixState(entity: String, idCol: String,
      ccfg: graft.llm.Curation.Config, readPrefix: () => DataFrame,
      live: DataFrame, compactAfter: Int): DataFrame = {
    import graft.dedup.DedupOps
    val sfxDir = goldSuffixPath(entity)
    val bandsDir = s"$sfxDir/bands"
    val edgesDir = s"$sfxDir/edges"
    val fs = new org.apache.hadoop.fs.Path(sfxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // generation-dir stores (GenStore doc): appends land in g<N>,
    // root-level `_wm` markers are untouched by compaction
    val bandStore = new GenStore(fs, bandsDir,
      m => log(s"gold.$entity: $m"))
    val edgeStore = new GenStore(fs, edgesDir,
      m => log(s"gold.$entity: $m"))
    // layout guard: band buckets and the verified-edge set are functions
    // of (bands, rowsPerBand, threshold); a silent knob change would mix
    // incompatible generations — fail loud, remedy named
    val layoutP = new org.apache.hadoop.fs.Path(s"$sfxDir/_lsh_layout")
    val layout = s"bands=${ccfg.minhashBands} rows=${ccfg.minhashRows} " +
      s"jaccard=${ccfg.nearDupJaccard}"
    if (fs.exists(layoutP)) {
      val in = fs.open(layoutP)
      val rec = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(rec == layout,
        s"gold.$entity: persisted LSH suffix state was built with [$rec] " +
          s"but the config now says [$layout]; run a full refresh " +
          "(--full-refresh) to rebuild it")
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(sfxDir))
      val out = fs.create(layoutP, true)
      try out.write(layout.getBytes("UTF-8")) finally out.close()
    }
    // marker first; full max() scan only for a legacy store with no
    // marker yet (readWmMarker doc — heals on the next append). The
    // marker lives at the store ROOT; the fallback scan reads the live
    // generation's data dir.
    def storeWatermark(root: String, st: GenStore, tsCol: String)
        : Option[java.sql.Timestamp] =
      if (!st.exists) None
      else readWmMarker(fs, root).orElse(
        spark.read.parquet(st.dataDir).agg(max(col(tsCol))).head() match {
          case r if r.isNullAt(0) => None
          case r => Some(r.getTimestamp(0))
        })
    // ---- band append: prefix versions the index does not know yet.
    // Derived from the persisted prefix STORE, not this run's in-memory
    // `fresh` plan, for two reasons: the store read is a cheap columnar
    // scan while re-referencing `fresh` would re-run the whole prefix
    // text-kernel pipeline (measured: +0.7 s/run at sf0.1), and a crash
    // between the prefix append and this one self-heals because each
    // store carries its own watermark.
    val bandWm = storeWatermark(bandsDir, bandStore, Audit.IngestedAt)
    val needBands = bandWm match {
      case Some(wm) => readPrefix().filter(col("_pfx_live") &&
        col(Audit.IngestedAt) > lit(wm))
      case None => readPrefix().filter(col("_pfx_live"))
    }
    val bandObs = org.apache.spark.sql.Observation()
    DedupOps.minhashBandRows(needBands, idCol, "_sh",
        ccfg.minhashBands, ccfg.minhashRows, carry = Seq(Audit.IngestedAt))
      .observe(bandObs, max(col(Audit.IngestedAt)).as("_wm"))
      .repartition(col("id"))
      .write.mode("append").parquet(bandStore.dataDir)
    observedMax(bandObs.get)
      .foreach(advanceWmMarker(fs, bandsDir, _, bandWm))
    // compaction: keep every band row of each doc's LATEST indexed
    // version only. Superseded versions never probe again (the mining
    // side semi-joins (id, _ingested_at) against the live view, and
    // `_ingested_at` is strictly monotone), and the per-id max row
    // survives, so the marker-less watermark fallback stays exact.
    bandStore.compactTiered(compactAfter, "band index") { paths =>
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
      spark.read.parquet(paths: _*)
        .withColumn("_mx", max(col(Audit.IngestedAt)).over(cw))
        .filter(col(Audit.IngestedAt) === col("_mx")).drop("_mx")
    } { (df, to) =>
      df.repartition(col("id")).write.mode("overwrite").parquet(to)
    }
    // the index's high-water mark after this append (observed batch max
    // or, for an empty batch, the pre-append watermark)
    val bandsMax = (bandWm ++ observedMax(bandObs.get))
      .reduceOption((a, b) => if (a.after(b)) a else b)
    // ---- edge mining: NEW band rows probe the whole live index
    val liveKeys = live.select(col(idCol).as("id"), col(Audit.IngestedAt))
    val liveBands = spark.read.parquet(bandStore.dataDir)
      .join(liveKeys, Seq("id", Audit.IngestedAt), "left_semi")
    val edgeWm = storeWatermark(edgesDir, edgeStore, "_mined_at")
    val newBands = edgeWm match {
      case Some(wm) => liveBands.filter(col(Audit.IngestedAt) > lit(wm))
      case None => liveBands
    }
    // the mining stamp = max(_ingested_at) over `newBands`, derived
    // WITHOUT a scan: band rows are bounded above by the index
    // watermark, and when any row is newer than edgeWm the newest live
    // row IS the newest appended row — so the stamp is exactly
    // `bandsMax` when it clears edgeWm, else there is nothing to mine.
    // (A stale-low edge watermark from a crash re-mines rows it already
    // consumed; the stamped-tuple distinct below collapses them — the
    // documented at-least-once posture.)
    val mineStamp = bandsMax.filter(m => edgeWm.forall(m.after))
    mineStamp.foreach { stamp =>
      val cands = newBands
        .select(col("id").as("_pid"), col("band"), col("band_hash"))
        .join(liveBands.select(col("id").as("_cid"), col("band"),
          col("band_hash")), Seq("band", "band_hash"))
        .filter(col("_pid") =!= col("_cid"))
        // normalized pair: a pair whose BOTH endpoints are new is mined
        // from each side; least/greatest + distinct collapses the twins
        .select(least(col("_pid"), col("_cid")).as("id_a"),
          greatest(col("_pid"), col("_cid")).as("id_b"))
        .distinct()
      val verified = DedupOps.verifyJaccard(cands,
        live.select(col(idCol).as("id"), col("_sh").as("sh")),
        ccfg.nearDupJaccard)
      val batchEdges = verified
        .join(live.select(col(idCol).as("id_a"),
          col(Audit.IngestedAt).as("_ia_a")), Seq("id_a"))
        .join(live.select(col(idCol).as("id_b"),
          col(Audit.IngestedAt).as("_ia_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("_ia_a"), col("_ia_b"))
        .withColumn("_mined_at", lit(stamp))
      val idT = live.schema(idCol).dataType
      val sentinel = spark.range(1).select(
        lit(null).cast(idT).as("id_a"), lit(null).cast(idT).as("id_b"),
        lit(null).cast("double").as("jaccard"),
        lit(null).cast("timestamp").as("_ia_a"),
        lit(null).cast("timestamp").as("_ia_b"),
        lit(stamp).as("_mined_at"))
      batchEdges.unionByName(sentinel)
        .repartition(col("id_a"))
        .write.mode("append").parquet(edgeStore.dataDir)
      // data first, marker second (the sentinel keeps the scan fallback
      // exact for stores whose marker is missing)
      advanceWmMarker(fs, edgesDir, stamp, edgeWm)
      log(s"gold.$entity: suffix state advanced to $stamp " +
        s"(bands + verified edges appended)")
    }
    // compaction: keep edges whose BOTH endpoint versions are still
    // current (once superseded, an (id, _ingested_at) version can never
    // re-enter the live view — strictly-monotone `_ingested_at` — so
    // dead edges are dead forever and the read below never surfaces
    // them) plus the single newest sentinel row, which preserves the
    // store's max(_mined_at) for the marker-less watermark fallback.
    // subset-fold safe: dead edges are dead forever (liveness filter),
    // and an extra stale sentinel can't move the max(_mined_at) read
    edgeStore.compactTiered(compactAfter, "edge store") { paths =>
      val e = spark.read.parquet(paths: _*)
      val kept = e.filter(col("id_a").isNotNull)
        .join(live.select(col(idCol).as("id_a"),
          col(Audit.IngestedAt).as("_ia_a")), Seq("id_a", "_ia_a"),
          "left_semi")
        .join(live.select(col(idCol).as("id_b"),
          col(Audit.IngestedAt).as("_ia_b")), Seq("id_b", "_ia_b"),
          "left_semi")
      val newestSentinel = e.filter(col("id_a").isNull)
        .orderBy(col("_mined_at").desc).limit(1)
      kept.unionByName(newestSentinel)
    } { (df, to) =>
      df.repartition(col("id_a")).write.mode("overwrite").parquet(to)
    }
    // ---- the live edge set: both endpoint versions still current.
    // distinct on the stamped tuple first: an at-least-once re-mine
    // (crash before the sentinel landed) may duplicate a batch
    if (!edgeStore.exists)
      live.limit(0).select(col(idCol).as("id_a"), col(idCol).as("id_b"))
    else spark.read.parquet(edgeStore.dataDir)
      .filter(col("id_a").isNotNull)
      .select("id_a", "id_b", "_ia_a", "_ia_b").distinct()
      .join(live.select(col(idCol).as("id_a"),
        col(Audit.IngestedAt).as("_ia_a")), Seq("id_a", "_ia_a"),
        "left_semi")
      .join(live.select(col(idCol).as("id_b"),
        col(Audit.IngestedAt).as("_ia_b")), Seq("id_b", "_ia_b"),
        "left_semi")
      .select("id_a", "id_b")
  }

  /** Config-declared gold table: runs after silver with the SAME
    * publish/retention/metrics semantics ([[publishVersioned]] — versioned
    * dir + SET LOCATION swap + vacuum; expectation counts as table props).
    * No-op for entities without a `gold` config section.
    *
    * Gold stays a FULL recompute by design (unlike silver's optional
    * incremental mode): curation is corpus-global — near-dup component
    * membership, boilerplate document frequencies, and MinHash bands all
    * shift when new documents arrive, so an incremental merge cannot be
    * made equivalent the way associative keep-latest dedup can. The
    * incremental pieces that ARE sound exist as operators (Bloom-
    * prefiltered [[graft.dedup.DedupOps.dedupAgainstBloom]] against a
    * persisted history, streaming [[graft.streaming.StreamOps]] curation
    * with O(1) state) for pipelines that accept approximate-incremental
    * gold semantics. */
  /** The live versions of every input table a gold mart reads — own
    * silver plus each join dim's silver/gold — as sorted
    * `name:layer=version` pairs; None when any input's version is not
    * resolvable (incremental-mode silver publishes no versioned
    * snapshots → the skip simply never fires there, the safe
    * direction). */
  private def goldInputVersions(entity: String, g: GoldConfig)
      : Option[String] = {
    val inputs = (entity, "silver") +:
      g.join.map(j => (j.entity, j.layer))
    val resolved = inputs.distinct.sorted.map { case (e, layer) =>
      scala.util.Try {
        // an incremental-silver input has no live published version —
        // its change clock is the CDF (epoch, high-water) pair, which
        // is exactly the provenance a streaming mart consumes (the
        // epoch distinguishes a full-refreshed feed whose batch ids
        // overlap the old clock)
        if (layer == "silver" &&
            tableProp(spark, params.silverFqn(e), BucketCountProp)
              .nonEmpty) {
          import org.apache.hadoop.fs.Path
          val root = new Path(cdfRoot(e))
          val fs = root.getFileSystem(hconf)
          StoreMarkers.readText(fs, new Path(root, "_epoch")).map(ep =>
            s"$e:$layer=cdf:$ep:${readCdfHi(e)}")
        } else tableVersions(e, layer).find(_.live)
          .map(v => s"$e:$layer=${v.version}")
      }.toOption.flatten
    }
    if (resolved.forall(_.nonEmpty))
      Some(resolved.flatten.mkString(","))
    else None
  }

  /** Returns true when a publish happened, false when the entity has no
    * gold section or the no-change skip fired. `skipIfUnchanged` ALLOWS
    * the skip; the decision is PROVENANCE-based — the stored
    * consumed-inputs marker (the exact versions the last publish read)
    * must equal the CURRENT live versions of every input table, so a
    * crash after a silver publish but before gold self-heals (the
    * stored marker still names the superseded version), and a dim
    * republish anywhere in the chain forces the mart — plus the content
    * fingerprint must match and the table must live under this runner's
    * root ([[livesIn]]). */
  def runGold(entity: String, cfg: EntityConfig,
      fullRefresh: Boolean = false,
      skipIfUnchanged: Boolean = false): Boolean = cfg.gold.exists { g =>
    val fqn = params.goldFqn(entity)
    val inputsNow = goldInputVersions(entity, g)
    if (skipIfUnchanged && !fullRefresh &&
        spark.catalog.tableExists(fqn) &&
        tableProp(spark, fqn, ConfigFpProp)
          .contains(configFp(cfg, params.softDeletesEnabled)) &&
        inputsNow.exists(i =>
          tableProp(spark, fqn, GoldInputsProp).contains(i)) &&
        livesIn(fqn, goldPath(entity))) {
      log(s"$fqn: every input at its last-consumed version " +
        s"(${inputsNow.get}) and an unchanged config - skipping the " +
        "gold republish (content identical by construction)")
      false
    } else {
    if (fullRefresh && g.streamMart) {
      // full refresh clears the whole stream state (stores, feed dirs,
      // checkpoints) — the next run re-feeds the live versions as
      // initial loads, exactly a fresh deployment
      val p = new org.apache.hadoop.fs.Path(goldStreamPath(entity))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      log(s"gold.$entity: full refresh cleared the streaming mart state")
    }
    if (fullRefresh && g.mode == "incremental") {
      // full refresh rebuilds the prefix cache from scratch (mirrors the
      // bronze checkpoint reset): the next watermark read sees no batches
      val p = new org.apache.hadoop.fs.Path(goldPrefixPath(entity))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val sp = new org.apache.hadoop.fs.Path(goldSuffixPath(entity))
      if (fs.exists(sp)) fs.delete(sp, true)
      log(s"gold.$entity: full refresh cleared the incremental prefix/" +
        "suffix state")
    }
    val obs = Option.when(g.anyExpectations)(
      new org.apache.spark.sql.Observation(s"expectations_gold_$entity"))
    val frame =
      if (g.streamMart) buildGoldStreamMart(entity, cfg, g, obs)
      else if (g.aggregate.nonEmpty) buildGoldAggFrame(entity, cfg, g, obs)
      else if (g.join.nonEmpty) buildGoldJoinFrame(entity, cfg, g, obs)
      else if (g.mode == "incremental")
        buildGoldFrameIncremental(entity, cfg, g, obs)
      else buildGoldFrame(entity, cfg, g, obs)
    publishVersioned(fqn, goldPath(entity), frame,
      preCommit = () => failOnViolations(entity, g.expectAllOrFail, obs))
    setTableProps(spark, fqn, refTableProps(cfg) +
      ("comment" -> s"Gold curated table for $entity (from ${params.silverFqn(entity)})") +
      ("clustering_cols" -> g.clusteringCols.mkString(",")) +
      ("gold_mode" -> g.mode) +
      (ConfigFpProp -> configFp(cfg, params.softDeletesEnabled)) ++
      inputsNow.map(GoldInputsProp -> _) ++
      expectationMetrics(entity, "gold", fqn, obs))
    if (cfg.profileOnPublish) appendProfileLog(entity, "gold", fqn)
    true
    }
  }

  // ---- phase 3: active views (catalog-only) -------------------------------

  /** Reference `03_active_views.py:57-64`. Guard (SURVEY §7.4.4): the view
    * filters `op != 'D'` only when the silver table has an `op` column. */
  def createActiveView(entity: String): Unit = {
    val silverFqn = params.silverFqn(entity)
    val viewFqn = params.activeViewFqn(entity)
    val hasOp = spark.table(silverFqn).columns.contains("op")
    val where = if (hasOp) " WHERE op != 'D'" else ""
    if (!hasOp) log(s"$silverFqn has no 'op' column; active view is SELECT *")
    spark.sql(s"CREATE OR REPLACE VIEW $viewFqn AS SELECT * FROM $silverFqn$where")
  }

  // ---- whole pipeline ------------------------------------------------------

  /** One triggered pipeline run over every entity in the config —
    * entry point A (SURVEY §3.1).
    *
    * `concurrency` > 1 runs the entities of each phase in parallel (the
    * flows are independent — SDP executes the resolved graph's parallel
    * flows concurrently too). Spark's scheduler is thread-safe; each flow
    * is just concurrent job submission on the shared session. Phases stay
    * ordered: all bronze, then all silver, then views.
    *
    * The whole run holds a heartbeat run-lock scoped to the checkpoint
    * root — the analog of the reference job's `max_concurrent_runs: 1`
    * (`resources/sdp_job.job.yml:23`), which exists precisely so two
    * concurrent runs can't corrupt a streaming checkpoint or race the
    * silver `SET LOCATION` swap. A second concurrent run FAILS FAST with
    * [[ConcurrentRunException]]; a lock whose owner crashed (heartbeat
    * gone stale) is broken and re-acquired. */
  def run(entities: Map[String, EntityConfig],
      fullRefresh: Boolean = false, concurrency: Int = 1): Unit =
    RunLock.withLock(spark, s"$storageRoot/_checkpoints") {
      runId = java.util.UUID.randomUUID().toString
      runLocked(entities, fullRefresh, concurrency)
    }

  private def runLocked(entities: Map[String, EntityConfig],
      fullRefresh: Boolean, concurrency: Int): Unit = {
    ensureSchemas(params.softDeletesEnabled)
    def eachOf(es: Seq[(String, EntityConfig)])(
        f: ((String, EntityConfig)) => Unit): Unit =
      if (concurrency <= 1) es.sortBy(_._1).foreach(f)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
        try {
          val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          val fs = es.sortBy(_._1).map(e => Future(f(e))(ec))
          fs.foreach(Await.result(_, Duration.Inf))
        } finally {
          // a failed flow must NOT let the run lock release while sibling
          // flows still stream into their checkpoints (a successor run
          // would write the same checkpoints concurrently — the exact
          // corruption max_concurrent_runs=1 prevents): cancel queued
          // work, interrupt in-flight flows, and WAIT for the pool to
          // drain before the lock's finally can run. If a flow ignores
          // interruption the lock stays held — that is the safe outcome.
          pool.shutdownNow()
          pool.awaitTermination(Long.MaxValue,
            java.util.concurrent.TimeUnit.NANOSECONDS)
        }
      }
    def each(f: ((String, EntityConfig)) => Unit): Unit =
      eachOf(entities.toSeq)(f)
    // NO-CHANGE RUN SKIP: a triggered run over a feed with nothing new
    // must cost metadata, not table rewrites (at 100 TB an idle hourly
    // trigger re-writing every full-mode silver is the waste that
    // dominates the bill). The decisions are PROVENANCE-based inside
    // each phase — silver skips when its stored consumed-bronze-batch
    // marker equals the checkpoint's latest completed batch, gold when
    // its stored consumed-input VERSIONS equal the current live ones —
    // so a crash anywhere between phases self-heals on the next trigger
    // (run-local signals alone would go permanently stale). Any doubt
    // (direct phase calls, unresolvable versions, changed config or
    // soft-deletes) errs toward republishing.
    val allowSkip = !params.republishUnchanged
    // derive the CDF targets from the WHOLE config before silver runs:
    // every incremental entity a stream-store mart consumes must
    // emit merge-time change images (see [[cdfOn]] — the epoch latch
    // keeps an enabled feed current even outside this runner)
    cdfTargets = entities.toSeq.flatMap { case (ge, cfg) =>
      cfg.gold.toSeq.filter(_.streamMart).flatMap(g =>
        ge +: g.join.filter(_.layer == "silver").map(_.entity))
    }.filter(e => entities.get(e).exists(_.silverMode == "incremental"))
      .toSet
    cdfProbeCache.clear()
    each { case (e, cfg) => runBronze(e, cfg, fullRefresh); () }
    log("phase bronze done")
    each { case (e, cfg) =>
      runSilver(e, cfg, fullRefresh, skipIfUnchanged = allowSkip); () }
    log("phase silver done")
    // phase 2.5: gold tables are declared per entity; the schema is
    // created lazily so gold-free configs never touch a gold catalog
    if (entities.values.exists(_.gold.nonEmpty))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `${params.goldSchema}`")
    // gold DAG: a CHAINED mart (gold.join layer "gold") must run after
    // its dim entities' gold publish — Kahn waves, each wave concurrent
    // (exactly the resolved-graph ordering SDP applies to table
    // dependencies); a layer-gold reference to an entity without a gold
    // section, or a dependency cycle, fails loud with the remedy named
    val goldDeps: Map[String, Set[String]] = entities.map {
      case (e, cfg) =>
        val deps = cfg.gold.toSeq.flatMap(_.join)
          .filter(_.layer == "gold").map(_.entity).toSet
        deps.foreach { d =>
          require(entities.get(d).exists(_.gold.nonEmpty),
            s"gold.$e: chained join dim '$d' has no gold section in " +
              "this config — declare one or use layer 'silver'")
        }
        e -> deps
    }
    var remaining = entities.keySet
    var published = Set.empty[String]
    while (remaining.nonEmpty) {
      val wave = remaining.filter(e => goldDeps(e).subsetOf(published))
      require(wave.nonEmpty,
        s"gold phase has a dependency cycle among " +
          s"${remaining.toSeq.sorted.mkString(", ")} (gold.join layer " +
          "'gold' references) — break the cycle or use layer 'silver'")
      eachOf(entities.filter(kv => wave.contains(kv._1)).toSeq) {
        // the wave ordering guarantees a chained dim's gold published
        // (or provably skipped) before this mart resolves its input
        // versions — the provenance check inside runGold sees them
        case (e, cfg) =>
          runGold(e, cfg, fullRefresh, skipIfUnchanged = allowSkip); ()
      }
      published ++= wave
      remaining --= wave
    }
    vacuumCdf(entities)
    log("phase gold done")
    if (params.softDeletesEnabled)
      entities.keys.toSeq.sorted.foreach(createActiveView)
  }
}

/** A bronze column's inferred type changed incompatibly across file
  * batches (S7 covers ADDED columns; a CHANGED type that cannot up-cast
  * needs an explicit decision). Named error instead of a confusing
  * mid-stream failure. */
final class SchemaConflictException(entity: String, fqn: String,
    conflicts: Seq[(String, org.apache.spark.sql.types.DataType,
      org.apache.spark.sql.types.DataType)])
  extends RuntimeException(
    s"schema conflict on $fqn (entity $entity): " +
      conflicts.map { case (n, inc, old) =>
        s"column '$n' inferred ${inc.simpleString} from current files but " +
          s"table has ${old.simpleString}"
      }.mkString("; ") +
      " — incoming type cannot up-cast; fix the source files or run a " +
      "full refresh (--full-refresh) to re-infer")

/** A pipeline run is already in progress for this checkpoint root
  * (`max_concurrent_runs: 1`). */
final class ConcurrentRunException(lockPath: String, heldSinceMs: Long)
  extends RuntimeException(
    s"another pipeline run holds $lockPath (heartbeat " +
      s"${System.currentTimeMillis() - heldSinceMs} ms ago); " +
      "max_concurrent_runs=1 — wait for it or remove the lock if orphaned")

/** Checkpoint-root-scoped run lock with heartbeat + stale-break.
  *
  * Acquisition is an atomic `create(overwrite=false)` of a lock file —
  * fail-fast when it already exists with a FRESH heartbeat. The holder
  * refreshes the heartbeat (rewrites the lock's timestamp) every
  * [[heartbeatMs]]; a crashed holder stops beating, so a lock older than
  * [[staleAfterMs]] is broken and re-acquired atomically (delete +
  * create-exclusive — if a rival breaks it first, the create fails and
  * we fail fast like any concurrent run). Works on any Hadoop FileSystem
  * (no local-FS FileLock dependency). */
object RunLock {
  private val LockName = "_pipeline_run_lock"
  val heartbeatMs: Long = 2000L
  val staleAfterMs: Long = 30000L

  /** Lock file carries "beatMs ownerToken": the token fences a holder
    * that was paused past staleAfterMs (GC / VM suspend) and woke up
    * after a rival broke its lock — without it, the zombie's heartbeat
    * would steal the lock back mid-run and its release would delete the
    * rival's LIVE lock, letting a third run in. */
  private def writeLock(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, token: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s"${System.currentTimeMillis()} $token\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readLock(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[(Long, String)] =
    try {
      val len = fs.getFileStatus(p).getLen
      if (len > 128) None
      else {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        val parts = new String(bytes,
          java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+", 2)
        parts.headOption.flatMap(_.toLongOption)
          .map(beat => (beat, if (parts.length > 1) parts(1) else ""))
      }
    } catch { case _: java.io.IOException => None }

  def withLock[T](spark: SparkSession, checkpointRoot: String)(body: => T): T = {
    val root = new org.apache.hadoop.fs.Path(checkpointRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(root, LockName)
    val token = java.util.UUID.randomUUID().toString

    def acquire(retryOnStale: Boolean): Unit =
      try writeLock(fs, lock, token, overwrite = false)
      catch {
        case _: java.io.IOException =>
          val beat = readLock(fs, lock).map(_._1)
          val fresh = beat.exists(System.currentTimeMillis() - _ < staleAfterMs)
          if (fresh || !retryOnStale)
            throw new ConcurrentRunException(lock.toString,
              beat.getOrElse(System.currentTimeMillis()))
          // stale (holder crashed / unreadable): break once, re-race
          Console.err.println(s"[pipeline] breaking stale run lock $lock " +
            s"(last heartbeat ${beat.fold("unreadable")(b =>
              s"${System.currentTimeMillis() - b} ms ago")})")
          fs.delete(lock, false)
          acquire(retryOnStale = false)
      }

    def stillMine: Boolean = readLock(fs, lock).exists(_._2 == token)

    acquire(retryOnStale = true)
    @volatile var stopped = false
    val beater = new Thread(() => {
      try while (!Thread.interrupted() && !stopped) {
        Thread.sleep(heartbeatMs)
        // re-check ownership before every beat: if a rival broke this
        // lock while we were paused, beating would steal it back while
        // both runs are live — stop beating instead (fail on release)
        if (!stopped && stillMine)
          writeLock(fs, lock, token, overwrite = true)
      } catch { case _: InterruptedException => () }
    }, "graft-run-lock-heartbeat")
    beater.setDaemon(true)
    beater.start()
    try body
    finally {
      stopped = true // visible to the beater even if join times out below
      beater.interrupt()
      beater.join(heartbeatMs * 2)
      // delete only OUR lock — a rival that legitimately broke a stale
      // lock owns the file now and must keep it
      if (stillMine) fs.delete(lock, false)
    }
  }
}

object PipelineRunner {

  /** Dim join-key uniqueness validations already performed this JVM,
    * keyed by (store root, catalog, fact, dim, dim VERSION — the
    * published version, or the CDF epoch and high water of an
    * incremental silver). A validated version never needs re-checking;
    * any dim change advances the version and re-validates. Bounds the
    * fan-out guard to one Spark job per dim version instead of one per
    * mart run. */
  private[pipeline] val dimUniqueValidated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The delta range a stream-mart feed is applying (its `_pin`):
    * `from` None = an initial load. */
  private[pipeline] final case class FeedPin(from: Option[Long], to: Long)

  /** Bootstrap exactly like the reference's conf-driven entry
    * (`00_config_loader.py`): params from spark.conf, config JSON from the
    * source location. */
  def fromConf(spark: SparkSession, storageRoot: String): (PipelineRunner, Map[String, EntityConfig]) = {
    val params = PipelineParams.fromConf(spark)
    val entities = ConfigLoader.load(spark, params.sourceLocation)
    (new PipelineRunner(spark, params, storageRoot), entities)
  }

  import org.apache.spark.sql.types._

  /** Schema-level twin of ops.Upcast (P1). */
  def upcastSchema(s: StructType): StructType = StructType(s.fields.map {
    case f if f.dataType == IntegerType || f.dataType == ShortType =>
      f.copy(dataType = LongType)
    case f => f
  })

  val auditFields: Array[StructField] = Array(
    StructField(Audit.IngestedAt, TimestampType),
    StructField(Audit.SourceFile, StringType),
    StructField(Audit.FileModTime, TimestampType))

  def tableSchema(spark: SparkSession, fqn: String): Option[StructType] =
    if (spark.catalog.tableExists(fqn)) Some(spark.table(fqn).schema)
    else None

  /** PK-hash bucket column / hive partition key of the incremental-silver
    * layout. `_`-prefixed like the audit columns; visible in the silver
    * schema (partition dirs named `_bucket=<k>` survive Spark's
    * hidden-path filter because the name contains `=`). */
  val BucketCol = "_bucket"

  /** Table property pinning the bucket count a silver table was laid out
    * with — [[mergeSilverBatch]] fails loud when the config disagrees. */
  val BucketCountProp = "graft.silver_buckets"

  /** Table property pinning the merge strategy (`copy_on_write` /
    * `merge_on_read`) the incremental silver was published with — the two
    * physical layouts are incompatible, so [[mergeSilverBatch]] fails
    * loud on a config switch without a full refresh. */
  val MergeStrategyProp = "graft.silver_merge"

  /** Table property fingerprinting the entity config a table was last
    * published under — one guard of the NO-CHANGE RUN SKIP: a triggered
    * run may skip a republish ONLY while the config that derives the
    * content is also unchanged (a new expectation, rename, gold knob,
    * or a soft-deletes flip must force a recompute even with zero new
    * rows). A fingerprint mismatch can only err toward a spurious
    * republish — the safe direction. */
  val ConfigFpProp = "graft.config_fp"

  /** Table property recording the bronze checkpoint batch a SILVER
    * publish consumed — the PROVENANCE guard of the no-change skip: a
    * run-local "zero rows ingested this run" signal alone would leave
    * silver permanently stale after a crash between the bronze
    * checkpoint commit and the silver publish (the next idle trigger
    * sees zero new rows and skips forever); comparing the LAST CONSUMED
    * batch against the checkpoint's latest completed batch self-heals —
    * any unconsumed bronze data forces the republish. */
  val ConsumedBronzeProp = "graft.consumed_bronze_batch"

  /** Table property recording the input table versions a GOLD publish
    * read (own silver + each join dim's silver/gold), as
    * `name:layer=version` pairs — the gold-side provenance guard: a
    * crash after the silver publish but before gold leaves the stored
    * inputs naming the superseded versions, so the next trigger
    * republishes gold even though nothing else changed that run. */
  val GoldInputsProp = "graft.consumed_inputs"

  /** Deterministic content fingerprint: the entity config (md5 of the
    * case-class rendering — equal configs re-parsed from the same JSON
    * render identically) plus every [[graft.config.PipelineParams]]
    * field that derives table CONTENT (soft-deletes flips the CDC
    * delete filter). */
  def configFp(cfg: graft.config.EntityConfig,
      softDeletes: Boolean): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$cfg|softDeletes=$softDeletes".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Merge-on-read: catalog partition column holding the delta
    * generation id (0 = the bucket's base, > 0 a delta). Lives only in
    * partition values, never in data files. */
  val DeltaCol = "_delta"

  /** Merge-on-read: tombstone marker — a delta row whose arrival
    * RETRACTS its PK (CDC delete under hard-delete mode, or an
    * expectation violation). Hidden by the merge view. */
  val RetractedCol = "_retracted"

  /** Internal rank column of the merge view's keep-latest window. */
  val RowNumCol = "_rn"

  /** Incremental-silver CDF: the change kind of an image row — insert /
    * update_preimage / update_postimage / delete (the Delta CDF
    * vocabulary; an update is the −old/+new pair, which is exactly the
    * signed-delta algebra the aggregate marts consume). */
  val CdfTypeCol = "_change_type"

  /** Incremental-silver CDF: the merge batch id an image row belongs
    * to — the feed's ordering clock (monotone per silver checkpoint). */
  val CdfGenCol = "_cdf_gen"

  /** [[setTableProps]] for views (`ALTER VIEW ... SET TBLPROPERTIES`). */
  def setViewProps(spark: SparkSession, fqn: String,
      props: Map[String, String]): Unit = {
    val kv = props.map { case (k, v) =>
      s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'"
    }.mkString(", ")
    spark.sql(s"ALTER VIEW $fqn SET TBLPROPERTIES ($kv)")
  }

  /** JVM-level monitor serializing expectation-log appends across
    * concurrent entity flows (see appendExpectationLog). */
  private[pipeline] val expectationLogWriteLock = new Object

  /** Read one table property, None when the table or property is absent. */
  def tableProp(spark: SparkSession, fqn: String, key: String): Option[String] =
    if (!spark.catalog.tableExists(fqn)) None
    else spark.sql(s"SHOW TBLPROPERTIES $fqn")
      .where(col("key") === key)
      .collect().headOption.map(_.getString(1))

  def setTableProps(spark: SparkSession, fqn: String,
      props: Map[String, String]): Unit = {
    val kv = props.map { case (k, v) =>
      s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'"
    }.mkString(", ")
    spark.sql(s"ALTER TABLE $fqn SET TBLPROPERTIES ($kv)")
  }

  /** Parse the reference's CalendarInterval-style retention strings
    * (`"interval 14 days"` — `config/databricks.yml:19-21`) to millis.
    * Accepts the leading `interval` keyword optionally (both `"14 days"`
    * and `"interval 14 days"` are valid CalendarInterval spellings) and
    * the second/minute/hour/day/week/month units (week = 7 days; month
    * approximated as 30 days — retention is a grace window, not calendar
    * arithmetic). An unparseable string THROWS instead of silently
    * becoming 0 ms — 0 means "vacuum superseded versions immediately",
    * the most destructive possible reading of a typo. */
  def parseRetentionMs(s: String): Long = {
    val m = "(?i)^(?:interval\\s+)?(\\d+)\\s+(day|hour|minute|second|week|month)s?$".r
      .findFirstMatchIn(s.trim)
    m.map { g =>
      val n = g.group(1).toLong
      g.group(2).toLowerCase match {
        case "month"  => n * 30L * 24 * 3600 * 1000
        case "week"   => n * 7L * 24 * 3600 * 1000
        case "day"    => n * 24L * 3600 * 1000
        case "hour"   => n * 3600L * 1000
        case "minute" => n * 60L * 1000
        case "second" => n * 1000L
      }
    }.getOrElse(throw new IllegalArgumentException(
      s"unparseable deleted_file_retention_duration: '$s' " +
        "(expected e.g. 'interval 14 days')"))
  }

  /** Supersede-instant marker for versioned silver dirs (underscore prefix
    * keeps parquet readers from treating it as data). */
  private val SupersededMarker = "_superseded_at"

  def markSupersededAt(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path, ms: Long): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(versionDir, SupersededMarker), true)
    try out.write(ms.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readSupersededAt(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(versionDir, SupersededMarker)
    if (!fs.exists(p)) None
    else {
      // readFully, not read(): a single read() may legally return fewer
      // bytes, and a truncated epoch string would parse to a tiny
      // timestamp that vacuums the version immediately. A valid marker
      // is <= 20 bytes; anything larger is corrupt -> unparseable (None)
      // rather than an unbounded driver-heap read
      val len = fs.getFileStatus(p).getLen
      if (len > 64) None
      else {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .trim.toLongOption
      }
    }
  }

  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
