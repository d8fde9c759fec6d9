package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType}

/** Core relational operators of the pipeline, each a pure
  * `DataFrame => DataFrame`. All are narrow (no shuffle) except
  * [[Dedup]] (one hash-partition exchange on the PK) and
  * [[ClusterLayout]] (one range exchange before write) — that matches the
  * reference's plan shape, where the silver window is the only shuffle
  * (SURVEY §3.3).
  */

/** P1: cast every Integer/Short column to bigint — reference
  * `00_config_loader.py:46-55`, applied `01_bronze_ingestion.py:165`.
  *
  * One single Project (built in one `select`, not N chained `withColumn`s,
  * which would bloat the analysis at wide schemas); collapses into the scan's
  * whole-stage-codegen stage. Scale: narrow, zero shuffle.
  */
object Upcast {
  private def isSmallInt(dt: DataType): Boolean =
    dt == IntegerType || dt == ShortType
  def apply(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (isSmallInt(f.dataType)) col(f.name).cast(LongType).as(f.name)
      else col(f.name)
    }
    if (df.schema.fields.exists(f => isSmallInt(f.dataType)))
      df.select(cols.toIndexedSeq: _*)
    else df
  }
}

/** P2: audit columns — reference `01_bronze_ingestion.py:168-176`.
  * `_ingested_at` is clock-injectable for oracle determinism (SURVEY §7.4.3);
  * `_source_file` / `_file_modification_time` come from the hidden
  * `_metadata` struct of file sources. Narrow projection.
  */
object Audit {
  val IngestedAt = "_ingested_at"
  val SourceFile = "_source_file"
  val FileModTime = "_file_modification_time"

  def apply(df: DataFrame, clock: Option[java.sql.Timestamp] = None)
      : DataFrame = {
    val ts: Column =
      clock.map(t => lit(t)).getOrElse(current_timestamp())
    df.withColumn(IngestedAt, ts)
      .withColumn(SourceFile, col("_metadata.file_path"))
      .withColumn(FileModTime, col("_metadata.file_modification_time"))
  }
}

/** W1+P3+P4: primary-key dedup keeping the latest row — the reference's one
  * real relational computation (`02_silver_processing.py:120-129`).
  *
  * `row_number` over (partition by PK order by orderCols desc) then keep
  * rank 1. Ties on `_ingested_at` are nondeterministic in the reference; we
  * always append deterministic tie-breakers (SURVEY §2 W1 note).
  *
  * Scale (100 TB): exactly ONE shuffle, hash-partitioned on the PK. Spark
  * 4's `InferWindowGroupLimit` rewrites the rank<=1 filter into a
  * WindowGroupLimit (per-partition top-1 push-down before the exchange), so
  * the shuffle carries at most one row per (partition, PK) from the map
  * side — this is the same partial-aggregation shape a max-aggregate would
  * have. Skewed PKs (a hot key with millions of duplicate versions) are
  * bounded by that map-side limit, so no salting is needed for top-1.
  */
object Dedup {
  def apply(df: DataFrame, pkCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    // collision-free rank name (the ZOrder.fresh discipline): a user
    // column already named _row_num must survive the round trip
    val rn = Iterator.iterate("_row_num")(_ + "_")
      .dropWhile(df.columns.contains).next()
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Reference form: latest `_ingested_at` wins; tie-break by source file
    * then file mod time (strictly refines reference behavior). */
  def latestByIngestion(df: DataFrame, pkCols: Seq[String]): DataFrame = {
    val ties = Seq(Audit.SourceFile, Audit.FileModTime)
      .filter(df.columns.contains).map(col(_).desc_nulls_last)
    apply(df, pkCols, col(Audit.IngestedAt).desc +: ties)
  }
}

/** P5: CDC delete removal — reference `02_silver_processing.py:131-135`.
  * Spark 3-valued logic: `op != 'D'` also drops `op IS NULL` rows; preserved
  * exactly. Guard: the reference would fail on entities lacking `op`; we
  * apply only if the column exists and leave the frame untouched otherwise
  * (recorded divergence, SURVEY §7.4.4). Narrow filter.
  */
object SoftDeleteFilter {
  def apply(df: DataFrame): DataFrame =
    if (df.columns.contains("op")) df.filter(col("op") =!= "D") else df
}

/** P7: data-quality gate — `expect_all_or_drop` (reference
  * `02_silver_processing.py:139-141`). Keep a row iff ALL expectation
  * predicates evaluate true (NULL counts as a violation — real SDP
  * semantics, SURVEY §7.4.5). Violation counts are attached via
  * `df.observe` so metrics cost zero extra passes. Narrow filter, fully
  * codegen'd (predicates are Catalyst expressions from `expr`).
  */
object Expectations {
  private def predicates(expectations: Map[String, String]) =
    expectations.toSeq.sortBy(_._1).map { case (n, sql) => n -> expr(sql) }

  private def metricsFor(preds: Seq[(String, Column)]): Seq[Column] =
    preds.map { case (n, p) =>
      sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L))
        .as(s"violations_$n")
    }

  def apply(df: DataFrame, expectations: Map[String, String],
      observeName: Option[String] = None): DataFrame = {
    if (expectations.isEmpty) return df
    val preds = predicates(expectations)
    val observed = observeName match {
      case Some(name) =>
        val metrics = metricsFor(preds)
        df.observe(name, metrics.head, metrics.tail: _*)
      case None => df
    }
    // keep iff every predicate is TRUE (null => drop)
    observed.filter(preds.map(_._2).reduce(_ && _))
  }

  /** Batch variant binding violation counts to an
    * [[org.apache.spark.sql.Observation]] — after any action on the
    * result, `obs.get("violations_<name>")` yields the per-expectation
    * dropped-row counts with ZERO extra passes over the data (the SDP
    * expectation-metrics analog). */
  def observed(df: DataFrame, expectations: Map[String, String],
      obs: org.apache.spark.sql.Observation): DataFrame =
    gated(df, expectations, Map.empty, obs)

  /** Full DLT-triad variant: `gate` predicates FILTER (drop/quarantine
    * semantics) while `monitor` predicates are COUNTED ONLY (warn/fail
    * semantics — warn keeps the rows; fail aborts the whole publish on a
    * nonzero count, decided by the caller from the observation, so the
    * rows themselves pass through). All violation counts ride one
    * `observe` on the same action — still zero extra passes. Expectation
    * names must be globally unique across both maps (one
    * `violations_<name>` metric each). */
  def gated(df: DataFrame, gate: Map[String, String],
      monitor: Map[String, String],
      obs: org.apache.spark.sql.Observation): DataFrame = {
    val overlap = gate.keySet.intersect(monitor.keySet)
    require(overlap.isEmpty, s"expectation names in both a gating and a " +
      s"monitoring set: ${overlap.toSeq.sorted.mkString(", ")}")
    if (gate.isEmpty && monitor.isEmpty) return df
    val gatePreds = predicates(gate)
    val metrics = metricsFor(gatePreds ++ predicates(monitor))
    val observedDf = df.observe(obs, metrics.head, metrics.tail: _*)
    if (gatePreds.isEmpty) observedDf
    else observedDf.filter(gatePreds.map(_._2).reduce(_ && _))
  }

  /** The complement of the gate: rows violating AT LEAST ONE of
    * `expectations`, annotated with the sorted array of violated
    * expectation names in `outCol` — the quarantine side of an
    * expect-or-quarantine split (the documented DLT quarantine pattern:
    * write the two sides with opposite filters). */
  def violatedOnly(df: DataFrame, expectations: Map[String, String],
      outCol: String = "_violated"): DataFrame = {
    require(expectations.nonEmpty, "violatedOnly needs >= 1 expectation")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists; pass outCol = <other name>")
    val preds = predicates(expectations)
    val names = preds.map { case (n, p) =>
      when(!coalesce(p, lit(false)), lit(n))
    }
    df.withColumn(outCol, array_compact(array(names: _*)))
      .filter(size(col(outCol)) > 0)
  }
}

/** P8: column renaming — reserved in the reference (`README.md:100`);
  * implemented as a single narrow projection for capability completion. */
object Rename {
  def apply(df: DataFrame, renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df else df.withColumnsRenamed(renames)
}

/** Liquid-clustering analog (reference `02_silver_processing.py:148`):
  * before writing, lay data out so parquet row-group min/max stats are
  * tight and Spark's parquet filter pushdown can skip row groups — the
  * OSS stand-in for Delta liquid clustering + dataSkippingStatsColumns
  * (SURVEY §4.1).
  *
  * One clustering column (or any non-orderable type in the list) →
  * lexicographic range partition + sort. Two or more orderable columns →
  * [[ZOrder]] interleaved layout, which is what multi-column liquid
  * clustering actually promises: skipping power on EVERY clustering
  * column, not just the first (lexicographic stats are tight for the
  * leading column only).
  *
  * Scale: either path is exactly one range exchange (sampled, balanced,
  * skew-tolerant) + a spillable per-partition sort.
  */
object ClusterLayout {
  /** `boundsFrom`: optional cheap source for the z-order quantile sketch
    * (see [[ZOrder.layout]]) — e.g. the bronze scan when `df` is the
    * expensive silver pipeline. */
  def apply(df: DataFrame, clusteringCols: Seq[String],
      boundsFrom: Option[DataFrame] = None): DataFrame = {
    val cols = clusteringCols.filter(df.columns.contains)
    val types = cols.map(c => df.schema(c).dataType)
    if (cols.isEmpty) df
    else if (cols.size >= 2 && types.forall(ZOrder.zorderable))
      // bounds source must carry the SAME types — a differently-typed
      // column would sketch boundaries in a different rank space (or
      // crash the ANSI cast) and silently wreck the layout
      ZOrder.layout(df, cols,
        boundsFrom = boundsFrom.filter(b =>
          cols.forall(c => b.columns.contains(c) &&
            b.schema(c).dataType == df.schema(c).dataType)))
    else df.repartitionByRange(cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
  }
}
