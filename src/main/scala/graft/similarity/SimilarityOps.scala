package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorExpressions

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`array<float>`), testdata
  * `embeddings.parquet` (64-dim, `vec_id`, `label`).
  *
  * All vector math is higher-order built-ins (`zip_with` dot product,
  * `aggregate` folds) — no UDF, so it compiles to codegen'd loops.
  *
  * Scale design (100 TB / billions of vectors):
  *  - [[bruteForceTopK]] is probes × corpus: right for SMALL probe sets
  *    (broadcast the probes, stream the corpus once, per-group top-k via
  *    the rank filter that Spark rewrites to WindowGroupLimit — corpus
  *    never re-shuffled, k rows per probe per map partition cross the
  *    exchange).
  *  - [[lshAssign]]/[[lshTopK]] is the scale path: sign-random-projection
  *    buckets (Charikar, STOC'02) turn the cross product into an equi-join
  *    on bucket id; recall is tuned by `planes` (bucket granularity) and
  *    `probesPerBucket` multi-probe. An IVF analog would swap the hash for
  *    learned centroids; the join shape is identical.
  */
object SimilarityOps {

  /** Dot product of two equal-length float-array columns, accumulated in
    * double, index order (deterministic). Codegen'd primitive loop
    * ([[graft.functions.VectorExpressions.FloatDot]]) — the interpreted
    * `zip_with`+`aggregate` form costs a boxed lambda call per element and
    * dominated all-pairs benchmarks. */
  def dot(a: Column, b: Column): Column = VectorExpressions.floatDot(a, b)

  /** L2 norm (codegen'd; same accumulation order as the HOF form). */
  def norm(a: Column): Column = VectorExpressions.floatNorm(a)

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-L2-normalized copy of `vecCol` as `outCol` (array<double>) —
    * the standard preprocessing pass before cosine retrieval: over unit
    * vectors cosine IS the dot product, halving the per-candidate math
    * in every downstream scorer and letting stored indexes skip the norm
    * column entirely. The all-zero vector passes through as zeros (a
    * 0/0 division would poison downstream ranking with NaN — the
    * NaN-safe-ordering lesson). Narrow and shuffle-free; the norm is
    * hoisted into its own projection so the per-element lambda divides
    * by a COLUMN, not by a re-evaluated norm expression (a lambda-
    * embedded norm(vec) would re-run the full-vector pass per element —
    * d× redundant work). */
  def l2Normalize(df: DataFrame, vecCol: String = "embedding",
      outCol: String = "unit"): DataFrame = {
    val n = "_l2n_" + outCol
    df.withColumn(n, norm(col(vecCol)))
      .withColumn(outCol, when(col(n) === 0.0,
          transform(col(vecCol), _ => lit(0.0)))
        .otherwise(transform(col(vecCol), x => x.cast("double") / col(n))))
      .drop(n)
  }

  /** Embedding-centroid drift between two snapshots — the semantic
    * counterpart of the categorical PSI monitor: per group, the cosine
    * between the two snapshots' MEAN embeddings (`cos_shift` → 1.0 =
    * the group's semantic center held still; a drop says the content of
    * that label/source/language changed even if its row counts did not).
    *
    * Exactness: cosine is scale-invariant, so cos(mean_a, mean_b) =
    * cos(sum_a, sum_b) — the division by group size cancels and is never
    * computed. Per-dimension sums are exact integer micro-units (each
    * element decimal-cast then scaled — order-independent), dot/norm
    * products ride decimal(38,0) (magnitudes ≤ 1e24 at web scale — 14
    * digits of headroom), and doubles enter only at the final
    * division/sqrt/round — the q_stats_agg portability argument.
    *
    * Shape: one posexplode + (group, dim) hash aggregate per side
    * (map-side combined; dims ≤ a few thousand keys per group), a
    * (group, dim) full-outer merge, then a per-group fold over ≤dims
    * rows. Groups present in only one snapshot report NULL `cos_shift`
    * (no drift defined) with their one-sided count intact. */
  def centroidDrift(a: DataFrame, b: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    def sums(df: DataFrame, s: String, n: String) = df
      .select(col(groupCol).as("_g"),
        posexplode(col(vecCol)).as(Seq("_p", "_v")))
      .groupBy(col("_g"), col("_p"))
      .agg(sum((col("_v").cast("decimal(15,6)") * lit(1000000L))
          .cast("long")).as(s),
        count(lit(1)).as(n))
    val sa = sums(a, "_sa", "_na")
    val sb = sums(b, "_sb", "_nb")
    sa.join(sb, Seq("_g", "_p"), "full_outer")
      .groupBy(col("_g"))
      .agg(
        sum(d(col("_sa")) * d(col("_sb"))).as("_dot"),
        sum(d(col("_sa")) * d(col("_sa"))).as("_aa"),
        sum(d(col("_sb")) * d(col("_sb"))).as("_bb"),
        max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"))
      .select(col("_g").as(groupCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("_aa") > 0 && col("_bb") > 0,
          round(col("_dot").cast("double")
            / sqrt(col("_aa").cast("double") * col("_bb").cast("double")),
            6)).as("cos_shift"))
  }

  /** Exact top-k by cosine for each probe vector: broadcast probes ×
    * corpus, rank filter (→ WindowGroupLimit). Deterministic tie-break on
    * corpus id. Returns (probe_id, rank, vec_id, cos). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    broadcastTopK(corpus, probes, k, idCol, vecCol, None)

  /** Shared broadcast-probes × streamed-corpus top-k core: norms computed
    * ONCE per side before the join, self-matches excluded, optional
    * pre-rank cos filter (so the WindowGroupLimit heaps only see rows
    * that can appear in the result), rank by (cos desc, id asc). */
  private def broadcastTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String, vecCol: String,
      band: Option[Column => Column]): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val scored = c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        dot(col("probe_vec"), col("vec")) / (col("probe_norm") * col("vec_norm")))
    band.fold(scored)(f => scored.filter(f(col("cos"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity pass between retrieval and consumption:
    * from each probe's `poolSize` cosine candidates, greedily pick `k`
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — high relevance
    * that is NOT redundant with what's already selected (RAG context
    * assembly, dedup of near-identical retrieved chunks, diverse
    * few-shot example selection).
    *
    * Exactness: candidate relevances and pairwise sims are the SAME
    * double cosine chain the top-k family already replays bit-exactly
    * in DuckDB, floored to micros at the boundary — from there the
    * greedy is PURE INTEGER arithmetic (`score_x1e12 = λ_x1e6·rel_x1e6
    * − (10⁶−λ_x1e6)·maxsim_x1e6`; step 1 has no redundancy term), ties
    * by smallest id, so selection order is engine-replayable exactly
    * (the oracle carries the selected set through a recursive CTE).
    *
    * Scale: the pool rides [[bruteForceTopK]] (broadcast probes,
    * streamed corpus, WindowGroupLimit); the greedy then works on
    * per-probe groups of ≤ `poolSize` rows — O(k·poolSize·dim) per
    * probe, embarrassingly parallel across probes, group state bounded
    * by config (never data-sized). The per-group loop is a typed
    * `flatMapGroups` — the documented justified-imperative exception:
    * greedy selection is inherently sequential in `k`, and `k·poolSize`
    * is a constant.
    *
    * Returns (`probe_id`, `mmr_rank`, `vec_id`, `rel_x1e6`,
    * `score_x1e12`), `mmr_rank` 1..k in selection order. */
  def mmrRerank(corpus: DataFrame, probes: DataFrame, k: Int,
      poolSize: Int, lambdaX1e6: Long, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need 1 <= k <= poolSize, got k=$k poolSize=$poolSize")
    require(lambdaX1e6 >= 0L && lambdaX1e6 <= 1000000L,
      s"lambdaX1e6 must be in [0, 1000000], got $lambdaX1e6")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pool = bruteForceTopK(corpus, probes, poolSize, idCol, vecCol)
    val emb = corpus.select(col(s"`$idCol`").cast("long").as("vec_id"),
      col(s"`$vecCol`").as("_v"))
    val grouped = pool
      .select(col("probe_id").cast("long"), col("vec_id"), col("cos"))
      .join(emb, Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        floor(col("cos") * lit(1000000.0)).cast("long").as("_rel"),
        col("_v"))
      .groupBy(col("probe_id"))
      .agg(collect_list(struct(col("vec_id"), col("_rel"), col("_v")))
        .as("_items"))
      .as[(Long, Seq[(Long, Long, Seq[Float])])]
    grouped.flatMap { case (pid, itemSeq) =>
      val items = itemSeq.toArray
      val n = items.length
      val ids = items.map(_._1)
      val rels = items.map(_._2)
      val vecs = items.map(_._3.toArray)
      // the SAME IEEE chain as the oracle's list_dot_product form:
      // ascending-index double accumulation, d / (sqrt(na)·sqrt(nb)),
      // floored to micros
      def simX1e6(i: Int, j: Int): Long = {
        val a = vecs(i); val b = vecs(j)
        var d = 0.0; var na = 0.0; var nb = 0.0
        var t = 0
        while (t < a.length) {
          val x = a(t).toDouble; val y = b(t).toDouble
          d += x * y; na += x * x; nb += y * y
          t += 1
        }
        math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1000000.0)
          .toLong
      }
      val taken = new Array[Boolean](n)
      val maxSim = new Array[Long](n)
      val out = Array.newBuilder[(Long, Int, Long, Long, Long)]
      var step = 1
      var selectedCount = 0
      while (step <= k && selectedCount < n) {
        var best = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val redundancy =
              if (selectedCount == 0) 0L else maxSim(i)
            val score = lambdaX1e6 * rels(i) -
              (1000000L - lambdaX1e6) * redundancy
            if (score > bestScore ||
                (score == bestScore && (best < 0 || ids(i) < ids(best))))
              { best = i; bestScore = score }
          }
          i += 1
        }
        taken(best) = true
        selectedCount += 1
        out += ((pid, step, ids(best), rels(best), bestScore))
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            val s = simX1e6(j, best)
            if (selectedCount == 1 || s > maxSim(j)) maxSim(j) = s
          }
          j += 1
        }
        step += 1
      }
      out.result().toSeq
    }.toDF("probe_id", "mmr_rank", "vec_id", "rel_x1e6", "score_x1e12")
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-`k` corpus vectors whose cosine lies in `[cosLo, cosHi)` —
    * similar enough to be informative negatives, below the near-duplicate
    * band that would make them FALSE negatives (the reason the band's
    * upper bound matters as much as the lower). Exact form: broadcast
    * anchors × streamed corpus with the band as a pre-rank filter, so the
    * WindowGroupLimit heaps only ever see in-band candidates. Returns
    * (anchor_id-as-probe_id, rank, vec_id, cos), rank by (cos desc, id
    * asc) within the band. At 100 TB swap the corpus side for an
    * [[ivfTopKIndexed]]/[[lshTopKIndexed]] candidate set and apply the
    * same band filter — the contract (band then rank) is identical. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      cosLo: Double, cosHi: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(cosLo < cosHi, s"need cosLo < cosHi, got [$cosLo, $cosHi)")
    broadcastTopK(corpus, anchors, k, idCol, vecCol,
      Some(cos => cos >= cosLo && cos < cosHi))
  }

  /** Sign-random-projection bucket id: bit p = sign of ⟨v, h_p⟩, with
    * deterministic pseudo-random ±1 hyperplanes — data-independent,
    * reproducible, shipped as a codegen'd expression rather than a model
    * artifact ([[graft.functions.VectorExpressions.LshBuckets]]). */
  def lshBucket(vec: Column, planes: Int): Column =
    element_at(VectorExpressions.lshBuckets(vec, planes, 1), 1)

  /** Corpus bucketing pass — at scale this is written once
    * (partitioned/bucketed by `bucket`) and reused across query batches. */
  def lshAssign(corpus: DataFrame, planes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      lshBucket(col(vecCol), planes).as("bucket"))

  /** ANN top-k: probes join the corpus on (table, bucket) equality instead
    * of the cross product; candidates are the union over `tables` hash
    * tables, scored exactly, ranked per probe. Tune recall with
    * planes (bucket granularity) × tables (amplification) ×
    * `probesPerTable` multi-probe; cost is the candidate count, never
    * |corpus|×|probes|.
    *
    * Multi-probe (`probesPerTable` > 1) additionally searches, per table,
    * the buckets reached by flipping the probe vector's lowest-margin
    * sign bits — the buckets a near-boundary vector most likely fell
    * into. At 100 TB this is the cheap recall lever: extra TABLES
    * replicate the corpus index (L× storage and bucketing shuffle); extra
    * PROBES only fan out the tiny probe side of the equi-join. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int, planes: Int = 4,
      tables: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", probesPerTable: Int = 1): DataFrame = {
    // Bucket join + candidate dedup carry ONLY ids: with L tables a
    // colliding pair appears up to L times, and shipping the vectors
    // through that join (then distinct-ing on array columns) multiplies
    // shuffle bytes by L x vector-width. Ids dedup first (two longs per
    // row), then the vectors join back exactly once per side.
    val cB = corpus.select(col(idCol).as("vec_id"),
      posexplode(VectorExpressions.lshBuckets(col(vecCol), planes, tables))
        .as(Seq("tbl", "bucket")))
    val pB = probes.select(col(idCol).as("probe_id"),
      posexplode(VectorExpressions.lshBucketsMultiProbe(col(vecCol),
        planes, tables, probesPerTable)).as(Seq("_pidx", "bucket")))
      .withColumn("tbl", expr(s"_pidx DIV $probesPerTable").cast("int"))
      .drop("_pidx")
    val candIds = cB.join(pB, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id")).distinct()
    val cVec = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm"))
    val pVec = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candIds
      .join(cVec, Seq("vec_id"))
      .join(broadcast(pVec), Seq("probe_id")) // probe set is small by contract
      .withColumn("cos",
        dot(col("probe_vec"), col("vec")) /
          (col("probe_norm") * col("vec_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** BUILD the multi-table LSH index as a persisted layout — the
    * "bucketing pass written once and reused across query batches" form
    * [[lshAssign]]'s doc describes: `<path>/buckets` holds ID-ONLY rows
    * partitioned by (tbl, bucket) — the wide structure stays two longs
    * per (vector, table) — and `<path>/vectors` holds one
    * (vec_id, vec, vec_norm) row per vector for candidate rescoring
    * (norms persisted). */
  def lshBuildIndex(corpus: DataFrame, path: String, planes: Int = 4,
      tables: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    lshWriteIndex(corpus, path, planes, tables, idCol, vecCol,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Incrementally ADD vectors to a persisted [[lshBuildIndex]] layout:
    * bucket assignment is a PURE function of the vector under the
    * build's seeded hyperplanes, so appended vectors land in exactly the
    * buckets a rebuild would put them in — no drift, no rebuild cycle
    * (the advantage LSH holds over IVF for streaming corpora).
    * `planes`/`tables` must match the build (same contract as the query
    * path). One pass over the new batch; append-only; NOT idempotent
    * (exactly-once belongs to the ingest layer). */
  def lshAppendIndex(newVectors: DataFrame, path: String, planes: Int = 4,
      tables: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    lshWriteIndex(newVectors, path, planes, tables, idCol, vecCol,
      org.apache.spark.sql.SaveMode.Append)

  /** ONE owner of the bucket/vector layout — build overwrites, append
    * appends; a layout change cannot drift between the two (the
    * ivfEncodePayload discipline). */
  private def lshWriteIndex(vectors: DataFrame, path: String, planes: Int,
      tables: Int, idCol: String, vecCol: String,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    val c = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm")).localCheckpoint(false)
    c.select(col("vec_id"),
        posexplode(VectorExpressions.lshBuckets(col("vec"), planes, tables))
          .as(Seq("tbl", "bucket")))
      .write.mode(mode).partitionBy("tbl", "bucket")
      .parquet(s"$path/buckets")
    c.write.mode(mode).parquet(s"$path/vectors")
  }

  /** Query a persisted [[lshBuildIndex]] layout (planes/tables must match
    * the build). The probe batch's (tbl, bucket) targets — incl.
    * multi-probe neighbors — collect to the driver (≤ |probes| × tables ×
    * probesPerTable pairs; probes are small by the ANN-query contract)
    * and become a partition-pruning predicate, so only the probed bucket
    * directories are listed and read; the vector table joins back only
    * for deduped candidates ([[lshTopK]]'s id-only discipline). */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, k: Int, planes: Int = 4, tables: Int = 16,
      probesPerTable: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pB = probes.select(col(idCol).as("probe_id"),
        posexplode(VectorExpressions.lshBucketsMultiProbe(col(vecCol),
          planes, tables, probesPerTable)).as(Seq("_pidx", "bucket")))
      .withColumn("tbl", expr(s"_pidx DIV $probesPerTable").cast("int"))
      .drop("_pidx")
      .localCheckpoint(false) // feeds the pruning collect AND the join
    val targets = pB.select(col("tbl"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    require(targets.nonEmpty, "probe set produced no bucket targets")
    // prune with tbl IN (...) AND bucket IN (...) — a SUPERSET of the
    // exact (tbl, bucket) targets (the equi-join below matches exactly;
    // the prune is IO-only, so a superset is safe). An OR-chain of
    // per-pair conjunctions would nest one Catalyst node per target and
    // blow the analyzer stack at a few thousand probes × tables.
    val prune = col("tbl").isin(targets.map(_._1).distinct.toSeq: _*) &&
      col("bucket").isin(targets.map(_._2).distinct.toSeq: _*)
    val cB = spark.read.parquet(s"$path/buckets").filter(prune)
      // partition-directory values infer narrow; normalize after pruning
      .select(col("vec_id"), col("tbl").cast("int").as("tbl"),
        col("bucket").cast("long").as("bucket"))
    val candIds = cB.join(pB, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id")).distinct()
    val cVec = spark.read.parquet(s"$path/vectors")
    val pVec = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candIds
      .join(cVec, Seq("vec_id"))
      // dedup AFTER the join (candidate-sized, never the full vector
      // table): an at-least-once append ([[lshAppendIndex]] under a
      // replayed streaming batch) can store an id twice; without this
      // the duplicate would rank twice. Duplicate rows are identical, so
      // keeping an arbitrary one is exact.
      .dropDuplicates("probe_id", "vec_id")
      .join(broadcast(pVec), Seq("probe_id"))
      .withColumn("cos",
        dot(col("probe_vec"), col("vec")) /
          (col("probe_norm") * col("vec_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** IVF (inverted-file) ANN — the learned-partition alternative to LSH:
    * a small deterministic centroid seed set (the first nlist vectors by
    * id) refined by `lloydIters` k-means iterations, each corpus vector
    * assigned to its nearest centroid (cell), probes search their
    * `nprobe` nearest cells.
    *
    * Lloyd refinement moves the cells from arbitrary id-seeded Voronoi
    * regions toward actual density clusters, so a probe's nprobe cells
    * capture more of its true neighbors at the SAME nprobe cost — the
    * join shape is unchanged. Each iteration is one assignment pass plus
    * a per-(cell, dim) mean: the explode feeds a partially-aggregated
    * avg, so each map partition forwards at most nlist × dim rows — the
    * exchange never scales with the corpus. Cells that win no vectors
    * drop out (standard Lloyd-with-empty-cell-drop; nlist is an upper
    * bound). Refinement is a BUILD step: at 100 TB it runs once when the
    * index is (re)built, not per query batch.
    *
    * Scale: centroid table is tiny → broadcast; assignment is a narrow
    * |corpus|×nlist codegen'd-dot pass written once and reused across
    * query batches (at 100 TB: store `cell` as a partition column so a
    * probe touches only nprobe/nlist of the data). Search is an equi-join
    * on `cell` — candidates ≈ |corpus|·nprobe/nlist, never the full cross
    * product. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", lloydIters: Int = 1): DataFrame = {
    // norms hoisted into the side projections (the bruteForceTopK
    // discipline): an inline norm() would re-evaluate per (row × centroid)
    // pair in assignment and per candidate in scoring — >nlist redundant
    // full-vector passes per corpus row. With Lloyd refinement the corpus
    // projection feeds one extra assignment pass per iteration, so it
    // materializes once (lazy localCheckpoint, the DedupOps discipline)
    // instead of re-running the scan+norm pipeline per pass.
    val c0 = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm"))
    val c = if (lloydIters > 0) c0.localCheckpoint(false) else c0
    val cents = ivfCentroids(c, nlist, lloydIters)
    val cAssigned = ivfAssign(cents)(c, "vec_id", "vec", "vec_norm", 1)
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
    ivfScore(cAssigned, p, cents, k, nprobe)
  }

  /** Deterministic IVF centroids: first-nlist-ids seed (the
    * TakeOrderedAndProject — ids carry no structure in embedding space, so
    * this stands in for uniform sampling) refined by `lloydIters` k-means
    * iterations. Each iteration: assignment pass + per-(cell, dim) mean
    * (posexplode + avg partial-aggregates map-side to ≤ nlist × dim rows
    * per partition — the exchange never scales with the corpus). */
  private[graft] def ivfCentroids(c: DataFrame, nlist: Int,
      lloydIters: Int): DataFrame = {
    val seeds = c.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("vec").as("cent_vec"),
        col("vec_norm").as("cent_norm"))
    (1 to lloydIters).foldLeft(seeds) { (cur, _) =>
      ivfAssign(cur)(c, "vec_id", "vec", "vec_norm", 1)
        .select(col("cell"), posexplode(col("vec")).as(Seq("_pos", "_x")))
        .groupBy(col("cell"), col("_pos"))
        .agg(avg(col("_x")).as("_mx"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("_pos"), col("_mx")))),
          s => s.getField("_mx")).cast("array<float>").as("cent_vec"))
        .select(col("cell").as("cent_id"), col("cent_vec"),
          norm(col("cent_vec")).as("cent_norm"))
    }
  }

  /** Nearest-`top` centroid assignment (argmax cosine, ties → cent_id
    * asc); centroids broadcast, one narrow pass over `df`. */
  private[graft] def ivfAssign(cents: DataFrame)(df: DataFrame, idC: String,
      vecC: String, normC: String, top: Int): DataFrame = {
    val w = Window.partitionBy(col(idC))
      .orderBy(col("_sim").desc, col("cent_id").asc)
    df.crossJoin(broadcast(cents))
      .withColumn("_sim",
        dot(col(vecC), col("cent_vec")) / (col(normC) * col("cent_norm")))
      .withColumn("_crn", row_number().over(w))
      .filter(col("_crn") <= top)
      .select(col(idC), col(vecC), col(normC), col("cent_id").as("cell"))
  }

  /** The shared IVF search tail: probes assign to their nprobe cells,
    * candidates join on `cell`, exact rescoring, per-probe rank. */
  private def ivfScore(cAssigned: DataFrame, p: DataFrame,
      cents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val pAssigned = ivfAssign(cents)(p, "probe_id", "probe_vec",
      "probe_norm", nprobe)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cAssigned.join(pAssigned, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        dot(col("probe_vec"), col("vec")) /
          (col("probe_norm") * col("vec_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** ONE owner of the coarse-cell index layout (`<path>/centroids` +
    * `<path>/index/cell=<id>/...`) shared by the flat, SQ8, and PQ index
    * builders — `payload` maps the assigned `(vec_id, vec, vec_norm,
    * cell)` rows to whatever the codec stores per vector (`cell` must
    * survive). The checkpoint discipline (corpus projection feeds Lloyd
    * passes AND the final assignment; centroids written once and reused)
    * lives here so the three codecs cannot drift. */
  private[similarity] def ivfWriteIndex(corpus: DataFrame, path: String,
      nlist: Int, lloydIters: Int, idCol: String, vecCol: String)(
      payload: DataFrame => DataFrame): Unit = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm"))
      .localCheckpoint(false)
    val cents = ivfCentroids(c, nlist, lloydIters)
      .localCheckpoint(false)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    payload(ivfAssign(cents)(c, "vec_id", "vec", "vec_norm", 1))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/index")
  }

  /** ONE owner of the query-side cell pruning contract: assign the
    * (already-projected, checkpointed) probe batch to its nprobe cells,
    * collect the candidate cells (≤ nprobe × |probes| — probes are small
    * by the ANN-query contract) into an `IN` filter on the PARTITION
    * column so the scan lists only those directories, and normalize the
    * partition value back to the centroid id type AFTER the pruning
    * filter (partition-directory values infer as int when they fit).
    * Returns (probe assignment, pruned index scan). */
  private[similarity] def ivfProbeScaffold(
      spark: org.apache.spark.sql.SparkSession, path: String,
      pFloat: DataFrame, nprobe: Int): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$path/centroids")
    val pAssigned = ivfAssign(cents)(pFloat, "probe_id", "probe_vec",
      "probe_norm", nprobe)
    val probeCells = pAssigned.select(col("cell")).distinct()
      .collect().map(_.get(0))
    val idx = spark.read.parquet(s"$path/index")
      .filter(col("cell").isin(probeCells.toSeq: _*))
      .withColumn("cell", col("cell").cast("long"))
    (pAssigned, idx)
  }

  /** BUILD the IVF index as a persisted, cell-partitioned parquet layout —
    * the 100 TB posture [[ivfTopK]]'s doc promises: at scale the
    * assignment pass runs ONCE when the index is (re)built, and each
    * query batch reads only its nprobe/nlist slice of the corpus via
    * parquet PARTITION PRUNING (cell is a directory partition column, so
    * pruning happens at file-listing time — no data files outside the
    * probed cells are even opened).
    *
    * Layout: `<path>/index/cell=<id>/...` (float form: vec_id, vec,
    * vec_norm — norms persisted so queries never recompute them;
    * quantized form: vec_id, codes, code_norm) and `<path>/centroids`
    * (nlist rows). */
  def ivfBuildIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 1, quantized: Boolean = false): Unit =
    // quantized = the IVF-SQ8 layout: int8 codes instead of float vectors
    // (4× smaller on disk AND in page cache — at 100 TB the probed cells'
    // residency is the query-latency budget), scored in the int8 domain
    // where the per-vector scales cancel out of cosine.
    ivfWriteIndex(corpus, path, nlist, lloydIters, idCol, vecCol)(
      ivfEncodePayload(_, quantized))

  /** Shared flat/SQ8 per-vector payload encoding — the one place the
    * build and APPEND paths agree on what a cell directory stores. */
  private def ivfEncodePayload(assigned: DataFrame,
      quantized: Boolean): DataFrame =
    if (quantized)
      assigned.select(col("vec_id"),
          VectorExpressions.sq8Encode(col("vec")).as("codes"),
          col("cell"))
        .withColumn("code_norm",
          sqrt(VectorExpressions.int8Dot(col("codes"), col("codes"))
            .cast("double")))
    else assigned

  /** Incrementally ADD vectors to a persisted [[ivfBuildIndex]] layout
    * without rebuilding: assign the new batch against the index's OWN
    * persisted centroids (the cell geometry is frozen between rebuilds —
    * the FAISS `add` contract) and append the encoded rows into their
    * cell directories. The query path is untouched: partition pruning,
    * scoring, and recall behavior apply to appended vectors exactly as to
    * built ones (spec-asserted).
    *
    * Scale: one broadcast-assign pass over ONLY the new batch + a
    * partitioned parquet append — never a corpus rescan. Centroid drift:
    * appends don't move centroids; after heavy growth, rebuild (the
    * standard IVF maintenance cycle). NOT idempotent — replaying a batch
    * duplicates its ids; exactly-once belongs to the ingest layer (the
    * pipeline's checkpointed streams), same as any parquet append sink. */
  def ivfAppendIndex(spark: org.apache.spark.sql.SparkSession,
      newVectors: DataFrame, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding", quantized: Boolean = false): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    val c = newVectors.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm"))
    ivfEncodePayload(ivfAssign(cents)(c, "vec_id", "vec", "vec_norm", 1),
        quantized)
      .write.mode("append").partitionBy("cell").parquet(s"$path/index")
  }

  /** Query a persisted [[ivfBuildIndex]] layout. The probe batch's
    * candidate cells collect to the driver (≤ nprobe × |probes| longs —
    * probes are small by the ANN-query contract) and become an `IN`
    * filter on the PARTITION column, so the scan lists and reads only
    * those cell directories (PartitionFilters in the plan;
    * PlanSpec-asserted). Centroids and probe assignment are tiny. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantized: Boolean = false): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
      .localCheckpoint(false) // assignment runs twice: cells + scoring
    val (pAssigned, idx) = ivfProbeScaffold(spark, path, p, nprobe)
    if (quantized) {
      // probe assignment stays float (centroids are float either way);
      // candidate scoring runs in the int8 domain against the stored
      // codes. Candidates join the THIN (cell, probe_id) assignment
      // first; the probe codes broadcast once per probe, not per
      // (probe, cell) (the ivfPqTopKIndexed review lesson).
      val pCodes = p.select(col("probe_id"),
          VectorExpressions.sq8Encode(col("probe_vec")).as("probe_codes"))
        .withColumn("probe_qnorm",
          sqrt(VectorExpressions
            .int8Dot(col("probe_codes"), col("probe_codes"))
            .cast("double")))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("qcos").desc, col("vec_id").asc)
      idx.join(pAssigned.select(col("cell"), col("probe_id")), Seq("cell"))
        .join(broadcast(pCodes), Seq("probe_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        // zero-norm guard: same contract as sq8TopK
        .withColumn("qcos",
          when(col("probe_qnorm") * col("code_norm") > 0,
            VectorExpressions.int8Dot(col("probe_codes"), col("codes"))
              .cast("double") / (col("probe_qnorm") * col("code_norm")))
            .otherwise(lit(0.0d)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("rank"), col("vec_id"), col("qcos"))
    } else {
      val cents = spark.read.parquet(s"$path/centroids")
      ivfScore(idx.select(col("vec_id"), col("vec"), col("vec_norm"),
        col("cell")), p, cents, k, nprobe)
    }
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold), EXACT, as a
    * block-partitioned all-pairs join (the distributed-matrix-product
    * blocking of DIMSUM / MLlib `columnSimilarities`, kept exact).
    *
    * Why not LSH here: at a moderate threshold on dense near-orthogonal
    * embeddings the per-bit sign-LSH collision contrast is tiny (cos 0.4 →
    * p = 0.63 per bit vs 0.5 for random pairs), so NO (planes, tables)
    * choice is simultaneously near-lossless and sub-quadratic — the exact
    * pair set is intrinsically Ω(n²) compares. The scalable form therefore
    * distributes the compare evenly instead of pruning it:
    *
    *  - ids hash into `blocks` balanced blocks; side A replicates each row
    *    to block-pairs (bi, bi..B-1), side B to (0..bj, bj) — every
    *    unordered block pair (i ≤ j) meets in exactly one equi-join key;
    *  - shuffle is O(n·B/2) rows per side (NOT n²) over B(B+1)/2 evenly
    *    sized composite keys, so the n²/2 dot products spread across the
    *    cluster with no CartesianProduct and no single giant task;
    *  - pairs inside one block dedup via id order; cross-block pairs occur
    *    exactly once and are id-normalized with least/greatest.
    *
    * Pick `blocks` ≈ √(2 × target parallelism): tasks-per-stage grows as
    * B²/2 while replication grows only as B/2. For true near-dup
    * thresholds (cos ≳ 0.9) prefer [[cosineNearDupPairsLsh]], which prunes
    * the pair space instead of spreading it. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blocks: Int = 16): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
        norm(col(vecCol)).as("norm_a"),
        pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("bi"))
      .withColumn("bj", explode(sequence(col("bi"), lit(blocks - 1))))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
        norm(col(vecCol)).as("norm_b"),
        pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("bj"))
      .withColumn("bi", explode(sequence(lit(0), col("bj"))))
    a.join(b, Seq("bi", "bj"))
      // same-block pairs appear in both orders → keep one; cross-block
      // pairs appear exactly once (possibly id-reversed) → keep all
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      // dot/norm-product are index-ordered + commutative per element, so
      // cos is bit-identical whichever side a vector landed on
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space twin of
    * [[graft.dedup.DedupOps.decontaminate]]'s n-gram containment: drop
    * every corpus vector whose cosine against ANY probe (the embedded
    * eval benchmark) reaches `threshold`. N-gram decontamination
    * catches verbatim leakage; this catches paraphrase/translation
    * leakage the shingle detector can't see — modern pipelines run
    * BOTH before training.
    *
    * Shape: the probe side of a decontamination pass is benchmark-
    * sized by construction, so it BROADCASTS and the corpus makes one
    * narrow pass (per-row work bounded by |probes|) followed by an
    * anti-join on the hit ids — no shuffle of the corpus beyond the
    * anti-join, no all-pairs. For probe sets too big to broadcast,
    * block through [[cosineNearDupPairsLsh]]'s bucketing instead. */
  def semanticDecontaminate(corpus: DataFrame, probes: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val p = broadcast(probes.select(col(vecCol).as("_pv"),
      norm(col(vecCol)).as("_pn")))
    val hits = corpus.select(col(idCol).as("_cid"),
        col(vecCol).as("_cv"), norm(col(vecCol)).as("_cn"))
      .join(p)
      .filter(dot(col("_cv"), col("_pv")) / (col("_cn") * col("_pn"))
        >= threshold)
      .select(col("_cid")).distinct()
    corpus.join(hits, corpus(idCol) === hits("_cid"), "left_anti")
  }

  /** Approximate near-dup pairs via multi-table sign-LSH bucketing — the
    * PRUNING path for high thresholds (cos ≳ 0.9), where bucket collision
    * probability for true pairs is high and for random pairs low. Each
    * candidate is re-scored exactly, so output ⊆ the exact pair set
    * (precision 1; recall = 1 − (1 − p₁^planes)^tables per pair).
    * Candidate generation carries ids only ([[lshTopK]] discipline). */
  def cosineNearDupPairsLsh(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      planes: Int = 8, tables: Int = 8): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"),
      posexplode(VectorExpressions.lshBuckets(col(vecCol), planes, tables))
        .as(Seq("tbl", "bucket")))
    val candIds = bucketed.select(col("id").as("id_a"), col("tbl"), col("bucket"))
      .join(bucketed.select(col("id").as("id_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    candIds
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("nrm").as("norm_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("nrm").as("norm_b")), Seq("id_b"))
      .withColumn("cos",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    * the embedding space, then resolve near-duplicate GROUPS within each
    * cluster — the "remove semantically redundant training data" pass.
    * Clustering bounds the pair search to same-cell pairs (the SemDeDup
    * approximation: cross-cluster near-dups are intentionally out of
    * scope), so pair work is Σ n_c²/2 instead of n²/2.
    *
    * Deterministic throughout: centroids are the first `nlist` vectors by
    * id (the [[ivfTopK]] seed — id order carries no embedding structure,
    * so it stands in for uniform sampling; pass the output of a Lloyd
    * refinement for learned cells), assignment is argmax cosine with
    * id-ascending tie-break, and duplicate groups resolve via
    * [[graft.dedup.ConnectedComponents]] to the component's minimum id —
    * chained near-dups (A–B, B–C) collapse to ONE representative even when
    * A–C never pairs directly.
    *
    * Returns one row per input vector: (id, cell, component) where
    * `component` is the minimum id of its same-cell near-dup group
    * (singletons map to themselves); `id === component` marks the kept
    * representative.
    *
    * Scale: centroids broadcast; assignment is one narrow pass; the pair
    * join keys on (cell, block_i, block_j) — the [[cosineNearDupPairs]]
    * block partitioning APPLIED WITHIN each cell, so a 16-cell corpus
    * spreads its pair work over nlist·B(B+1)/2 balanced keys instead of
    * serializing each cell's n_c²/2 compares onto one task (a bare
    * cell-keyed join is exactly the low-cardinality-shuffle-key trap).
    * Pair compute within a cell is still Θ(n_c²) — that is SemDeDup's
    * own contract (raise nlist for denser corpora); the blocking makes
    * it horizontal, not cheaper. */
  def semDedup(df: DataFrame, threshold: Double, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blocks: Int = 8): DataFrame = {
    // materialize the assignment once (lazy localCheckpoint): the eager
    // ConnectedComponents below executes the pair plan immediately, and
    // the output join re-reads `assigned` — without this the scan +
    // broadcast-crossJoin + window assignment pass runs twice per call
    val assigned = semDedupAssign(df, nlist, idCol, vecCol)
      .localCheckpoint(false)
    val pairs = semDedupPairsOf(assigned, threshold, blocks)
    val comp = graft.dedup.ConnectedComponents(pairs, "id_a", "id_b")
    assigned.join(comp, assigned("vec_id") === comp("id"), "left")
      .select(assigned("vec_id"), col("cell"),
        coalesce(col("component"), assigned("vec_id")).as("component"))
  }

  /** [[semDedup]]'s cell assignment: (vec_id, vec, vec_norm, cell). */
  private[graft] def semDedupAssign(df: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = df.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("vec_norm"))
    val seeds = c.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("vec").as("cent_vec"),
        col("vec_norm").as("cent_norm"))
    val wAsg = Window.partitionBy(col("vec_id"))
      .orderBy(col("_sim").desc, col("cent_id").asc)
    c.crossJoin(broadcast(seeds))
      .withColumn("_sim",
        dot(col("vec"), col("cent_vec")) / (col("vec_norm") * col("cent_norm")))
      .withColumn("_rn", row_number().over(wAsg))
      .filter(col("_rn") === 1)
      .select(col("vec_id"), col("vec"), col("vec_norm"),
        col("cent_id").as("cell"))
  }

  /** [[semDedup]]'s same-cell near-dup pairs, LAZY — exposed for plan
    * inspection: the (cell, bi, bj) join shape is the scale contract
    * (PlanSpec-asserted). */
  private[graft] def semDedupPairsOf(assigned: DataFrame, threshold: Double,
      blocks: Int): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
        col("vec").as("vec_a"), col("vec_norm").as("norm_a"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("bi"))
      .withColumn("bj", explode(sequence(col("bi"), lit(blocks - 1))))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
        col("vec").as("vec_b"), col("vec_norm").as("norm_b"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("bj"))
      .withColumn("bi", explode(sequence(lit(0), col("bj"))))
    a.join(b, Seq("cell", "bi", "bj"))
      // same-block pairs appear in both orders → keep one; cross-block
      // pairs occur exactly once per cell (the cosineNearDupPairs dedup)
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .filter(dot(col("vec_a"), col("vec_b")) /
        (col("norm_a") * col("norm_b")) >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
  }

  // --------------------------------------------------------------------
  // SQ8 scalar quantization — the memory tier under the ANN family
  // --------------------------------------------------------------------

  /** Quantize an embedding column to int8 codes (symmetric per-vector
    * SQ8, [[graft.functions.VectorExpressions.Sq8Encode]]): 4× smaller
    * than float32, which at 100 TB is the difference between an index
    * that fits executor memory/page cache and one that doesn't. Returns
    * (id, codes array<tinyint>, scale double, code_norm double); `scale`
    * (= max|x|/127) reconstructs values (`x_i ≈ scale·code_i`, error ≤
    * scale/2), while cosine ranking needs only codes + code_norm — the
    * per-vector scales cancel. Narrow shuffle-free projection; write the
    * result as the stored index (optionally through [[ivfBuildIndex]]'s
    * cell partitioning) and keep the float vectors out of the hot path. */
  def sq8Quantize(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val codes = VectorExpressions.sq8Encode(col(vecCol))
    df.select(col(idCol).as("vec_id"), codes.as("codes"),
        (VectorExpressions.floatAbsMax(col(vecCol)) / lit(127.0d))
          .as("scale"))
      .withColumn("code_norm",
        sqrt(VectorExpressions.int8Dot(col("codes"), col("codes"))
          .cast("double")))
  }

  /** Approximate top-k by QUANTIZED cosine: [[bruteForceTopK]]'s exact
    * join/rank shape (broadcast probes × streamed corpus, rank-k →
    * WindowGroupLimit) with int8 codes in place of float vectors — the
    * memory-bandwidth form of exhaustive search. Score =
    * ⟨codes_p, codes_c⟩ / (|codes_p|·|codes_c|); per-vector scales
    * cancel, so this IS cosine up to quantization error (recall-spec'd
    * against the float form). Integer dot + integer-valued norms ⇒
    * deterministic across engines. */
  def sq8TopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = sq8Quantize(probes, idCol, vecCol)
      .select(col("vec_id").as("probe_id"), col("codes").as("probe_codes"),
        col("code_norm").as("probe_norm"))
    val c = sq8Quantize(corpus, idCol, vecCol)
      .select(col("vec_id"), col("codes"), col("code_norm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
    c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      // the all-zero vector is a VALID SQ8 input (encodes to all zeros)
      // but has code_norm 0 — score it 0, don't divide (Spark NULL vs
      // DuckDB inf/NaN would diverge on the zero-norm rows)
      .withColumn("qcos",
        when(col("probe_norm") * col("code_norm") > 0,
          VectorExpressions.int8Dot(col("probe_codes"), col("codes"))
            .cast("double") / (col("probe_norm") * col("code_norm")))
          .otherwise(lit(0.0d)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("qcos"))
  }

  /** Naive all-pairs cross-join form — TEST GROUND TRUTH ONLY (O(n²)
    * unpartitioned; specs assert [[cosineNearDupPairs]] equals this and
    * [[cosineNearDupPairsLsh]] is a subset). Never declare at scale. */
  private[graft] def cosineNearDupPairsNaive(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      norm(col(vecCol)).as("norm_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      norm(col(vecCol)).as("norm_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
