package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.DedupOps
import graft.ops.AsOfJoin
import graft.similarity.{Clustering, SimilarityOps}
import graft.text.TextOps

/** Specs for the [EXT] LLM-data operators that have no DuckDB oracle
  * (hash-seeded MinHash/SimHash/LSH) plus edge cases of the text ops and
  * the as-of join. Ground truth is computed exactly (brute force) on
  * synthetic or sf0.001 data.
  */
class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- text ops -------------------------------------------------------------

  test("normalize: lowercases, strips punctuation, collapses whitespace") {
    val out = Seq("  Hello,   WORLD!! it's 42 ").toDF("text")
      .select(TextOps.normalize($"text")).as[String].head()
    assert(out == "hello world it s 42")
  }

  test("adjacentTokenPairs: filter-then-window adjacency, self-pair " +
      "drop, short-stream empty") {
    def pairs(s: String) = Seq(s).toDF("text")
      .select(TextOps.adjacentTokenPairs($"text", minLen = 4).as("p"))
      .selectExpr("transform(p, x -> x.src || '>' || x.dst) AS q")
      .as[Seq[String]].head()
    // short tokens drop BEFORE windowing: "of" vanishes, making
    // alpha–beta adjacent; punctuation normalizes away
    assert(pairs("Alpha of BETA, then gamma!") ==
      Seq("alpha>beta", "beta>then", "then>gamma"))
    // an immediate repetition is a self-pair — removed, but the
    // repeated token still links both neighbours
    assert(pairs("alpha beta beta gamma") ==
      Seq("alpha>beta", "beta>gamma"))
    // fewer than 2 surviving tokens: no window, empty array
    assert(pairs("a of x hi") == Seq.empty)
    assert(pairs("alpha") == Seq.empty)
    assert(pairs("") == Seq.empty)
  }

  test("htmlExtract: strips script/style bodies, comments, tags; decodes " +
    "entities once; collapses whitespace") {
    val html = "<html><body><SCRIPT>if (a<b) { x(); }</script>" +
      "<style media=\"all\">p { color: red }</style><!-- note -->" +
      "<p>Hello &amp; <b>world</b></p>&lt;i&gt;&nbsp;&#39;hi&#39; " +
      "&quot;q&quot;</body></html>"
    val out = Seq(html).toDF("h")
      .select(TextOps.htmlExtract($"h")).as[String].head()
    // script/style CONTENTS gone (incl. the inner '<'), tags -> spaces,
    // entities decoded, whitespace collapsed + trimmed
    assert(out == "Hello & world <i> 'hi' \"q\"")
    // single-pass decode: double-escaped stays escaped-once (&amp; last)
    val twice = Seq("<p>&amp;lt;tag&amp;gt;</p>").toDF("h")
      .select(TextOps.htmlExtract($"h")).as[String].head()
    assert(twice == "&lt;tag&gt;")
    // plain text passes through untouched
    val plain = Seq("no markup here").toDF("h")
      .select(TextOps.htmlExtract($"h")).as[String].head()
    assert(plain == "no markup here")
  }

  test("fingerprint: equal after formatting noise, different for real edits") {
    val df = Seq(
      (1L, "The quick brown fox."),
      (2L, "the QUICK  brown fox!!"), // same normalized form
      (3L, "the slow brown fox.")
    ).toDF("id", "text").select($"id", TextOps.fingerprint($"text").as("fp"))
    val fps = df.as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("languageId: marker argmax with deterministic tie-break and und") {
    val df = Seq(
      ("the cat is of the house and it", "en"),
      ("der hund ist nicht das problem und", "de"),
      ("el perro es que un gato y la", "es"),
      ("qqq zzz xxx", "und")
    ).toDF("text", "expected")
      .withColumn("guess", TextOps.languageId($"text"))
    assert(df.filter($"guess" =!= $"expected").count() == 0)
  }

  test("qualityScore: clean prose beats keyword spam") {
    val scores = Seq(
      ("good", "This is a clean sentence with the usual structure of prose and it has enough length to pass."),
      ("spam", "buy gold buy gold buy gold $$$$ !!!! #### @@@@ %%%% ^^^^ &&&& **** (((( ))))")
    ).toDF("kind", "text")
      .select($"kind", TextOps.qualityScore($"text").as("q"))
      .as[(String, Double)].collect().toMap
    assert(scores("good") > scores("spam"))
  }

  test("winnowFingerprint: invariant to case/punct noise, shared grams overlap") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The QUICK brown fox jumps over the lazy dog!!"),
      (3L, "completely different words entirely unrelated content here")
    ).toDF("id", "text")
      .select($"id", TextOps.winnowFingerprint($"text").as("fp"))
    val fps = df.as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L) == fps(2L)) // identical normalized text => identical print
    assert(fps(1L).intersect(fps(3L)).size < fps(1L).size / 2)
  }

  // ---- dedup family ---------------------------------------------------------

  private lazy val docs001 =
    analytics.Tables(spark, "/root/testdata/sf0.001", "documents")

  test("chunkTokens: coverage, overlap, short-doc and boundary cases") {
    def chunks(text: String, size: Int, stride: Int): Seq[String] =
      Seq(Tuple1(text)).toDF("t")
        .select(TextOps.chunkTokens(col("t"), size, stride))
        .as[Seq[String]].head()
    // short doc -> exactly one chunk, the whole text
    assert(chunks("a b c", 32, 24) == Seq("a b c"))
    // exact boundary: n == size -> one chunk
    assert(chunks((1 to 4).map("w" + _).mkString(" "), 4, 3)
      == Seq("w1 w2 w3 w4"))
    // overlap: stride 2, size 3 over 5 tokens -> [1..3], [3..5]
    assert(chunks("t1 t2 t3 t4 t5", 3, 2) == Seq("t1 t2 t3", "t3 t4 t5"))
    // every token appears in at least one chunk
    val toks = (1 to 100).map("x" + _)
    val all = chunks(toks.mkString(" "), 32, 24).flatMap(_.split(" ")).toSet
    assert(toks.toSet.subsetOf(all))
  }

  test("exactDedup: idempotent and keeps min id per duplicate group") {
    val df = Seq(
      (5L, "Alpha beta gamma."), (2L, "alpha BETA gamma"), // same normalized
      (9L, "something else")).toDF("doc_id", "text")
    val out = DedupOps.exactDedup(df, "text", "doc_id")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 9L))
    val again = DedupOps.exactDedup(out, "text", "doc_id")
    assert(again.count() == out.count()) // idempotence
  }

  test("minhashLsh recall: finds every exact-Jaccard pair >= 0.5 on testdata") {
    val exact = DedupOps.jaccardPairs(docs001, "doc_id", "text",
      n = 3, threshold = 0.5, maxPrefixFreq = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLsh(docs001, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact,
      s"LSH missed ${(exact -- lsh).size}, extra ${(lsh -- exact).size}")
  }

  test("substringDedup: repeated 8-token span keeps first occurrence only; " +
      "short docs pass through; fully-covered docs empty out") {
    val span = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"), // first occurrence -> intact
      (2L, s"prefix words here $span suffix tail"), // span excised
      (3L, s"$span $span"), // both copies are repeats -> fully covered
      (4L, "tiny doc"), // < k tokens: untouched by construction
      (5L, span) // exactly the span, repeat -> empty
    ).toDF("doc_id", "text")
    val out = graft.dedup.DedupOps.substringDedup(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L,
      s"alpha beta $span gamma delta", 12L, 0L)))
    assert(out(1) == ((2L, "prefix words here suffix tail", 13L, 8L)))
    assert(out(2) == ((3L, "", 16L, 16L)))
    assert(out(3) == ((4L, "tiny doc", 2L, 0L)))
    assert(out(4) == ((5L, "", 8L, 8L)))
  }

  test("substringDedup: on testdata no duplicated 8-gram survives and " +
      "token counts are conserved") {
    def grams(c: org.apache.spark.sql.Column) = {
      val toks = split(trim(c), "\\s+")
      when(size(toks) >= 8, transform(sequence(lit(1), size(toks) - 7),
        i => md5(concat_ws(" ", slice(toks, i, lit(8))))))
        .otherwise(array().cast("array<string>"))
    }
    val docs = analytics.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.dedup.DedupOps
      .substringDedup(docs, "doc_id", "text", k = 8)
      .localCheckpoint()
    assert(out.count() == docs.count(), "one output row per input row")
    // conservation: kept tokens + dropped tokens == original tokens
    val keptToks = when(col("dedup_text") === "", lit(0))
      .otherwise(size(split(col("dedup_text"), " ")))
    assert(out.filter(keptToks =!= col("n_tokens") - col("n_dropped"))
      .count() == 0)
    assert(out.agg(sum("n_dropped")).as[Long].head() > 0,
      "testdata's planted near-dups must trip span removal")
    // the core guarantee: every 8-gram duplicated in the INPUT corpus
    // occurs at most once in the OUTPUT corpus (the kept first occurrence)
    val dupIn = docs.select(explode(grams(col("text"))).as("g"))
      .groupBy("g").count().filter(col("count") > 1).select("g")
    val outCnt = out.filter(col("dedup_text") =!= "")
      .select(explode(grams(col("dedup_text"))).as("g"))
      .groupBy("g").count()
    assert(outCnt.join(dupIn, "g").filter(col("count") > 1).count() == 0,
      "a duplicated span survived more than once")
  }

  test("stratifiedWeighted: exact per-source quotas at each source's own " +
      "fraction; default applies to unlisted sources") {
    val docs = analytics.Tables(spark, "/root/testdata/sf0.01", "documents")
    val fr = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1)
    val out = graft.ops.Sampling.stratifiedWeighted(
      docs, "source", "doc_id", fr, defaultFraction = 0.2)
    val got = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val n = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    n.keys.foreach { src =>
      val f = fr.getOrElse(src, 0.2)
      val want = math.floor(f * (n(src) - 1)).toLong + 1
      assert(got.getOrElse(src, 0L) == want, s"$src: ${got.get(src)} != $want")
    }
    // determinism: same call, same rows
    val again = graft.ops.Sampling.stratifiedWeighted(
      docs, "source", "doc_id", fr, defaultFraction = 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
  }

  test("stratifiedWeighted: fraction 0.0 drops the stratum entirely — no " +
      "keep-at-least-one leak through the default") {
    val docs = analytics.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.ops.Sampling.stratifiedWeighted(
      docs, "source", "doc_id", Map("src0" -> 1.0)) // default 0.0
    val srcs = out.select("source").distinct().as[String].collect().toSet
    assert(srcs == Set("src0"),
      s"unlisted strata must contribute ZERO rows, got $srcs")
  }

  test("curation keepBestQuality: the highest-quality doc of a near-dup " +
      "component survives instead of the min id") {
    // doc 1 is the min id but SHORT (< 50 chars -> quality 0.4); docs 2/3
    // extend it past 50 chars (quality 0.7). Trigram Jaccard pairs 1-2
    // and 1-3 chain the three into one component.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base), (2L, base + " twelve"), (3L, base + " thirteen"))
      .toDF("doc_id", "text")
    def curate(best: Boolean) = graft.llm.Curation.curateFrame(
      docs, "doc_id", "text",
      cfg = graft.llm.Curation.Config(minQuality = 0.0, maxRepetition = 1.0,
        nearDupJaccard = 0.8, keepBestQuality = best))
      .select("doc_id").as[Long].collect().toSet
    assert(curate(false) == Set(1L), "min-id default keeps doc 1")
    assert(curate(true) == Set(2L),
      "best-quality keeps doc 2 (quality tie with 3 -> min id)")
  }

  test("dedupAgainstHistory: exact at any fpp — equals the plain anti-join " +
      "even when the Bloom filter is saturated with false positives") {
    val docs = analytics.Tables(spark, "/root/testdata/sf0.001", "documents")
    val history = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val exact = batch
      .withColumn("_f", TextOps.fingerprint($"text"))
      .join(history.select(TextOps.fingerprint($"text").as("_f")),
        Seq("_f"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    // fpp 0.01 (normal) and a deliberately tiny/saturated filter (every
    // probe positive -> everything re-verifies) must both be exact
    for ((items, fpp) <- Seq((100000L, 0.01), (2L, 0.5))) {
      val got = graft.dedup.DedupOps.dedupAgainstHistory(
        batch, history, "text", items, fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(got == exact, s"items=$items fpp=$fpp")
    }
    // the prefilter actually prunes: at 1% fpp, bloom-positive rows are
    // the true dups plus ~1% of the batch, not the whole batch
    val bloom = graft.dedup.DedupOps.buildFingerprintBloom(
      history, "text", 100000L, 0.01)
    val positives = batch
      .filter(graft.functions.BloomMightContainLong(
        xxhash64(TextOps.fingerprint($"text")), bloom))
      .count()
    val trueDups = batch.count() - exact.size
    assert(positives < batch.count(),
      "a 1% filter must rule out most novel docs")
    assert(positives >= trueDups, "no true duplicate may be ruled out")
    // persisted round-trip: the write/read filter is the steady-state
    // form — results identical to the freshly built filter
    val path = java.nio.file.Files.createTempDirectory("bloom")
      .resolve("history.bloom").toString
    graft.dedup.DedupOps.writeFingerprintBloom(bloom, path)
    val reloaded = graft.dedup.DedupOps.readFingerprintBloom(path)
    val viaDisk = graft.dedup.DedupOps.dedupAgainstBloom(
      batch, history, "text", reloaded)
      .select("doc_id").as[Long].collect().toSet
    assert(viaDisk == exact, "persisted filter must behave identically")
  }

  test("connectedComponents: A-B-C chain collapses to one cluster where " +
      "pairwise dropping keeps a duplicate") {
    // chain: 1-5 and 1-9 pair, 5-9 never does. Pairwise "drop the higher
    // id of each pair" removes {5, 9}'s partner-of-1 only: losers = {5, 9}
    // here BUT in the chain 2-7, 7-8 (2 never pairs 8) pairwise losers =
    // {7, 8}... the case that breaks pairwise is a LOSER who is nobody's
    // id_b: 10-3 means 3 < 10 so pair is (3,10). Chain (3,10),(10,40):
    // pairwise losers = {10, 40}; fine. The failing shape is (5,9),(1,9):
    // pairwise losers = {9}, keeping BOTH 1 and 5 though {1,5,9} is one
    // cluster. Components keep only min=1.
    val pairs = Seq((5L, 9L), (1L, 9L), (20L, 30L)).toDF("id_a", "id_b")
    val comp = graft.dedup.ConnectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 20L -> 20L, 30L -> 20L))
    // pairwise dropping keeps 5 (it is never an id_b... it is id_a of
    // (5,9)): losers_pairwise = {9, 30}; component losers = {5, 9, 30}
    val pairwiseLosers = pairs.select("id_b").distinct()
      .as[Long].collect().toSet
    assert(pairwiseLosers == Set(9L, 30L))
    val componentLosers = comp.filter { case (id, c) => id != c }.keySet
    assert(componentLosers == Set(5L, 9L, 30L))
    assert((componentLosers -- pairwiseLosers) == Set(5L),
      "the chained duplicate pairwise dropping misses")
  }

  test("connectedComponents: long path, star, self-loops, duplicates, empty") {
    // a 16-node path exercises >1 large/small-star round; a star graph is
    // already a fixpoint; self-loops and duplicate/reversed edges must be
    // tolerated
    val path = (1L until 16L).map(i => (i, i + 1))
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L))
    val noise = Seq((7L, 7L), (2L, 1L), (1L, 2L)) // self-loop + dup both ways
    val df = (path ++ star ++ noise).toDF("id_a", "id_b")
    // BOTH execution paths must produce the identical component map:
    // driver union-find (default cutover) and the distributed star loop
    // (forced with driverMaxEdges = 0)
    for (cutover <- Seq(graft.dedup.ConnectedComponents.defaultDriverMaxEdges,
        0L)) {
      val comp = graft.dedup.ConnectedComponents(df,
        driverMaxEdges = cutover).as[(Long, Long)].collect().toMap
      (1L to 16L).foreach(i => assert(comp(i) == 1L, s"path node $i ($cutover)"))
      (100L to 103L).foreach(i =>
        assert(comp(i) == 100L, s"star node $i ($cutover)"))
      assert(comp.size == 20)
      val empty = graft.dedup.ConnectedComponents(
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
        driverMaxEdges = cutover)
      assert(empty.count() == 0)
    }
  }

  test("curation components: chained near-dups all collapse to the min id") {
    // three documents, pairwise near-dup chain A~B, B~C at >=0.8 Jaccard
    // where A~C may or may not pair — the curated output must keep ONLY
    // the min id of the component either way
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val a = base
    val b = base + " extra"
    val c = base + " extra more"
    val docs = Seq((1L, a, "en"), (2L, b, "en"), (3L, c, "en"))
      .toDF("doc_id", "text", "lang")
    val curated = graft.llm.Curation.curateFrame(docs, "doc_id", "text",
      cfg = graft.llm.Curation.Config(minQuality = 0.0, maxRepetition = 1.0,
        nearDupJaccard = 0.8))
    val kept = curated.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"expected only doc 1 to survive, got $kept")
  }

  test("containmentPairs: catches a probe buried in a larger doc that Jaccard misses") {
    val probe = "the quick brown fox jumps over the lazy dog again and again"
    val filler = (1 to 200).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler $probe $filler"), // probe fully contained, Jaccard tiny
      (2L, "completely unrelated text about something else entirely here"),
      (10L, probe)).toDF("doc_id", "text")
    val probes = docs.filter($"doc_id" === 10L)
    val hits = DedupOps.containmentPairs(docs, probes, "doc_id", "text",
      n = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(hits == Set((1L, 10L))) // doc 1 contaminated, doc 2 clean, no self-pair
    // the same pair is INVISIBLE to symmetric Jaccard at any usable threshold
    val jac = DedupOps.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxPrefixFreq = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 10L)))
  }

  test("containmentPairsIndexed equals the broadcast form on testdata") {
    val probes = docs001.filter($"doc_id" < 100)
    val bcast = DedupOps.containmentPairs(docs001, probes,
      "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val idx = DedupOps.containmentPairsIndexed(docs001, probes,
      "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bcast.nonEmpty && idx == bcast,
      s"indexed missed ${(bcast -- idx).size}, extra ${(idx -- bcast).size}")
  }

  test("stratified sample: deterministic, ~fraction per stratum, 1-row strata kept") {
    val df = (1 to 100).map(i => (i.toLong, if (i <= 80) "en" else "fr"))
      .toDF("doc_id", "lang")
      .union(Seq((999L, "zz")).toDF("doc_id", "lang")) // 1-row stratum
    val s1 = graft.ops.Sampling.stratified(df, "lang", "doc_id", 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val s2 = graft.ops.Sampling.stratified(df, "lang", "doc_id", 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == s2) // pure function of the keys
    val byLang = graft.ops.Sampling.stratified(df, "lang", "doc_id", 0.3)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // percent_rank <= f keeps floor(f*(n-1))+1 rows: 24/80 en, 6/20 fr
    assert(byLang("en") == 24 && byLang("fr") == 6)
    assert(byLang("zz") == 1) // never empties a stratum
    // monotone in fraction
    val bigger = graft.ops.Sampling.stratified(df, "lang", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(s1.toSet.subsetOf(bigger))
    // a NULL stratum is a stratum: the null-safe offsets join must keep
    // its quota instead of silently dropping every row
    val withNull = df.union(Seq((500L, null.asInstanceOf[String]),
      (501L, null.asInstanceOf[String])).toDF("doc_id", "lang"))
    val nullKept = graft.ops.Sampling.stratified(withNull, "lang", "doc_id", 0.3)
      .filter($"lang".isNull).count()
    assert(nullKept == 1) // floor(0.3*(2-1))+1 = 1
  }

  test("ngramNovelty: hand-computed coverage fractions; copies score 0, " +
      "disjoint docs score 1e6; reference duplicates don't inflate") {
    val ref = Seq((100L, "alpha beta gamma delta"),
      (101L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // exact copy: novelty 0
      (2L, "omega psi chi phi"),        // fully novel
      (3L, "alpha beta gamma omega")    // trigrams: "a b g" seen,
                                        // "b g o" new -> 1/2 novel
    ).toDF("doc_id", "text")
    val r = graft.dedup.DedupOps.ngramNovelty(docs, ref, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === (2L, 2L, 0L))
    assert(r(2L) === (2L, 0L, 1000000L))
    assert(r(3L) === (2L, 1L, 500000L))
  }

  test("jaccardPairs maxPrefixFreq: hot-shingle cap keeps high-sim pairs") {
    val exact = DedupOps.jaccardPairs(docs001, "doc_id", "text",
      n = 3, threshold = 0.8, maxPrefixFreq = Int.MaxValue)
      .select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    // near-dup shingles repeat only within a pair, so a freq cap well above
    // 2 must not lose any >=0.8 pair
    val capped = DedupOps.jaccardPairs(docs001, "doc_id", "text",
      n = 3, threshold = 0.8, maxPrefixFreq = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == exact)
  }

  test("simhash: hamming(near-dup) < hamming(unrelated)") {
    val sigs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely unrelated text about spark catalyst optimizer rules")
    ).toDF("id", "text")
      .select($"id", DedupOps.simhash($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("simhashPairs maxDist=0: exact-signature pairs, no 64-bit mask wrap") {
    // (1L << 64) wraps to 1 in Java — with the old mask every chunk_val
    // was 0 and ALL docs collided; now only equal signatures pair
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "совершенно другое unrelated text here")).toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("TopKAggregator survives NaN scores (NaN embedding) like the window form") {
    // a NaN element poisons dot and norm to NaN, so cos = NaN/NaN = NaN
    // (a zero-norm vector would instead raise ANSI DIVIDE_BY_ZERO)
    val base = emb001.filter($"vec_id" < 30).select($"vec_id", $"embedding")
    val dim = base.select($"embedding").head().getSeq[Float](0).length
    val corpus = base.union(Seq((999L,
      Array.fill(dim)(Float.NaN))).toDF("vec_id", "embedding"))
    val probes = corpus.filter($"vec_id" < 3)
    // primitive >/== are both false for NaN, which used to break
    // sortWith's contract; Double.compare ranks NaN greatest like Spark
    val agg = similarity.TopKAggregator.bruteForceTopKAgg(corpus, probes, 3)
      .select("probe_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet
    val window = SimilarityOps.bruteForceTopK(corpus, probes, 3)
      .select("probe_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(agg == window) // NaN rows rank first in BOTH forms
  }

  test("simhashPairs blocking finds all pairs a full quadratic scan finds") {
    val full = docs001.select($"doc_id".as("id_a"),
      DedupOps.simhash($"text").as("sig_a"))
      .crossJoin(docs001.select($"doc_id".as("id_b"),
        DedupOps.simhash($"text").as("sig_b")))
      .filter($"id_a" < $"id_b")
      .withColumn("dist", DedupOps.hammingDist($"sig_a", $"sig_b"))
      .filter($"dist" <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = DedupOps.simhashPairs(docs001, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked == full) // Manku chunk blocking is exact for d<=3
  }

  // ---- similarity -----------------------------------------------------------

  private lazy val emb001 =
    analytics.Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("cosine: unit self-similarity and symmetry") {
    val df = emb001.limit(3).select($"vec_id", $"embedding")
    val selfCos = df.select(
      SimilarityOps.cosine($"embedding", $"embedding").as("c"))
      .as[Double].collect()
    assert(selfCos.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("centroidDrift: identical halves cos 1, orthogonal means cos 0, " +
      "opposed means cos -1, one-sided group NULL; counts per side") {
    val a = Seq(
      (1L, "g1", Seq(1.0f, 0.0f)), (2L, "g1", Seq(1.0f, 0.0f)),
      (3L, "g2", Seq(2.0f, 0.0f)),
      (4L, "g3", Seq(0.5f, 0.5f)),
      (5L, "g4", Seq(1.0f, 1.0f))).toDF("vec_id", "label", "embedding")
    val b = Seq(
      (6L, "g1", Seq(3.0f, 0.0f)),                      // same direction
      (7L, "g2", Seq(0.0f, 5.0f)),                      // orthogonal
      (8L, "g3", Seq(-0.25f, -0.25f)),                  // opposed
      (9L, "g5", Seq(1.0f, 0.0f))                       // b-only group
    ).toDF("vec_id", "label", "embedding")
    val d = SimilarityOps.centroidDrift(a, b, "label", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(d("g1") === (2L, 1L, Some(1.0)))
    assert(d("g2") === (1L, 1L, Some(0.0)))
    assert(d("g3") === (1L, 1L, Some(-1.0)))
    assert(d("g4") === (1L, 0L, None)) // a-only: no drift defined
    assert(d("g5") === (0L, 1L, None))
    // partitioning invariance (exact integer sums are associative)
    val d2 = SimilarityOps.centroidDrift(a.repartition(5), b.repartition(3),
      "label", "embedding").collect().toSet
    assert(d2 === SimilarityOps.centroidDrift(a, b, "label", "embedding")
      .collect().toSet)
  }

  test("lshTopK recall@3 vs brute force with 16 hash tables; multi-probe " +
      "raises recall at the same table count") {
    val probes = emb001.filter($"vec_id" < 20)
    val brute = SimilarityOps.bruteForceTopK(emb001, probes, 3)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallAt(probesPerTable: Int, tables: Int = 16): Double = {
      val ann = SimilarityOps.lshTopK(emb001, probes, 3, planes = 4,
        tables = tables, probesPerTable = probesPerTable)
        .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
      (brute & ann).size.toDouble / brute.size
    }
    val single = recallAt(1)
    val multi = recallAt(3)
    assert(single > 0.6, s"recall@3 = $single")
    assert(multi >= single,
      s"multi-probe must not lose recall: $multi < $single")
    // the 100 TB trade: 8 tables x 3 probes beats 8 tables x 1 probe
    // without replicating the corpus index beyond 8 rows/vector
    val small = recallAt(1, tables = 8)
    val smallMulti = recallAt(3, tables = 8)
    assert(smallMulti > small,
      s"multi-probe at 8 tables: $smallMulti !> $small")
  }

  test("sq8TopK: quantized-cosine recall@3 vs float brute force; scores " +
      "within quantization error") {
    val probes = emb001.filter($"vec_id" < 20)
    val brute = SimilarityOps.bruteForceTopK(emb001, probes, 3)
    val bruteSet = brute.select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val q = SimilarityOps.sq8TopK(emb001, probes, 3)
    val qSet = q.select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val recall = (bruteSet & qSet).size.toDouble / bruteSet.size
    assert(recall >= 0.85, s"sq8 recall@3 = $recall")
    // a shared (probe, vec) pair scores nearly identically in the two
    // domains: int8 cosine error is O(1/127) per axis, far under 0.05
    val err = q.join(brute, Seq("probe_id", "vec_id"))
      .select(abs($"qcos" - $"cos").as("e")).as[Double].collect()
    assert(err.nonEmpty && err.max < 0.05, s"max |qcos-cos| = ${err.max}")
  }

  test("sq8TopK: an all-zero vector scores 0 against everything (never " +
      "NULL/NaN), in corpus and probe position") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(-1.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.sq8TopK(df, df, k = 3)
      .select("probe_id", "vec_id", "qcos")
      .as[(Long, Long, Double)].collect()
    assert(out.length == 12) // every probe keeps k rows
    assert(out.forall { case (_, _, q) => !q.isNaN })
    assert(out.filter(r => r._1 == 1L || r._2 == 1L)
      .forall(_._3 == 0.0))
  }

  test("PQ: training is deterministic (no RNG); ADC top-k recall vs " +
      "float brute force; scores within coarse quantization error") {
    val probes = emb001.filter($"vec_id" < 20)
    val brute = SimilarityOps.bruteForceTopK(emb001, probes, 3)
    val bruteSet = brute.select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val model = similarity.ProductQuantizer.train(emb001)
    val model2 = similarity.ProductQuantizer.train(emb001)
    assert(model.m == model2.m && model.k == model2.k &&
      model.centroids.sameElements(model2.centroids))
    val pq = similarity.ProductQuantizer.adcTopK(emb001, probes, model, 3)
    val pqSet = pq.select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    // deterministic pipeline + deterministic data -> a fixed recall
    // (0.75 measured); 0.7 leaves margin only for float-platform drift
    val recall = (bruteSet & pqSet).size.toDouble / bruteSet.size
    assert(recall >= 0.7, s"pq recall@3 = $recall")
    // PQ is coarser than SQ8 (16 bytes vs 64): scores track true cosine
    // loosely but must stay in-range and non-null
    val scores = pq.select("pqcos").as[Double].collect()
    assert(scores.forall(s => !s.isNaN && s >= -1.5 && s <= 1.5))
  }

  test("IVF-PQ index: model round-trips; at nprobe=nlist the query " +
      "equals adcTopK exactly; pruned nprobe still returns k per probe") {
    val model = similarity.ProductQuantizer.train(emb001)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_spec").toString
    similarity.ProductQuantizer.ivfPqBuildIndex(emb001, path, model,
      nlist = 8)
    val back = similarity.ProductQuantizer.readModel(spark, path)
    assert(back.m == model.m && back.k == model.k &&
      back.dsub == model.dsub &&
      back.centroids.sameElements(model.centroids))
    val probes = emb001.filter($"vec_id" < 10)
    val viaIdx = similarity.ProductQuantizer
      .ivfPqTopKIndexed(spark, path, probes, 3, nprobe = 8)
      .select("probe_id", "rank", "vec_id", "pqcos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val brute = similarity.ProductQuantizer.adcTopK(emb001, probes, model, 3)
      .select("probe_id", "rank", "vec_id", "pqcos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaIdx == brute)
    val prunedDf = similarity.ProductQuantizer
      .ivfPqTopKIndexed(spark, path, probes, 3, nprobe = 2)
    val pruned = prunedDf.select("probe_id").as[Long].collect()
    assert(pruned.toSet.size == 10 && pruned.length == 30)
    // codes scan must prune on the cell partition column at file-listing
    // time (the ivfTopKIndexed contract)
    val plan = prunedDf.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/index"))
    assert(scanLine.nonEmpty && scanLine.get.contains("PartitionFilters: [cell"),
      s"IVF-PQ scan must prune on cell:\n${scanLine.getOrElse(plan)}")
  }

  test("IVF-SQ8 index: stores codes not vectors; at nprobe=nlist the " +
      "query equals sq8TopK exactly; pruned at lower nprobe") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfsq8_spec").toString
    SimilarityOps.ivfBuildIndex(emb001, path, nlist = 8, quantized = true)
    val idx = spark.read.parquet(s"$path/index")
    assert(idx.columns.toSet == Set("vec_id", "codes", "code_norm", "cell"))
    // (parquet re-reads list elements as nullable; element type is the
    // 4×-smaller-payload contract)
    assert(idx.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    val probes = emb001.filter($"vec_id" < 10)
    // all cells probed -> candidates = whole corpus -> bit-equal to the
    // quantized brute force
    val viaIdx = SimilarityOps.ivfTopKIndexed(spark, path, probes, 3,
        nprobe = 8, quantized = true)
      .select("probe_id", "rank", "vec_id", "qcos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val brute = SimilarityOps.sq8TopK(emb001, probes, 3)
      .select("probe_id", "rank", "vec_id", "qcos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaIdx == brute)
    // low nprobe still returns k rows per probe with sane recall
    val prunedDf = SimilarityOps.ivfTopKIndexed(spark, path, probes, 3,
        nprobe = 2, quantized = true)
    val pruned = prunedDf
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
    assert(pruned.map(_._1).distinct.length == 10)
    val recall = (pruned.toSet &
      brute.map(r => (r._1, r._3)).toSet).size.toDouble / brute.size
    assert(recall > 0.3, s"nprobe=2 recall = $recall")
    // the quantized index scan prunes on cell like the float form
    val plan = prunedDf.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/index"))
    assert(scanLine.nonEmpty && scanLine.get.contains("PartitionFilters: [cell"),
      s"IVF-SQ8 scan must prune on cell:\n${scanLine.getOrElse(plan)}")
  }

  test("TopKAggregator: identical results to the window-based bruteForceTopK") {
    val probes = emb001.filter($"vec_id" < 10)
    val window = SimilarityOps.bruteForceTopK(emb001, probes, 3)
      .select("probe_id", "rank", "vec_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val agg = similarity.TopKAggregator
      .bruteForceTopKAgg(emb001, probes, 3)
      .select("probe_id", "rank", "vec_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(agg == window)
  }

  test("ivfTopK recall@3 vs brute force with nprobe=4/nlist=16; " +
      "one Lloyd iteration never hurts recall at equal nprobe") {
    val probes = emb001.filter($"vec_id" < 20)
    val brute = SimilarityOps.bruteForceTopK(emb001, probes, 3)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallAt(iters: Int): Double = {
      val ann = SimilarityOps.ivfTopK(emb001, probes, 3, nlist = 8,
        nprobe = 4, lloydIters = iters)
        .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
      assert(ann.forall { case (p, v) => p != v })
      (brute & ann).size.toDouble / brute.size
    }
    val seeded = recallAt(0)
    val refined = recallAt(1)
    assert(seeded > 0.5, s"seed recall@3 = $seeded")
    assert(refined >= seeded,
      s"Lloyd refinement must not lose recall: $refined < $seeded")
  }

  test("ivfBuildIndex/ivfTopKIndexed: the persisted cell-partitioned " +
      "index returns the same results as the direct ivfTopK, through a " +
      "partition-pruned scan") {
    val probes = emb001.filter($"vec_id" < 20)
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    SimilarityOps.ivfBuildIndex(emb001, path, nlist = 8, lloydIters = 1)
    val indexed = SimilarityOps.ivfTopKIndexed(spark, path, probes, 3,
      nprobe = 4)
    // same deterministic seeds + Lloyd shape ⇒ same centroids (the avg
    // is exact up to merge order on this tiny fixture) ⇒ same answer
    val direct = SimilarityOps.ivfTopK(emb001, probes, 3, nlist = 8,
        nprobe = 4, lloydIters = 1)
      .select("probe_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(indexed.select("probe_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet == direct)
    // the index scan must carry a PartitionFilter on cell — file-listing
    // level pruning, not a post-scan filter (AQE wraps the tree, so match
    // the plan text like the other plan-shape specs)
    val plan = indexed.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/index"))
    assert(scanLine.nonEmpty, s"expected a file scan over the index:\n$plan")
    assert(scanLine.get.contains("PartitionFilters: [cell"),
      s"index scan must prune on the cell partition column:\n${scanLine.get}")
  }

  test("lshBuildIndex/lshTopKIndexed: persisted buckets return the same " +
      "results as the direct lshTopK, through a partition-pruned scan") {
    val probes = emb001.filter($"vec_id" < 20)
    val path = java.nio.file.Files.createTempDirectory("lshidx").toString
    SimilarityOps.lshBuildIndex(emb001, path, planes = 4, tables = 8)
    val indexed = SimilarityOps.lshTopKIndexed(spark, path, probes, 3,
      planes = 4, tables = 8, probesPerTable = 2)
    val direct = SimilarityOps.lshTopK(emb001, probes, 3, planes = 4,
        tables = 8, probesPerTable = 2)
      .select("probe_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(indexed.select("probe_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet == direct)
    val plan = indexed.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/buckets"))
    assert(scanLine.nonEmpty, s"expected a file scan over the buckets:\n$plan")
    assert(scanLine.get.contains("PartitionFilters: [((") ||
      scanLine.get.matches(".*PartitionFilters: \\[[^\\]]*tbl.*"),
      s"bucket scan must prune on (tbl, bucket):\n${scanLine.get}")
  }

  test("hardNegatives: all results in the cosine band, ranked within the " +
      "band (NOT a post-filtered global top-k), no self-matches") {
    val anchors = emb001.filter($"vec_id" < 5)
    val out = SimilarityOps
      .hardNegatives(emb001, anchors, k = 5, cosLo = 0.15, cosHi = 0.45)
      .select("probe_id", "rank", "vec_id", "cos")
      .as[(Long, Int, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (p, _, v, c) =>
      assert(c >= 0.15 && c < 0.45, s"cos $c outside band")
      assert(p != v, "self-match leaked") }
    // ranking happens WITHIN the band: the rank-1 negative for an anchor
    // is the in-band max, which a global-top-k-then-filter would lose
    // whenever k near-dups outrank it
    val naive = SimilarityOps.bruteForceTopK(emb001, anchors, Int.MaxValue)
      .filter($"cos" >= 0.15 && $"cos" < 0.45)
      .select("probe_id", "vec_id", "cos")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(
        _.sortBy(r => (-r._3, r._2)).take(5).map(r => (r._2, r._3)).toSeq)
      .toMap
    val got = out.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    assert(got == naive)
  }

  test("ivfAppendIndex: appended vectors land in the argmax cell under " +
      "the PERSISTED centroids, are returned by queries, and the " +
      "quantized form encodes the same payload schema") {
    val a = emb001.filter($"vec_id" % 2 === 0)
    val b = emb001.filter($"vec_id" % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("ivfapp").toString
    SimilarityOps.ivfBuildIndex(a, path, nlist = 8, lloydIters = 1)
    SimilarityOps.ivfAppendIndex(spark, b, path)
    // cells of appended ids == assignment under the index's centroids
    val cents = spark.read.parquet(s"$path/centroids")
    val cProj = b.select($"vec_id", $"embedding".as("vec"))
      .withColumn("vec_norm",
        sqrt(graft.functions.VectorExpressions.floatDot(
          col("vec"), col("vec")).cast("double")))
    val expected = SimilarityOps
      .ivfAssign(cents)(cProj, "vec_id", "vec", "vec_norm", 1)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val stored = spark.read.parquet(s"$path/index")
      .withColumn("cell", col("cell").cast("long"))
      .select($"vec_id", $"cell").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    expected.foreach { case (id, cell) =>
      assert(stored(id) == Set(cell), s"vec $id stored in ${stored(id)}, " +
        s"assignment says $cell") }
    // an appended vector is findable: probe with vec 1's EMBEDDING under
    // a fresh probe id (the query tail excludes vec_id == probe_id, the
    // self-match contract) -> top-1 is vec 1 at cos ~ 1
    val probe = b.filter($"vec_id" === 1L)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val hit = SimilarityOps.ivfTopKIndexed(spark, path, probe, 1,
        nprobe = 2)
      .select("vec_id").as[Long].head()
    assert(hit == 1L, s"appended vector not found, got $hit")
    // quantized layout: append encodes codes + code_norm like the build
    val qpath = java.nio.file.Files.createTempDirectory("ivfappq").toString
    SimilarityOps.ivfBuildIndex(a, qpath, nlist = 8, quantized = true)
    SimilarityOps.ivfAppendIndex(spark, b, qpath, quantized = true)
    val qidx = spark.read.parquet(s"$qpath/index")
    assert(qidx.columns.toSet == Set("vec_id", "codes", "code_norm", "cell"))
    assert(qidx.count() == emb001.count())
  }

  test("lshAppendIndex: build(A)+append(B) answers queries EXACTLY like " +
      "build(A∪B) — bucket assignment is a pure function of the vector") {
    val a = emb001.filter($"vec_id" % 2 === 0)
    val b = emb001.filter($"vec_id" % 2 === 1)
    val probes = emb001.filter($"vec_id" < 20)
    val p1 = java.nio.file.Files.createTempDirectory("lshapp1").toString
    val p2 = java.nio.file.Files.createTempDirectory("lshapp2").toString
    SimilarityOps.lshBuildIndex(a, p1, planes = 4, tables = 8)
    SimilarityOps.lshAppendIndex(b, p1, planes = 4, tables = 8)
    SimilarityOps.lshBuildIndex(emb001, p2, planes = 4, tables = 8)
    val fromAppend = SimilarityOps.lshTopKIndexed(spark, p1, probes, 3,
        planes = 4, tables = 8, probesPerTable = 2)
      .select("probe_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().toSet
    val fromFull = SimilarityOps.lshTopKIndexed(spark, p2, probes, 3,
        planes = 4, tables = 8, probesPerTable = 2)
      .select("probe_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(fromAppend == fromFull)
  }

  test("cosineNearDupPairs: block-partitioned form EQUALS the naive " +
      "cross-join ground truth (pairs and cos values)") {
    val naive = SimilarityOps.cosineNearDupPairsNaive(emb001, 0.3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val blocked = SimilarityOps.cosineNearDupPairs(emb001, 0.3, blocks = 7)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(blocked == naive, s"blocked ${blocked.size} vs naive ${naive.size}")
    // degenerate block counts still cover every pair exactly once
    val one = SimilarityOps.cosineNearDupPairs(emb001, 0.3, blocks = 1)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(one == naive)
  }

  test("semanticDecontaminate: hand-built probe hits drop (paraphrase " +
      "direction included), orthogonal and anti-parallel survive, " +
      "probe side broadcasts") {
    import org.apache.spark.sql.functions.col
    val probes = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f)),     // cos 1 -> dropped
      (11L, Array(0.9f, 0.1f)), // cos ~0.994 -> dropped
      (12L, Array(0f, 1f)),     // cos 0 -> kept
      (13L, Array(-1f, 0f)))    // cos -1 -> kept (similarity, not |cos|)
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDecontaminate(corpus, probes, 0.5)
    assert(out.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(12L, 13L))
    // the probe side must broadcast: a shuffled corpus-sized join here
    // would be the 100 TB bug
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      s"probe side did not broadcast:\n$plan")
    // empty probe set decontaminates nothing
    assert(SimilarityOps.semanticDecontaminate(corpus,
      probes.limit(0), 0.5).count() == 4L)
  }

  test("cosineNearDupPairsLsh: subset of exact; high recall at high cos " +
      "on planted near-dups") {
    val lsh = SimilarityOps.cosineNearDupPairsLsh(emb001, 0.3,
      planes = 4, tables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = SimilarityOps.cosineNearDupPairsNaive(emb001, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    // planted near-dups: base vectors + tiny perturbations → cos ≈ 0.99,
    // the regime cosineNearDupPairsLsh is FOR (per-pair recall
    // 1-(1-p^planes)^tables ≈ 1 at cos 0.99, tiny for random pairs)
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    }
    val planted = spark.createDataFrame(
      (base ++ dups).map { case (i, v) => (i, v) })
      .toDF("vec_id", "embedding")
    val truth = SimilarityOps.cosineNearDupPairsNaive(planted, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = SimilarityOps.cosineNearDupPairsLsh(planted, 0.95,
      planes = 8, tables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.95, s"recall = $recall over ${truth.size} planted pairs")
  }

  // ---- as-of join -----------------------------------------------------------

  test("AsOfJoin == join+window reference formulation on testdata") {
    import org.apache.spark.sql.expressions.{Window => W}
    val ev = analytics.Tables.withEpochMicros(
        analytics.Tables(spark, "/root/testdata/sf0.001", "events"))
      .select($"event_id", $"user_id", $"ts_us")
    val ord = analytics.Tables(spark, "/root/testdata/sf0.001", "orders")
      .select($"o_custkey".as("user_id"),
        unix_micros($"o_orderdate".cast("timestamp")).as("o_us"),
        $"o_orderkey")
    val fast = graft.ops.AsOfJoin(ev, ord, "user_id", "ts_us", "o_us",
      Seq("o_orderkey"), "o_orderkey")
      .select($"event_id", $"asof_o_orderkey")
    // reference: join all orders <= ts, keep top-1 by (o_us, o_orderkey)
    val w = W.partitionBy($"event_id")
      .orderBy($"o_us".desc, $"o_orderkey".desc)
    val slow = ev.join(ord, Seq("user_id"), "left")
      .filter($"o_us".isNull || $"o_us" <= $"ts_us")
      .withColumn("_r", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"_r" === 1)
      .select($"event_id", $"o_orderkey".as("asof_o_orderkey"))
    assert(fast.exceptAll(slow).count() == 0)
    assert(slow.exceptAll(fast).count() == 0)
  }

  test("AsOfJoin: a NULL field in the current right version is NOT backfilled " +
      "from an older version (atomic row carry)") {
    val left = Seq((1L, 7L, 30L)).toDF("eid", "k", "t")
    val right = Seq(
      (7L, 10L, Some(5.0), Some("a")),
      (7L, 20L, None: Option[Double], Some("b"))
    ).toDF("k", "rt", "price", "tag")
    val out = AsOfJoin(left, right, "k", "t", "rt",
      payload = Seq("price", "tag"), rightOrderCol = "tag").collect()(0)
    // the as-of version at t=30 is (rt=20, price=NULL, tag=b): per-column
    // last(ignoreNulls) used to resurrect price=5.0 from rt=10, stitching
    // a (5.0, "b") row that never existed
    assert(out.isNullAt(out.fieldIndex("asof_price")))
    assert(out.getString(out.fieldIndex("asof_tag")) == "b")
  }

  test("AsOfJoin tolerance: matches older than the bound null out " +
    "ATOMICALLY; fresh matches and the no-tolerance form are unchanged") {
    val left = Seq((1L, 7L, 30L), (2L, 7L, 100L), (3L, 9L, 50L))
      .toDF("eid", "k", "t")
    val right = Seq((7L, 20L, 5.0, "a"), (9L, 10L, 7.0, "b"))
      .toDF("k", "rt", "price", "tag")
    val out = AsOfJoin(left, right, "k", "t", "rt",
        payload = Seq("price", "tag"), rightOrderCol = "tag",
        tolerance = Some(15L))
      .select($"eid", $"asof_price", $"asof_tag")
      .as[(Long, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some(5.0), Some("a")))) // 30-20=10 <= 15: fresh
    assert(out(2L) == ((None, None))) // 100-20=80 > 15: BOTH fields null
    assert(out(3L) == ((None, None))) // 50-10=40 > 15
    // tolerance exactly at the bound is inclusive (<=)
    val edge = AsOfJoin(Seq((1L, 7L, 35L)).toDF("eid", "k", "t"),
        right, "k", "t", "rt", Seq("price"), "price",
        tolerance = Some(15L))
      .select($"asof_price").as[Option[Double]].head()
    assert(edge.contains(5.0))
    assertThrows[IllegalArgumentException](AsOfJoin(left, right, "k", "t",
      "rt", Seq("price"), "price", tolerance = Some(0L)))
  }

  test("AsOfJoin directions: forward takes the first at-or-after with " +
      "smallest-id ties, nearest picks the closer side and breaks " +
      "equal distance backward, tolerance gates per direction") {
    val right = Seq((7L, 5L, 1L, "a"), (7L, 15L, 2L, "b"))
      .toDF("k", "rt", "rid", "tag")
    def run(leftT: Long, dir: String, tol: Option[Long] = None) =
      AsOfJoin(Seq((1L, 7L, leftT)).toDF("eid", "k", "t"),
        right, "k", "t", "rt", payload = Seq("rid", "tag"),
        rightOrderCol = "rid", tolerance = tol, direction = dir)
        .select($"asof_tag").as[Option[String]].head()
    // t=12: backward a (d 7), forward b (d 3), nearest -> forward
    assert(run(12L, "backward").contains("a"))
    assert(run(12L, "forward").contains("b"))
    assert(run(12L, "nearest").contains("b"))
    // t=10: equidistant (5 both sides) -> backward wins the tie
    assert(run(10L, "nearest").contains("a"))
    // t=20: no forward match; nearest falls back to backward
    assert(run(20L, "forward").isEmpty)
    assert(run(20L, "nearest").contains("b"))
    // forward tolerance: d 3 passes a bound of 4, d 5 does not
    assert(run(12L, "forward", Some(4L)).contains("b"))
    assert(run(10L, "forward", Some(4L)).isEmpty)
    // inclusive ≥ semantics + tie among right rows: smallest rid wins
    val tied = Seq((7L, 15L, 9L, "z")).toDF("k", "rt", "rid", "tag")
      .unionByName(right)
    assert(AsOfJoin(Seq((1L, 7L, 15L)).toDF("eid", "k", "t"),
      tied, "k", "t", "rt", Seq("rid", "tag"), "rid",
      direction = "forward")
      .select($"asof_rid").as[Option[Long]].head().contains(2L))
    assertThrows[IllegalArgumentException](run(10L, "sideways"))
  }

  test("Dedup/exactDedup: user columns named _row_num/_fp_rn survive") {
    val df = Seq((1L, "a", 99), (1L, "b", 98)).toDF("id", "text", "_row_num")
    val kept = graft.ops.Dedup(df, Seq("id"), Seq($"text".asc)).collect()(0)
    assert(kept.getInt(kept.fieldIndex("_row_num")) == 99) // not destroyed
    val df2 = Seq((1L, "same text", 7), (2L, "same text", 8))
      .toDF("doc_id", "text", "_fp_rn")
    val d = DedupOps.exactDedup(df2, "text", "doc_id").collect()(0)
    assert(d.getInt(d.fieldIndex("_fp_rn")) == 7)
  }

  test("AsOfJoin: payload/left column collision is rejected, not silently nulled") {
    val l = Seq((1L, 10L, "x")).toDF("eid", "t", "v")
    val r = Seq((1L, 5L, "y")).toDF("k", "rt", "v")
    val ex = intercept[IllegalArgumentException] {
      AsOfJoin(l, r, "eid", "t", "rt", payload = Seq("v"), rightOrderCol = "v")
    }
    assert(ex.getMessage.contains("collide"))
  }

  test("AsOfJoin: latest right <= left time per key, ties resolved to max order col") {
    val left = Seq(
      (1L, 100L, 10L), (2L, 100L, 55L), (3L, 100L, 300L), (4L, 200L, 50L)
    ).toDF("eid", "k", "t")
    val right = Seq(
      (100L, 10L, 7L, "at10"),   // ties left eid=1 exactly -> visible (<=)
      (100L, 10L, 9L, "at10b"),  // same time, higher rid wins the tie
      (100L, 50L, 11L, "at50"),
      (300L, 5L, 13L, "other-key")
    ).toDF("k", "rt", "rid", "tag")
    val out = AsOfJoin(left, right, key = "k", leftTime = "t",
      rightTime = "rt", payload = Seq("rid", "tag"), rightOrderCol = "rid")
      .select($"eid", $"asof_rid", $"asof_tag")
      .as[(Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some(9L), Some("at10b")))) // tie at t=10: sees both, max rid
    assert(out(2L) == ((Some(11L), Some("at50"))))
    assert(out(3L) == ((Some(11L), Some("at50"))))
    assert(out(4L) == ((None, None))) // key 200 has no right rows
  }

  // ---- segment-level (line) dedup + boilerplate -----------------------------

  test("lineDedup: duplicated line survives only at its first occurrence; " +
    "blank lines dropped; order preserved") {
    val docs = Seq(
      (1L, "alpha beta\nshared line\ngamma"),
      (2L, "shared line\n\n  \ndelta"),
      (3L, "unique only\nshared line")
    ).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "alpha beta\nshared line\ngamma", 3L, 0L)))
    // doc 2: blank/whitespace lines never count as segments; the shared
    // line was first seen in doc 1 so only "delta" survives
    assert(out(1) == ((2L, "delta", 2L, 1L)))
    assert(out(2) == ((3L, "unique only", 2L, 1L)))
  }

  test("lineDedup idempotence: a second pass drops nothing") {
    val docs = Seq(
      (1L, "a b\nc d\na b"), (2L, "c d\ne f")).toDF("doc_id", "text")
    val once = DedupOps.lineDedup(docs, "doc_id", "text")
      .select($"doc_id", $"dedup_text".as("text"))
    val twice = DedupOps.lineDedup(once, "doc_id", "text")
    assert(twice.agg(sum($"n_dropped")).as[Long].head() == 0L)
  }

  test("fixedSpanDedup: spans partition the doc; remainder span kept; " +
    "matches substringDedup on an exact-duplicate pair") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"), // 2 spans at k=2: "w1 w2","w3 w4","w5" -> 3
      (2L, "w1 w2 w3 w4")     // shares "w1 w2" and "w3 w4"
    ).toDF("doc_id", "text")
    val out = DedupOps.fixedSpanDedup(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "w1 w2 w3 w4 w5", 3L, 0L)))
    assert(out(1) == ((2L, "", 2L, 2L)))
  }

  test("boilerplateRemove: a frequent span vanishes EVERYWHERE including " +
    "its first occurrence; infrequent spans stay") {
    val docs = Seq(
      (1L, "nav bar copy x1 x2"),
      (2L, "nav bar copy y1 y2"),
      (3L, "nav bar copy z1 z2"),
      (4L, "w1 w2 w3")
    ).toDF("doc_id", "text")
    val out = DedupOps
      .boilerplateRemove(docs, "doc_id", "text", k = 3, minDocFreq = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    // "nav bar copy" appears in 3 docs -> removed from all three,
    // including doc 1; the per-doc tails are unique and stay
    assert(out(0) == ((1L, "x1 x2", 2L, 1L)))
    assert(out(1) == ((2L, "y1 y2", 2L, 1L)))
    assert(out(2) == ((3L, "z1 z2", 2L, 1L)))
    assert(out(3) == ((4L, "w1 w2 w3", 1L, 0L)))
  }

  test("editDistancePairs: adjacent-bucket blocking equals prefix-only " +
      "blocking when maxDist <= lenBucket (zero recall loss)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val got = DedupOps
      .editDistancePairs(docs, "doc_id", "text", maxDist = 8,
        prefixLen = 8, lenBucket = 16)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    // reference: block on the prefix ALONE (no length bucketing) — the
    // superset candidate generation the bucketed join must reproduce
    val n = docs.select($"doc_id",
      TextOps.normalize($"text").as("t"),
      substring(TextOps.normalize($"text"), 1, 8).as("p"))
    val ref = n.as("a").join(n.as("b"),
        col("a.p") === col("b.p") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.t"), col("b.t")).as("d"))
      .filter($"d" <= 8)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == ref)
    assert(got.nonEmpty, "sf0.001 corpus should contain near-dup pairs")
    assert(got.forall { case (a, b, d) => a < b && d >= 0 && d <= 8 })
  }

  test("editDistancePairs: exact dup, near dup, straddling length " +
      "buckets, and prefix-divergent miss behave per contract") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),          // len 22, bucket 1
      (2L, "alpha beta gamma delts"),          // dist 1 to doc 1
      (3L, "alpha beta gamma delta"),          // exact dup of doc 1
      // same prefix, length one bucket over (pads past the boundary):
      (4L, "alpha beta gamma delta " + ("x" * 12)), // len 35, bucket 2
      (5L, "omega beta gamma delta")           // prefix differs -> unseen
    ).toDF("doc_id", "text")
    val pairs = DedupOps
      .editDistancePairs(docs, "doc_id", "text", maxDist = 13,
        prefixLen = 8, lenBucket = 16)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(pairs.contains((1L, 3L, 0)))   // exact duplicate
    assert(pairs.contains((1L, 2L, 1)))   // one substitution
    assert(pairs.contains((1L, 4L, 13)))  // bucket 1 vs 2: adjacent join
    assert(!pairs.exists { case (a, b, _) => a == 5L || b == 5L },
      "prefix-divergent doc must not pair (documented recall tradeoff)")
  }

  test("resolveEntities: planted typo variants cluster transitively with " +
      "min-id survivorship; singletons are their own entity; " +
      "jaroNeighborhoodPairs gate matches the kernel") {
    // three variants of one name (A≈B≈C chains into one entity even
    // though the ends differ most), one pair, three singletons
    val recs = Seq(
      (10L, "jonathan smithson"),
      (11L, "jonathan smithsen"),   // tail typo of 10
      (12L, "jonathan smithsan"),   // tail typo chaining via 10/11
      (20L, "margaret wolverton"),
      (21L, "margaret wolvertan"),  // tail typo of 20
      (30L, "completely unrelated"),
      (31L, "nothing alike at all"),
      (32L, "zzz different again")).toDF("rid", "name")
    val r = DedupOps.resolveEntities(recs, "rid", "name",
        window = 4, minSim = 0.93)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getBoolean(3))).toMap
    assert(r(10L) == ((10L, 3L, true)))
    assert(r(11L) == ((10L, 3L, false)))
    assert(r(12L) == ((10L, 3L, false)))
    assert(r(20L) == ((20L, 2L, true)))
    assert(r(21L) == ((20L, 2L, false)))
    for (s <- Seq(30L, 31L, 32L))
      assert(r(s) == ((s, 1L, true)), s"singleton $s")
    // the pair gate: exactly the planted variants, all above threshold
    val pairs = DedupOps.jaroNeighborhoodPairs(recs, "rid", "name",
        window = 4, minSim = 0.93)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)))
    assert(pairs.forall(_._3 >= 0.93))
  }

  test("sortedNeighborhoodPairs: equals the naive global-window SNM; " +
      "catches a front-edited pair prefix blocking misses") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val got = DedupOps
      .sortedNeighborhoodPairs(docs, "doc_id", "text", window = 4,
        maxDist = 8)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val n = docs.select($"doc_id", TextOps.normalize($"text").as("t"))
      .withColumn("rk",
        row_number().over(Window.orderBy($"t", $"doc_id")).cast("long"))
    // the window band as an EQUI-join: each row explodes to its 4 rank
    // successors, so levenshtein only runs on the ~4n band pairs (a
    // range condition plans a nested loop over all n^2 pairs)
    val band = n.withColumn("off", explode(sequence(lit(1L), lit(4L))))
      .withColumn("nrk", col("rk") + col("off"))
    val ref = band.as("a").join(n.as("b"), col("a.nrk") === col("b.rk"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("lo"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("hi"),
        levenshtein(col("a.t"), col("b.t")).as("d"))
      .filter(col("d") <= 8)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == ref)
    assert(got.nonEmpty)
    // a FRONT edit escapes prefix blocking but neighbors in sort order
    // when the shared tail dominates... the reverse also holds: SNM
    // misses pairs that sort far apart. Construct the SNM-favorable case:
    val synth = Seq(
      (1L, "zzz alpha beta gamma delta"),
      (2L, "zza alpha beta gamma delta"), // front edit, sorts adjacent
      (3L, "completely different text here")
    ).toDF("doc_id", "text")
    val prefixPairs = DedupOps.editDistancePairs(synth, "doc_id", "text",
      maxDist = 8, prefixLen = 8, lenBucket = 16)
      .as[(Long, Long, Int)].collect()
    val snmPairs = DedupOps.sortedNeighborhoodPairs(synth, "doc_id",
      "text", window = 2, maxDist = 8)
      .as[(Long, Long, Int)].collect()
    assert(!prefixPairs.exists(p => p._1 == 1L && p._2 == 2L),
      "prefix blocking should miss the front-edited pair")
    assert(snmPairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1),
      s"SNM should catch the front-edited pair: ${snmPairs.toSeq}")
  }

  // ---- unit-L2 normalization ------------------------------------------------

  test("l2Normalize: unit norms, zero-vector passthrough, cosine == dot " +
      "over the normalized vectors") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(-1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.l2Normalize(df)
      .select($"vec_id", $"unit").as[(Long, Seq[Double])]
      .collect().toMap
    assert(out(1L) == Seq(0.6, 0.8))
    assert(out(2L) == Seq(0.0, 0.0), "zero vector must not produce NaN")
    out(3L).foreach(x => assert(!x.isNaN))
    assert(math.abs(math.sqrt(out(3L).map(x => x * x).sum) - 1.0) < 1e-12)
    // cosine(a, b) == dot(unit_a, unit_b) (the reason the pass exists)
    val emb = analytics.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val u = SimilarityOps.l2Normalize(emb)
      .select($"vec_id", $"unit").limit(8)
      .as[(Long, Seq[Double])].collect()
    val raw = emb.select($"vec_id", $"embedding").limit(8)
      .as[(Long, Seq[Float])].collect().toMap
    for (Array((ia, ua), (ib, ub)) <- u.combinations(2).map(_.toArray)) {
      val cos = {
        val a = raw(ia).map(_.toDouble); val b = raw(ib).map(_.toDouble)
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val dotU = ua.zip(ub).map { case (x, y) => x * y }.sum
      assert(math.abs(cos - dotU) < 1e-9, s"($ia, $ib): $cos vs $dotU")
    }
  }

  test("rrfFuse: hand-computed scores, n_lists, tie-break, top-k cut") {
    import graft.similarity.HybridSearch
    // probe 1: doc 10 is rank 1 lexically and rank 2 densely; doc 11
    // only lexical rank 2; doc 12 only dense rank 1
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("probe_id", "id", "rank")
    val den = Seq((1L, 12L, 1), (1L, 10L, 2)).toDF("probe_id", "id", "rank")
    val got = HybridSearch.rrfFuse(Seq(lex, den), k0 = 60, k = 2)
      .orderBy($"rank")
      .as[(Long, Int, Long, Double, Long)].collect().toSeq
    def d(xs: Double*) = xs.map(x =>
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum
        .toDouble
    // doc 10 fuses both lists and must beat the single-list docs
    assert(got.map(r => (r._1, r._2, r._3, r._5)) ==
      Seq((1L, 1, 10L, 2L), (1L, 2, 12L, 1L)))
    assert(got(0)._4 == d(1.0 / 61, 1.0 / 62))
    assert(got(1)._4 == d(1.0 / 61))
    // equal single-list ranks tie on score -> lower id wins
    val t1 = Seq((7L, 5L, 1)).toDF("probe_id", "id", "rank")
    val t2 = Seq((7L, 3L, 1)).toDF("probe_id", "id", "rank")
    val tied = HybridSearch.rrfFuse(Seq(t1, t2), k0 = 60, k = 2)
      .orderBy($"rank").as[(Long, Int, Long, Double, Long)].collect()
    assert(tied.map(_._3).toSeq == Seq(3L, 5L))
  }

  test("lshTopK at probesPerTable = 2^planes equals bruteForceTopK " +
      "bit-exactly (exhaustive-probe equivalence — the q_lsh_topk oracle " +
      "basis)") {
    val emb = analytics.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val probes = emb.filter($"vec_id" < 5)
    val lsh = SimilarityOps.lshTopK(emb, probes, k = 3, planes = 4,
        tables = 16, probesPerTable = 16)
      .orderBy($"probe_id", $"rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val brute = SimilarityOps.bruteForceTopK(emb, probes, k = 3)
      .orderBy($"probe_id", $"rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(lsh == brute)
  }

  test("readability: hand-checked counts, syllable floor, blank NULL") {
    val df = Seq(
      (1L, "Hello world! How are you?"),
      (2L, "a b."),      // raw vowel groups (1) floor up to n_words (2)
      (3L, "no terminator here"),
      (4L, "   ")
    ).toDF("doc_id", "text")
      .select($"doc_id", graft.text.TextOps.readability($"text").as("r"))
      .select($"doc_id", $"r.n_words", $"r.n_sentences",
        $"r.n_syllables", $"r.flesch")
      .collect().map(r => r.getLong(0) -> r).toMap
    val h = df(1L)
    // hello(2) world(1) how(1) are(2) you(1) = 7 vowel runs
    assert(h.getLong(1) == 5L && h.getLong(2) == 2L && h.getLong(3) == 7L)
    val expected = 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (7.0 / 5.0)
    assert(math.abs(h.getDouble(4) - expected) < 1e-6)
    assert(df(2L).getLong(3) == 2L)
    assert(df(3L).getLong(2) == 1L) // unterminated = one sentence
    assert(df(4L).getLong(1) == 0L && df(4L).isNullAt(4))
  }

  test("kmeansAssign: hand-traced Lloyd round — floored integer " +
      "centroid means, argmin re-assignment, exact micro distances") {
    // 1-D: ids 1..4 at 0, 1, 10, 11; k=2 -> init c0=[0], c1=[1e6].
    // Round 1 assigns {0}->c0, {1,10,11}->c1; update keeps c0=[0] and
    // moves c1 to floor((1e6+10e6+11e6)/3) = 7333333. The final
    // assignment under the moved centroid pulls x=1 BACK to c0
    // (d2 1.0 vs ~40.1) and keeps 10, 11 on c1.
    val vecs = Seq((1L, Array(0f)), (2L, Array(1f)), (3L, Array(10f)),
      (4L, Array(11f))).toDF("vec_id", "embedding")
    val out = Clustering.kmeansAssign(vecs, k = 2, iters = 1)
      .orderBy($"vec_id")
      .as[(Long, Int, Long)].collect().toSeq
    assert(out.map(r => r._1 -> r._2) ==
      Seq(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
    assert(out(0)._3 == 0L)        // x=0 sits ON c0: d2 exactly 0
    assert(out(1)._3 == 1000000L)  // x=1 vs c0=[0]: d2 exactly 1.0
    // equidistant duplicate centroids: ties break to the smaller cid,
    // and the emptied cluster keeps its centroid (no crash, no NaN)
    val dup = Seq((1L, Array(1f)), (2L, Array(1f)), (3L, Array(1f)))
      .toDF("vec_id", "embedding")
    val dupOut = Clustering.kmeansAssign(dup, k = 2, iters = 2)
      .as[(Long, Int, Long)].collect().toSeq
    assert(dupOut.map(_._2).toSet == Set(0))
    assert(dupOut.map(_._3).toSet == Set(0L))
    // degenerate configs fail loud
    intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(dup, k = 4, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(dup, k = 0, iters = 1)
    }
  }

  test("exemplars: rank = centroid proximity with id ties, cut at m") {
    // the kmeansAssign fixture: final centroids 0 and 7.333333; d2 in
    // cluster 0 is {id1: 0, id2: 1} and cluster 1 orders id3 < id4
    val vecs = Seq((1L, Array(0f)), (2L, Array(1f)), (3L, Array(10f)),
      (4L, Array(11f))).toDF("vec_id", "embedding")
    val top2 = Clustering.exemplars(vecs, k = 2, iters = 1, m = 2)
      .orderBy($"cluster", $"rank")
      .select("cluster", "rank", "vec_id")
      .as[(Int, Int, Long)].collect().toSeq
    assert(top2 == Seq((0, 1, 1L), (0, 2, 2L), (1, 1, 3L), (1, 2, 4L)))
    val top1 = Clustering.exemplars(vecs, k = 2, iters = 1, m = 1)
      .select("cluster", "vec_id").as[(Int, Long)].collect().toSet
    assert(top1 == Set((0, 1L), (1, 3L)))
    intercept[IllegalArgumentException] {
      Clustering.exemplars(vecs, k = 2, iters = 1, m = 0)
    }
  }

  test("silhouette: exact power-of-two fixture — the far cluster " +
      "scores 1/2, the tight cluster 1, duplicate centroids give the " +
      "s=0 convention") {
    // ids 1,2 at 0 and ids 3,4 at 8; k=2 inits BOTH centroids at [0]
    // (the two smallest ids are equal). Round 1 assigns everything to
    // c0 (ties -> smaller cid), so c0 moves to the global mean 4 and
    // c1 keeps [0]. Final: the zeros sit ON c1 (a=0, b=4 -> s=1); the
    // eights take c0 (a=4, b=8 -> s=1/2). All distances are powers of
    // two — every double is exact.
    val vecs = Seq((1L, Array(0f)), (2L, Array(0f)),
      (3L, Array(8f)), (4L, Array(8f))).toDF("vec_id", "embedding")
    val out = Clustering.silhouette(vecs, k = 2, iters = 1)
      .orderBy($"cluster")
      .as[(Int, Long, Long)].collect().toSeq
    assert(out == Seq((0, 2L, 500000L), (1, 2L, 1000000L)))
    // both centroids identical and a = b = 0: the s = 0 convention
    val dup = Seq((1L, Array(0f)), (2L, Array(0f)))
      .toDF("vec_id", "embedding")
    assert(Clustering.silhouette(dup, k = 2, iters = 0)
      .as[(Int, Long, Long)].collect().toSeq == Seq((0, 2L, 0L)))
    intercept[IllegalArgumentException] {
      Clustering.silhouette(dup, k = 1, iters = 1)
    }
  }

  test("mmrRerank: hand-traced greedy — relevance picks first, the " +
      "redundancy term then flips the second pick as lambda drops, " +
      "ties break to the smaller id") {
    // 2-D corpus around probe (1,0): id1 duplicate of the probe
    // (rel 1e6), id2 at 45 deg (rel 707106), id3 orthogonal (rel 0)
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 1f)), (3L, Array(0f, 1f)),
      (100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val probes = corpus.filter($"vec_id" === 100L)
    // lambda 0.5: step1 picks id1 (5e11); step2 scores are
    //   id2: 500000*707106 - 500000*sim(2,1)=707106 -> 0
    //   id3: 500000*0      - 500000*0              -> 0
    // TIE -> smaller id wins (id2)
    val half = SimilarityOps.mmrRerank(corpus, probes, k = 2,
        poolSize = 3, lambdaX1e6 = 500000L)
      .orderBy($"mmr_rank")
      .select("mmr_rank", "vec_id", "rel_x1e6", "score_x1e12")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(half == Seq((1, 1L, 1000000L, 500000000000L),
      (2, 2L, 707106L, 0L)))
    // lambda 0.3: id2's redundancy now dominates
    //   (300000*707106 - 700000*707106 < 0) -> the orthogonal id3 wins
    val diverse = SimilarityOps.mmrRerank(corpus, probes, k = 2,
        poolSize = 3, lambdaX1e6 = 300000L)
      .orderBy($"mmr_rank")
      .select("mmr_rank", "vec_id").as[(Int, Long)].collect().toSeq
    assert(diverse == Seq((1, 1L), (2, 3L)))
    // pool smaller than k: emits every candidate once, never loops
    val tiny = SimilarityOps.mmrRerank(corpus, probes, k = 3,
      poolSize = 3, lambdaX1e6 = 500000L)
    assert(tiny.count() == 3L)
    // degenerate configs fail loud
    intercept[IllegalArgumentException] {
      SimilarityOps.mmrRerank(corpus, probes, k = 4, poolSize = 3,
        lambdaX1e6 = 500000L)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.mmrRerank(corpus, probes, k = 1, poolSize = 2,
        lambdaX1e6 = 1000001L)
    }
  }
}
