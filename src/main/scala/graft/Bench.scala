package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced end-to-end by hashing every
  * output column (a bare count() would let Spark prune the computed columns
  * out of projection-only plans, timing nothing). The forcing aggregate is
  * bit_xor — closed over Long, so it can never overflow under ANSI mode the
  * way sum(xxhash64) does on full-range 64-bit hashes. */
object Bench {

  /** Force full execution of df: hash every output column per row, then
    * bit_xor all row hashes into one Long (overflow-free by construction).
    * The same aggregate counts the rows, which is what it returns. */
  def force(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0).getLong(1)

  /** QuietProbe's adaptive stop rule (the r14 lesson — a fixed min-of-3 in
    * a fresh JVM minted q198 at 7.6 s when warmup-aware runs reach 2.4 s):
    * run at least `minRuns`, then keep running while the LAST run sits more
    * than 10% above the running min (a still-improving number is
    * JIT-dominated, not the number), hard-capped at `maxRuns`. */
  private[graft] def needsAnotherRun(times: Seq[Double], minRuns: Int,
      maxRuns: Int): Boolean =
    times.size < minRuns ||
      (times.size < maxRuns && times.last > times.min * 1.1)

  /** Parse the flat numeric `"queries":{...}` map out of a history line,
    * bounded at the map's closing brace so the `bench_only` twin map that
    * follows can never overwrite a board query's baseline (the values are
    * plain numbers, so the first '}' after the opener closes the map).
    * History lines are this main's own output, so the flat-regex parse is
    * parsing a format this file controls. */
  private def queriesOf(line: String): Map[String, Double] = {
    val qStart = line.indexOf("\"queries\":")
    if (qStart < 0) Map.empty
    else {
      val qEnd = line.indexOf('}', qStart)
      "\"([A-Za-z0-9_]+)\":([0-9]+\\.?[0-9]*)".r
        .findAllMatchIn(line.substring(qStart, qEnd + 1))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** Hypervisor-steal telemetry (r15: a 4.5% at-rest steal day burst-
    * stamped 11 queries at 3-4x — the artifact must carry the evidence
    * that adjudicates its own contamination stamps): cumulative
    * (steal, total) jiffies from /proc/stat, so any interval's steal
    * share is a subtraction. -1 when the proc interface is absent.
    * Shared with QuietProbe so quiet rows carry the same telemetry. */
  private[graft] def cpuJiffies(): (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val line = try f.getLines().next() finally f.close()
    parseJiffies(line)
  } catch { case _: Throwable => (-1L, -1L) }

  /** Parse the aggregate cpu line of /proc/stat into (steal, total)
    * jiffies. The total sums only the first EIGHT fields (user..steal):
    * guest and guest_nice are already folded into user/nice by the
    * kernel, so summing all ten double-counts guest time and deflates
    * the reported steal share on VMs running guests (r15 ADVICE). */
  private[graft] def parseJiffies(firstLine: String): (Long, Long) = {
    val vals = firstLine.split("\\s+").drop(1).map(_.toLong)
    (vals(7), vals.take(8).sum)
  }

  private[graft] def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (a._1 < 0 || b._1 < 0 || b._2 <= a._2) -1.0
    else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  /** Cumulative-wall budgeter (the r15 verdict's top ask): how many runs
    * to schedule for the next query given the elapsed bench wall. Below
    * `frac * budgetS` the normal schedule applies; at or past it, every
    * remaining query drops to ONE run — the board still times all 208
    * queries (single-run numbers lean on quiet-probe rows for per-query
    * honesty) but a ~2.5x-contended window no longer blows the driver's
    * timeout (BENCH_r14/r15 both rc=124: full board + 2-3 runs/query +
    * tails + twins does not fit a hot host). A non-positive budget or
    * fraction disables the downshift. */
  private[graft] def budgetedRuns(normal: Int, elapsedS: Double,
      budgetS: Double, frac: Double): Int =
    if (budgetS > 0 && frac > 0 && elapsedS >= budgetS * frac) 1 else normal

  /** Queries excluded from the TIMED board by default — plan-shape
    * duplicates of another timed query (the r15 verdict's ask #7: the
    * cube lattice q141 already times Expand+partial-agg, the conditional
    * aggregation q27 already times the pivot shape). They stay in
    * SparkEntry.queries/oracleSql, so the CORRECTNESS gate still checks
    * them every round — this trims what gets *timed*, not what gets
    * *checked*. Override with SPARK_GRAFT_BENCH_SKIP (comma list; empty
    * string restores full timing); SPARK_GRAFT_BENCH_ONLY bypasses the
    * skip entirely (an explicit request wins). */
  private[graft] val defaultTimedExclusions = Set("q200_cube", "q201_pivot")

  /** Sum of per-query minimums over queries with at least one successful
    * run, plus the count — the cumulative-total shape the partial trail
    * emits. Factored out so the post-tail re-emission (a tail run can
    * LOWER a min) is pinned by spec, not just exercised by timeouts. */
  private[graft] def foldedMinSum(results: Seq[(String, Seq[Double])])
      : (Double, Int) = {
    val mins = results.collect { case (_, ts) if ts.nonEmpty => ts.min }
    (mins.sum, mins.size)
  }

  /** Count of per-query contamination stamps a history row carries —
    * used by the baseline hygiene check below. */
  private def stampsOf(line: String): Int = {
    val cStart = line.indexOf("\"contaminated\":[")
    if (cStart < 0) 0
    else "\"([A-Za-z0-9_]+)\"".r
      .findAllMatchIn(line.substring(cStart, line.indexOf(']', cStart) + 1))
      .size
  }

  /** Baseline hygiene: may this full-board history row serve as the
    * regression baseline? A row that is itself a contaminated or
    * truncated board must not — its inflated mins both mask real
    * regressions (loose baselines) and mint false improvements. Three
    * disqualifiers: an explicit `"truncated":true` (the row was written
    * by a SIGTERM'd JVM racing failed queries to the exit — the r15-end
    * run left exactly such a row), an explicit
    * `"window_contaminated":true` (rows stamp themselves going
    * forward), and — for rows predating those fields — a spiky
    * signature the row carries anyway: ≥5% of a board-sized run's
    * queries stamped contaminated (the corrupt r16-start row: 19/200).
    * Skipped rows still contribute same-round refutation mins (a real
    * timing refutes a flag regardless of the window it ran in). */
  private[graft] def trustworthyBaseline(line: String): Boolean =
    !line.contains("\"truncated\":true") &&
      !line.contains("\"window_contaminated\":true") && {
        val nq = queriesOf(line).size
        nq < 20 || stampsOf(line) <= 0.05 * nq
      }

  /** Round-over-round regression detection over BENCH_HISTORY.jsonl lines.
    *
    * Baseline = the LAST full-board history entry at the same SF, overlaid
    * with any LATER `"quiet":true` rows (QuietProbe appends them): a quiet
    * idle-host minimum replaces a contaminated bench min and lowers a loaded
    * one, so the gate compares against the engine's honest cost rather than
    * whatever the last bench window happened to read (r10 lesson: a loaded
    * window minted 34 false regressions against itself).
    *
    * Window-awareness, two signals (either stamps the artifact
    * window-contaminated AND suppresses every per-query flag — a loaded
    * window's flags are noise by construction, and a real regression
    * resurfaces in the next clean window):
    *   1. UNIFORM load: the stable-set median inflation — median of
    *      now/prev over queries clean in both rounds with a ≥0.2 s
    *      baseline (sub-0.2 s timings are scheduler jitter, not signal) —
    *      exceeds 1.08 (r10's signature: 151 stable queries all +11%;
    *      tightened from 1.2 after the r14 board shipped a 1.139 median
    *      over UNTOUCHED queries as "clean" — an engine change that
    *      uniformly slows the whole stable set ≥8% is implausible,
    *      ambient load is the only mechanism that moves every query at
    *      once, and a real regression resurfaces per-query in the next
    *      clean window). Below that, the gate divides current timings by
    *      the median before applying the 1.5× threshold.
    *   2. SPIKY load: more than 5% of the timed board carries a per-query
    *      contamination stamp (>3× spread within one query's runs). r11's
    *      signature: median 0.92×, 19/205 queries stamped, tail ~6× — the
    *      median gate alone can't see it, and the stamped queries' flags
    *      were all host noise.
    *
    * Same-round refutation: when this round's EARLIER full-board history
    * rows (same `round` label, same SF, same COMMIT — passed as
    * `sameRoundMins`; the caller filters on the git HEAD stamped into each
    * history row, because a window that predates a mid-round regressing
    * change proves nothing about it) timed a query faster, the flag
    * compares min(now, same-round min) against the baseline: a query at
    * its historical time in any same-commit window this round did not
    * regress, whatever the current window read (the r11 adjudication, in
    * the gate instead of the postmortem).
    *
    * Returns (stable-set median inflation, windowContaminated, flagged
    * regressions worst-first, needs-re-time worst-first); flags exclude
    * queries stamped contaminated in either round and sub-0.3 s absolute
    * deltas. The 4th element is every raw flag that was SUPPRESSED
    * (window contamination) or REFUTED (same-round min) — reported so a
    * possibly-real regression is visibly deferred to a quiet re-time, not
    * silently dropped (the r12 ADVICE). The spiky-window 5% ratio counts
    * only stamps on BOARD queries: bench-only twins are timed in the same
    * window but are not in `current`, and counting their stamps against a
    * board-only denominator over-stamped the window (r12 defect #1).
    *
    * A flag contradicted only by a DIFFERENT-commit window of the same
    * round (`sameRoundLabelMins`) is neither trusted nor cleared: it
    * could be a mid-round regression the earlier window predates, or
    * host noise — it downgrades to needs-re-time instead of shipping as
    * a regression, so the artifact says "verify on a quiet host" rather
    * than asserting either way. */
  /** Parse a named string-array field (`"contaminated":[...]`,
    * `"untrusted":[...]`) out of a history line. */
  private def namesOf(line: String, field: String): Set[String] = {
    val start = line.indexOf("\"" + field + "\":[")
    if (start < 0) Set.empty
    else "\"([A-Za-z0-9_]+)\"".r
      .findAllMatchIn(line.substring(start, line.indexOf(']', start) + 1))
      .map(_.group(1)).toSet -- Set(field)
  }

  /** `untrustedNow`: queries whose CURRENT reading is an upper bound, not
    * a measurement — budget-downshifted single runs (no spread evidence
    * possible) and slots whose own /proc/stat interval recorded a steal
    * burst. The board-#2 r16 lesson: a steal storm over the downshifted
    * board tail minted 13 "regressions" in a window whose stable-set
    * median was a clean 1.005 — single-run burst readings must DEFER
    * (needs-re-time, evidence attached), never ship. Untrusted queries
    * are excluded from the inflation median and from shipped flags, but
    * do NOT count toward the spiky window stamp (a downshift is
    * self-inflicted schedule pressure, not evidence of ambient load).
    * Prior-round untrusted readings (the row's `"untrusted"` field) fold
    * into prevContam so an upper-bound baseline can't mask a real
    * regression — quiet rows overlay them with honest minimums. */
  private[graft] def findRegressions(histLines: Seq[String], sfDir: String,
      current: Seq[(String, Double)],
      contaminatedNow: Set[String],
      sameRoundMins: Map[String, Double] = Map.empty,
      sameRoundLabelMins: Map[String, Double] = Map.empty,
      windowStealPct: Double = -1.0,
      untrustedNow: Set[String] = Set.empty)
      : (Double, Boolean, Seq[(String, Double, Double)],
         Seq[(String, Double, Double)]) = {
    val sameSf = histLines.filter(_.contains("\"sf\":\"" + sfDir + "\""))
    val baseIdx = sameSf.lastIndexWhere(l =>
      !l.contains("\"quiet\":true") && trustworthyBaseline(l))
    if (baseIdx < 0) return (1.0, false, Seq.empty, Seq.empty)
    val prev = sameSf(baseIdx)
    var prevMins = queriesOf(prev)
    var prevContam = namesOf(prev, "contaminated") ++ namesOf(prev, "untrusted")
    for (q <- sameSf.drop(baseIdx + 1) if q.contains("\"quiet\":true");
         (k, v) <- queriesOf(q)) {
      prevMins += k -> (if (prevContam(k)) v
                        else math.min(prevMins.getOrElse(k, v), v))
      prevContam -= k // a quiet number is trustworthy by construction
    }
    val ratios = current.collect {
      case (k, v) if prevMins.contains(k) && !contaminatedNow(k) &&
          !untrustedNow(k) && !prevContam(k) && prevMins(k) >= 0.2 =>
        v / prevMins(k)
    }.sorted
    // The median only reads as AMBIENT load when a stable majority exists —
    // on a handful of queries a couple of real regressions drag it and the
    // rescale would mask them. Below 8 samples, trust the raw numbers.
    val inflation = if (ratios.size < 8) 1.0 else ratios(ratios.size / 2)
    val scale = math.max(1.0, inflation)
    // spiky-load stamp: needs a board-sized run for the 5% to mean load
    // rather than one noisy query on a short scoped board. Numerator and
    // denominator over ONE population — the board: stamps on bench-only
    // twins (timed in the window but absent from `current`) must not
    // inflate the ratio.
    val stampedOnBoard = contaminatedNow.intersect(current.map(_._1).toSet)
    // The 1.08 uniform stamp sits inside normal shared-VM drift (r15
    // ADVICE): in the 1.08-1.2 band it needs CORROBORATION — measured
    // window steal above an at-rest floor, or a spiky co-signal (≥3
    // per-query stamps) — so a genuinely quiet host at 1.09 still ships
    // its flags. Unknown steal (-1: no /proc, or a caller predating the
    // telemetry) keeps the conservative stamp. Above 1.2 the shift is
    // implausible as engine cost regardless of what the steal counter
    // saw (the r15-end disaster: 2.6x local contention at 1-3% steal —
    // steal measures the hypervisor, not a co-tenant process).
    val stealCorroborated = windowStealPct < 0 || windowStealPct >= 0.5 ||
      stampedOnBoard.size >= 3
    val windowContaminated = inflation > 1.2 ||
      (inflation > 1.08 && stealCorroborated) ||
      (current.size >= 20 && stampedOnBoard.size > 0.05 * current.size)
    // one flag rule, applied twice: raw (this window's own numbers) and
    // refuted (min with the same-commit same-round history)
    def flags(vOf: (String, Double) => Double): Seq[(String, Double, Double)] =
      current.collect {
        case (k, v0) if prevMins.contains(k) && !contaminatedNow(k) &&
            !prevContam(k) => (k, vOf(k, v0))
      }.collect {
        case (k, v) if v / scale > 1.5 * prevMins(k) &&
            v / scale - prevMins(k) > 0.3 =>
          (k, prevMins(k), v)
      }.sortBy { case (_, p, v) => -(v / p) }
    val raw = flags((_, v) => v)
    val refuted = flags((k, v) => math.min(v, sameRoundMins.getOrElse(k, v)))
    // same-round-but-different-commit contradiction: would the flag
    // clear under the label-only mins? Then it is unproven (mid-round
    // change vs host noise) — downgrade, don't ship
    val labelRefuted = flags((k, v) =>
      math.min(v, sameRoundLabelMins.getOrElse(k, v))).map(_._1).toSet
    val regs = if (windowContaminated) Seq.empty
      else refuted.filter(r => labelRefuted(r._1))
        .filterNot(r => untrustedNow(r._1))
    val surviving = regs.map(_._1).toSet
    val needsRetime = raw.filterNot(r => surviving(r._1))
    (inflation, windowContaminated, regs, needsRetime)
  }

  /** Content digest (8 hex chars) over the engine sources that define a
    * bench window's behavior — `src/main` recursively plus `build.sbt` —
    * deterministic over sorted relative paths and raw bytes. Combined
    * with [[gitHead]] into the history stamp because HEAD alone lies on a
    * dirty tree: this repo's workflow benches BEFORE committing, so two
    * windows at the same HEAD but different uncommitted code would
    * cross-refute under a sha-only stamp (the exact mid-round-change
    * hazard commit scoping exists to prevent). Content-scoping is
    * stricter than a dirty bit — clean trees at the same HEAD still
    * match (identical sources ⇒ identical digest), while any source edit
    * breaks the match in the conservative direction (fails to refute). */
  private[graft] def sourceDigest(dir: String = "."): String = try {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    def files(p: Path): Seq[Path] =
      if (!Files.exists(p)) Seq.empty
      else {
        val walk = Files.walk(p) // close: each walk holds an open dir handle
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally walk.close()
      }
    val inputs = (files(root.resolve("src/main")) ++
      Seq(root.resolve("build.sbt")).filter(Files.exists(_)))
      .sortBy(p => root.relativize(p).toString)
    val md = java.security.MessageDigest.getInstance("MD5")
    inputs.foreach { p =>
      md.update(root.relativize(p).toString.getBytes("UTF-8"))
      md.update(0.toByte)
      // a per-file read failure (e.g. a file deleted mid-walk) folds a
      // sentinel instead of aborting the whole digest — the tree is
      // still content-distinguished by every other file's bytes
      md.update(try Files.readAllBytes(p)
        catch { case _: Throwable => "<unreadable>".getBytes("UTF-8") })
    }
    md.digest().take(4).map(b => f"$b%02x").mkString
  } catch { case _: Throwable =>
    // digest machinery itself failed: stamp a UNIQUE dirty marker, never
    // a shared constant — two differently-dirty trees at the same HEAD
    // must not cross-refute each other's regression flags
    f"dirty-${System.nanoTime()}%x".take(12)
  }

  /** The history stamp same-round refutation keys on: `<head12>+<digest8>`.
    * Rows refute each other only when the FULL stamp matches — same
    * commit AND same working-tree source bytes. */
  private[graft] def codeStamp(dir: String = "."): String =
    gitHead(dir) + "+" + sourceDigest(dir)

  /** The current git HEAD (12 hex chars), read from .git directly so the
    * bench never shells out; "unknown" when unresolvable. Stamped into
    * every BENCH_HISTORY row (suffixed with [[sourceDigest]] — see
    * [[codeStamp]]) so same-round refutation can require the refuting
    * window to have run at the SAME code (a window predating a mid-round
    * regressing change must not refute its flag). */
  private[graft] def gitHead(dir: String = "."): String = try {
    import java.nio.file.{Files, Paths}
    val head = new String(Files.readAllBytes(Paths.get(dir, ".git/HEAD")),
      "UTF-8").trim
    if (!head.startsWith("ref: ")) head.take(12)
    else {
      val ref = head.stripPrefix("ref: ")
      val refFile = Paths.get(dir, ".git", ref)
      if (Files.exists(refFile))
        new String(Files.readAllBytes(refFile), "UTF-8").trim.take(12)
      else {
        val packed = Paths.get(dir, ".git/packed-refs")
        if (!Files.exists(packed)) "unknown"
        else {
          import scala.jdk.CollectionConverters._
          Files.readAllLines(packed).asScala
            .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
            .map(_.take(12)).getOrElse("unknown")
        }
      }
    }
  } catch { case _: Throwable => "unknown" }

  /** Per-query minimums over THIS round's earlier full-board windows at
    * the SAME commit — the refutation set for [[findRegressions]]. Rows
    * without a commit stamp (pre-r13 history) never refute: a window that
    * can't prove it ran the current code can't clear a flag against it. */
  private[graft] def sameRoundMinsOf(histLines: Seq[String],
      roundLabel: String, sfDir: String, commit: String)
      : Map[String, Double] = histLines
    .filter(l => l.contains("\"round\":\"" + roundLabel + "\"") &&
      l.contains("\"sf\":\"" + sfDir + "\"") &&
      l.contains("\"commit\":\"" + commit + "\"") &&
      !l.contains("\"quiet\":true"))
    .map(queriesOf)
    .foldLeft(Map.empty[String, Double]) { (acc, qs) =>
      qs.foldLeft(acc) { case (a, (k, v)) =>
        a + (k -> math.min(a.getOrElse(k, v), v))
      }
    }

  def main(args: Array[String]): Unit = {
    // Wall budget starts at JVM entry, not first timed query: warmup and
    // session startup spend the same driver timeout the budget protects.
    val benchT0 = System.nanoTime()
    def elapsedWallS: Double = (System.nanoTime() - benchT0) / 1e9
    // Default 2400 s: the r15-end driver run burned ~2560 s of timed wall
    // before its ~2800-3000 s timeout SIGTERM'd it; 2400 leaves headroom
    // for startup + warmup while never downshifting on a clean host (a
    // quiet full board is ~900-1000 s of wall).
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2400").toDouble
    // Fraction 0.7, not 0.5: a CLEAN full board costs ~1,450-1,600 s of
    // total wall (sbt+JVM ~40 s, warmup ~500 s, timed passes ~900 s), so
    // a 1,200 s threshold downshifted the tail of every board — boards
    // #1-#3 of r16 all ran their lexicographic tail single-run even in
    // calm windows, wasting the spread evidence there. At 1,680 s a clean
    // board finishes whole (no downshift, tails + twins run), while a
    // ~2.5x-contended board crosses it with ~30% of the board left and
    // still lands near ~2,100 s — inside the budget.
    val budgetFrac =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_FRAC", "0.7").toDouble
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated allowlist for local iteration on a hot query.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    // Timed-board exclusions (plan-shape twins) — see defaultTimedExclusions.
    // An explicit BENCH_ONLY request always wins over the skip set.
    val skip: Set[String] =
      if (only.nonEmpty) Set.empty
      else sys.env.get("SPARK_GRAFT_BENCH_SKIP")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(defaultTimedExclusions)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip(name) }
    // Native-hash-family twins: timed, but kept OUT of `queries`/`value` so
    // the headline total stays comparable round-over-round (the contract
    // queries are the portable-oracle forms).
    val extraSelected = SparkEntry.benchOnly.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Warm the JVM/codegen paths once on the smallest SF so per-query numbers
    // measure execution, not first-call JIT + plan-compile overhead. A query
    // that fails warmup runs cold (its first timed run absorbs JIT +
    // plan-compile), so the failure must be loud, not silent.
    (selected ++ extraSelected).foreach { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001").limit(1).collect()
      catch { case e: Throwable =>
        System.err.println(s"[bench] WARMUP failed for $name (first timed run " +
          s"will be cold): ${e.getMessage}")
      }
    }
    val benchRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // The candidate-pair dedup family showed the largest ambient-load
    // sensitivity round over round (BENCH_r05 vs quiet re-runs diverged up
    // to 5.6x on unchanged code); give those queries extra runs so one
    // contaminated pair can't define their number.
    val noisy = Set("q31_dedup_ngram", "q32_dedup_minhash", "q33_dedup_simhash",
      "q34_dedup_embed", "q45_dedup_embed_lsh", "q46_text_hash_neardup",
      "q48_curation", "q53_dedup_clusters", "q62_dedup_incremental",
      "q69_pagerank", // many small stages + checkpoint writes: load-sensitive
      "q96_pagerank_incremental", // same profile: two rank phases + checkpoints
      "q97_cc_incremental", // embeds the q31 pair pipeline + two CC phases
      "q86_triangles") // embeds the q31 pair pipeline
    def runsFor(name: String): Int =
      if (noisy(name)) math.max(benchRuns, 3) else benchRuns
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      // Measurement-hygiene (r17, guide §1.4 "time the computation"):
      // ContextCleaner is GC-driven, so without an explicit collection the
      // PREVIOUS run's / queries' superseded barrier and cache blocks squat
      // in unified memory while this run executes — the timer would measure
      // the session's garbage pressure (storage eviction + extra spill in an
      // 8 GiB driver), not the query. Collect BEFORE the timer starts and
      // give the async cleaner a beat to drain; the timed region is
      // unchanged (same force(), min-of-N fold, so this can only make runs
      // more uniform — it cannot manufacture a speedup the engine doesn't
      // have; both sides of any A/B start from a clean block manager).
      System.gc()
      Thread.sleep(100)
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None // a failed run must not produce a timing
      }
    }
    // Locale.ROOT: the default-locale %.3f renders a decimal COMMA on
    // comma-decimal JVMs, which would corrupt the JSON artifact
    def f3(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    // ---- incremental emission (r14 lesson: rc=124 vaporized the whole
    // artifact). Each completed query appends one line to the partial
    // file AND prints a driver-parseable cumulative total line, so a
    // timeout/kill still leaves (a) a per-query parseable prefix on disk
    // and (b) a final stdout JSON line covering every completed query —
    // never "parsed": null again.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val partialPath = java.nio.file.Paths.get(
      outPath.stripSuffix(".json") + "_partial.jsonl")
    java.nio.file.Files.write(partialPath, Array.emptyByteArray)
    def appendPartial(line: String): Unit =
      java.nio.file.Files.write(partialPath,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    val windowJiffies0 = cpuJiffies()
    var doneSum = 0.0
    var doneN = 0
    var lastJiffies = cpuJiffies()
    // per-query slot steal (the interval covering that query's runs) —
    // recorded in the partial trail AND fed to the gate: a slot that saw
    // a steal burst above SPARK_GRAFT_STEAL_STAMP_PCT minted an upper
    // bound, not a measurement
    val slotSteal = scala.collection.mutable.Map[String, Double]()
    val stealStampPct =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_STAMP_PCT", "5.0").toDouble
    // NOTE for consumers: partial cumulative lines reuse "metric":"total"
    // DELIBERATELY — the driver's timeout fallback parses the last JSON
    // line in its stdout tail, and a distinct metric name would regress
    // the r15 win (a SIGTERM'd run still parsing). Anything that greps
    // for the total must take the last line WITHOUT "partial":true.
    def emitCumulative(phase: String, sum: Double, n: Int, last: String): Unit =
      println(s"""{"metric":"total","partial":true,"phase":"$phase","value":${
        f3(sum)},"unit":"sec","queries_n":$n,"last":"$last","detail":"${
        partialPath}","sf":"$sfDir"}""")
    def emitDone(name: String, ts: Seq[Double]): Unit = {
      val nowJ = cpuJiffies()
      val steal = stealPct(lastJiffies, nowJ)
      lastJiffies = nowJ
      slotSteal(name) = steal
      if (ts.isEmpty) appendPartial(s"""{"q":"$name","failed":true}""")
      else {
        doneSum += ts.min; doneN += 1
        appendPartial(s"""{"q":"$name","min":${f3(ts.min)},"steal_pct":${
          f3(steal)},"runs":${ts.map(f3).mkString("[", ",", "]")}}""")
      }
      emitCumulative("first_pass", doneSum, doneN, name)
    }
    // ---- cumulative-wall budgeter (r16 ask #1): past frac*budget the
    // remaining queries run ONCE each and the tail pass + bench-only twins
    // are skipped, so a contended window still yields a full parseable
    // board at rc=0 instead of a SIGTERM'd artifact. The downshift is an
    // event in the partial trail — a reader can see exactly which numbers
    // are single-run.
    var downshifted = false
    def noteDownshift(at: String): Unit = if (!downshifted) {
      downshifted = true
      appendPartial(s"""{"budget_downshift":true,"elapsed_s":${
        f3(elapsedWallS)},"budget_s":${f3(budgetS)},"at":"$at"}""")
      System.err.println(f"[bench] BUDGET downshift at $at: elapsed " +
        f"$elapsedWallS%.0f s >= ${budgetFrac * budgetS}%.0f s — remaining " +
        "queries run once, tail pass and bench-only twins skipped")
    }
    val firstPass = selected.map { case (name, fn) =>
      val scheduled = budgetedRuns(runsFor(name), elapsedWallS, budgetS,
        budgetFrac)
      if (scheduled < runsFor(name)) noteDownshift(name)
      val ts = (0 until scheduled).flatMap(_ => timeOne(name, fn))
      emitDone(name, ts)
      (name, fn, ts, scheduled)
    }
    // Ambient-load guard: the min of N back-to-back runs still lies when the
    // whole window was contaminated, so re-time the slowest queries once
    // more at the END of the bench — a different wall-clock slot — and fold
    // the extra run in. Per-run times are emitted so a contaminated run
    // stays visible in the artifact instead of being hidden by the min.
    // Budget pressure zeroes the tail: extra runs of the slowest queries
    // are exactly the wall the downshift exists to save.
    val tailN =
      if (budgetedRuns(2, elapsedWallS, budgetS, budgetFrac) == 1) {
        noteDownshift("tail_pass")
        0
      } else sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL", "5").toInt
    val slowest = firstPass.filter(_._3.nonEmpty).sortBy(-_._3.min).take(tailN)
      .map(_._1).toSet
    val results = firstPass.map { case (name, fn, ts, scheduled) =>
      val tailScheduled = ts.nonEmpty && slowest(name)
      val tail = if (tailScheduled) Seq(timeOne(name, fn)) else Seq.empty
      val expected = scheduled + tail.size
      if (tailScheduled) // forensics: the tail run joins the partial trail
        appendPartial(s"""{"q":"$name","tail_runs":${
          tail.flatten.map(f3).mkString("[", ",", "]")}}""")
      (name, ts ++ tail.flatten, expected)
    }
    // Re-emit the cumulative total AFTER the tail pass (r15 defect #3): a
    // timeout landing between first-pass end and tail completion would
    // otherwise report a total that excludes tail evidence.
    if (tailN > 0) {
      val (postSum, postN) = foldedMinSum(results.map(r => r._1 -> r._2))
      emitCumulative("post_tail", postSum, postN, "tail_pass")
    }
    // A query only counts when EVERY scheduled run (tail included)
    // succeeded: an intermittent failure must not read as a trustworthy
    // min-of-N timing.
    val ok = results.collect { case (k, ts, exp) if ts.size >= exp => k -> ts.min }
    val flaky = results.collect { case (k, ts, exp) if ts.nonEmpty && ts.size < exp => k }
    val failed = results.collect { case (k, ts, _) if ts.isEmpty => k }
    // The native-family twins run LAST so they can never contaminate the
    // contract numbers; failures are reported but don't fail the bench.
    // Budget pressure (checked before EACH twin, so a mid-twins crossing
    // stops the rest) skips them outright: they are off-board telemetry,
    // and the board's rc=0 is what the budget protects.
    val extraResults = extraSelected.flatMap { case (name, fn) =>
      if (budgetedRuns(2, elapsedWallS, budgetS, budgetFrac) == 1) {
        noteDownshift(name)
        appendPartial(s"""{"q":"$name","bench_only":true,"budget_skipped":true}""")
        None
      } else {
        val ts = (0 until benchRuns).flatMap(_ => timeOne(name, fn))
        appendPartial(if (ts.isEmpty)
          s"""{"q":"$name","bench_only":true,"failed":true}"""
        else s"""{"q":"$name","bench_only":true,"min":${f3(ts.min)},"runs":${
          ts.map(f3).mkString("[", ",", "]")}}""")
        Some(name -> ts)
      }
    }
    val extraOk = extraResults.collect { case (k, ts) if ts.nonEmpty => k -> ts.min }
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val extraJson = extraOk.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val runsJson = (results.map(r => r._1 -> r._2) ++ extraResults)
      .collect { case (k, ts) if ts.nonEmpty =>
        "\"" + k + "\":" + ts.map(f3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // Ambient-load stamp: a >3x max/min spread within one query's runs is
    // the recurring host-contamination signature (q68 in r7 and r8, both
    // root-caused to ambient load with GC logs — SCALING.md:282). Stamp
    // those queries in the artifact so future readers see "contaminated
    // window, min is the quiet number" instead of re-investigating.
    val contaminated = (results.map(r => r._1 -> r._2) ++ extraResults)
      .collect { case (k, ts) if ts.size >= 2 && ts.max / ts.min > 3.0 => k }
    // The round label is needed BEFORE the gate now: same-round history
    // rows refute flags. (The driver writes BENCH_r{N}.json AFTER the
    // round's bench, so at bench time the newest artifact on disk is the
    // previous round's.)
    val roundLabel = sys.env.get("SPARK_GRAFT_ROUND").getOrElse {
      val pat = "BENCH_r(\\d+)\\.json".r
      val prev = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => pat.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (prev.isEmpty) "adhoc" else s"r${prev.max + 1}"
    }
    // ---- round-over-round regression gate --------------------------------
    // Diff this run's per-query minimums against the PREVIOUS full-board
    // history entry at the same SF (BENCH_HISTORY.jsonl) and flag any query
    // slower than 1.5x its previous-round minimum — excluding queries whose
    // run window was stamped contaminated in EITHER round, sub-0.3 s
    // absolute deltas (pure scheduler jitter), and queries at their
    // historical time in an EARLIER full-board window of THIS round (host
    // noise in this window, not a regression). r9's q68 2.0->5.0 s and
    // q69 3.5->5.4 s were only caught by a manual audit; this makes the
    // history actionable in the artifact itself.
    val histLines = {
      val histFile = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
      if (!java.nio.file.Files.exists(histFile)) Seq.empty[String]
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(histFile).asScala.toSeq
      }
    }
    val commit = codeStamp()
    // refutation requires SAME round AND same commit: a mid-round change
    // must not have its regression refuted by a window that predates it.
    // Label-only mins (any commit) can only DOWNGRADE a flag to
    // needs-re-time — contradicted-but-unproven.
    val sameRoundMins = sameRoundMinsOf(histLines, roundLabel, sfDir, commit)
    val roundLabelMins: Map[String, Double] = histLines
      .filter(l => l.contains("\"round\":\"" + roundLabel + "\"") &&
        l.contains("\"sf\":\"" + sfDir + "\"") && !l.contains("\"quiet\":true"))
      .map(queriesOf)
      .foldLeft(Map.empty[String, Double]) { (acc, qs) =>
        qs.foldLeft(acc) { case (a, (k, v)) =>
          a + (k -> math.min(a.getOrElse(k, v), v))
        }
      }
    // Window steal is measured BEFORE the gate runs so the 1.08-1.2
    // uniform-inflation band can demand steal corroboration (r15 ADVICE:
    // a genuinely quiet host at 1.09 must still ship its flags).
    val windowSteal = stealPct(windowJiffies0, cpuJiffies())
    // Untrusted readings (see findRegressions): budget-downshifted
    // single-run queries + slots that recorded a steal burst. They defer
    // their flags instead of shipping them, and the history row labels
    // them so they never become baselines.
    val downshiftedQ = firstPass.collect {
      case (name, _, _, scheduled) if scheduled < runsFor(name) => name
    }.toSet
    val stealStamped = slotSteal.collect {
      case (name, s) if s >= stealStampPct => name
    }.toSet
    val untrusted = (downshiftedQ ++ stealStamped)
      .intersect(ok.map(_._1).toSet)
    val (windowInflation, windowContaminated, regressions, needsRetime) =
      if (histLines.isEmpty || only.nonEmpty)
        (1.0, false, Seq.empty[(String, Double, Double)],
          Seq.empty[(String, Double, Double)])
      else findRegressions(histLines, sfDir, ok, contaminated.toSet,
        sameRoundMins, roundLabelMins, windowSteal, untrusted)
    if (windowContaminated)
      System.err.println(f"[bench] WINDOW CONTAMINATED (median inflation " +
        f"$windowInflation%.2fx, ${contaminated.size}/${ok.size} queries " +
        "stamped) — timings are upper bounds, regression flags suppressed; " +
        "re-run on an idle host or trust same-round clean windows")
    val regJson = regressions.map { case (k, p, v) =>
      "\"" + k + "\":{\"prev\":" + f3(p) + ",\"now\":" + f3(v) + "}"
    }.mkString("{", ",", "}")
    val retimeJson = needsRetime.map { case (k, p, v) =>
      "\"" + k + "\":{\"prev\":" + f3(p) + ",\"now\":" + f3(v) + "}"
    }.mkString("{", ",", "}")
    if (regressions.nonEmpty)
      System.err.println(s"[bench] REGRESSIONS vs previous round (>1.5x min, " +
        f"load-normalized by $windowInflation%.2fx): " +
        regressions.map { case (k, p, v) => s"$k $p->$v" }.mkString(", "))
    if (needsRetime.nonEmpty)
      System.err.println("[bench] NEEDS RE-TIME (raw flags suppressed by " +
        "window contamination or refuted by a same-commit window — verify " +
        "with QuietProbe, don't trust silently): " +
        needsRetime.map { case (k, p, v) => s"$k $p->$v" }.mkString(", "))
    // The driver captures only a bounded TAIL (~2 KB) of stdout and parses
    // the final JSON line out of it. BENCH_r06 AND r07 came back
    // "parsed": null because per-query content pushed that single line past
    // the capture window and its head was clipped. So the LAST line is now
    // O(100) bytes — total + sf + counts + a pointer — and EVERYTHING
    // per-query (mins, per-run arrays, bench-only twins) lives on earlier
    // stdout lines and in bench_out.json / bench_out_detail.json.
    // Round-best overlay: per-query min across THIS round's full-board
    // windows (earlier history rows + this run). When the final window is
    // loaded, this is the round's honest number — the artifact carries it
    // so a reader never has to re-adjudicate against the history by hand.
    // Label-scoped (NOT commit-scoped like the refutation set): the
    // round's best observed cost is a performance summary, and a
    // mid-round commit doesn't invalidate an earlier window's timing of
    // the queries it didn't touch.
    val roundBest = ok.map { case (k, v) =>
      k -> math.min(v, roundLabelMins.getOrElse(k, v))
    }
    val roundBestTotal = roundBest.map(_._2).sum
    val roundBestJson = roundBest.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // One human-readable sentence generated FROM the artifact fields — the
    // round-closing commit message quotes this instead of describing the
    // round by hand, so the message can never contradict the artifact
    // (the r13 close claimed "zero needs-re-time" while its artifact said
    // needs_retime_n: 5; the board ran after the final commit).
    val roundSummary = f"$roundLabel board: ${ok.size} queries, " +
      f"window total ${total}%.1fs (round best ${roundBestTotal}%.1fs), " +
      s"regressions ${regressions.size}, needs_retime ${needsRetime.size}, " +
      s"failed ${failed.size}, flaky ${flaky.size}, " +
      s"untrusted ${untrusted.size}, " +
      f"window_inflation $windowInflation%.3f, " +
      s"contaminated $windowContaminated" +
      (if (downshifted) ", BUDGET-DOWNSHIFTED (single-run tail of board)"
       else "")
    val detail =
      s"""{"metric":"detail","round_summary":"$roundSummary","queries":$qs,"runs":$runsJson,"bench_only":$extraJson,"failed":${arr(failed)},"flaky":${arr(flaky)},"contaminated":${arr(contaminated)},"untrusted":${arr(untrusted.toSeq.sorted)},"window_inflation":${f3(windowInflation)},"window_contaminated":$windowContaminated,"window_steal_pct":${f3(windowSteal)},"regressions":$regJson,"needs_retime":$retimeJson,"round_best_total":${f3(roundBestTotal)},"round_best_queries":$roundBestJson,"commit":"$commit","sf":"$sfDir"}"""
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries_n":${ok.size},"failed_n":${failed.size},"flaky_n":${flaky.size},"regressions_n":${regressions.size},"needs_retime_n":${needsRetime.size},"window_inflation":${f3(windowInflation)},"window_contaminated":$windowContaminated,"round_best_total":${f3(roundBestTotal)},"detail":"${outPath.stripSuffix(".json") + "_detail.json"}","sf":"$sfDir"}"""
    println(detail)
    println(line)
    // The file artifact has no size constraint, so it keeps the full
    // headline (total + per-query mins) for local round-over-round diffs;
    // only the stdout tail needed the compact form.
    val fullLine =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"bench_only":$extraJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath.stripSuffix(".json") + "_detail.json"),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Append-only per-round history (round, sf, per-query mins) so
    // round-over-round diffs stop depending on the clobberable working
    // detail file (commit c2a88bf restored it once already). Full-board
    // runs only — a SPARK_GRAFT_BENCH_ONLY iteration must never pollute
    // the history. The round label comes from SPARK_GRAFT_ROUND when the
    // caller sets it, else "r<max BENCH_r*.json + 1>" (the driver writes
    // BENCH_r{N}.json AFTER the round's bench, so at bench time the
    // newest artifact on disk is the previous round's).
    if (only.isEmpty) {
      // truncated: the SparkContext died under us (timeout SIGTERM racing
      // the remaining queries to "failed" — the r15-end corruption). The
      // row is still written as evidence, but the marker disqualifies it
      // as a future regression baseline (see trustworthyBaseline).
      val truncated = spark.sparkContext.isStopped
      val hist =
        s"""{"round":"$roundLabel","sf":"$sfDir","commit":"$commit","window_steal_pct":${
          f3(windowSteal)},"window_contaminated":$windowContaminated${
          if (truncated) ",\"truncated\":true" else ""},"contaminated":${
          arr(contaminated)},"untrusted":${arr(untrusted.toSeq.sorted)},"queries":$qs,"bench_only":$extraJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (hist + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    if (failed.nonEmpty || flaky.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
