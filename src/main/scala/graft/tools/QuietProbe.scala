package graft.tools

import graft.Bench

/** Probe: pin a query's HONEST cost on a quiet host (warm JVM, min of N
  * back-to-back runs, GC time alongside each wall number so a GC-dominated
  * run is visible instead of argued about). Runs on [[graft.Session]] and
  * forces with [[graft.Bench.force]], the posture and forcing Bench itself
  * times with (same core count, shuffle partitions, extensions, AQE, ANSI),
  * so the number answers "what should the bench read on an idle machine",
  * not a differently-tuned question — its quiet rows overlay Bench's
  * regression baseline as trustworthy minimums.
  *
  * SPARK_GRAFT_PROBE_QUERIES: comma-separated SparkEntry query names
  * (default q68_dup_windows,q69_pagerank — the r8→r9 disputed pair).
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_PROBE_RUNS as usual; SPARK_GRAFT_CPUS
  * as for Bench (every core when unset). */
object QuietProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES",
      "q68_dup_windows,q69_pagerank").split(",").map(_.trim).toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Per-run steal telemetry (r16 ask #2): a "quiet" claim must be
    // MEASURED, not asserted — the two r15q rows disagreed on q198 by
    // 1.7x with nothing in the artifact to adjudicate which slot was
    // quieter. Each run carries its /proc/stat steal share, and the
    // history row records the per-query MAX so a reader can rank two
    // same-HEAD quiet rows by the conditions they were minted under.
    val probed = names.flatMap { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        Bench.force(fn(spark, "/root/testdata/sf0.001")) // warm JIT + plan cache
        // adaptive rerun count — see [[graft.Bench.needsAnotherRun]]
        val maxRuns = math.max(runs,
          sys.env.getOrElse("SPARK_GRAFT_PROBE_MAX_RUNS", "10").toInt)
        val times = scala.collection.mutable.ArrayBuffer[Double]()
        val steals = scala.collection.mutable.ArrayBuffer[Double]()
        var r = 0
        do {
          r += 1
          val j0 = Bench.cpuJiffies()
          val g0 = gcMs; val t0 = System.nanoTime()
          Bench.force(fn(spark, sfDir))
          val wall = (System.nanoTime() - t0) / 1e9
          val steal = Bench.stealPct(j0, Bench.cpuJiffies())
          println(f"PROBE $name r$r: $wall%.2f s wall, ${gcMs - g0} ms gc, " +
            f"$steal%.2f%% steal")
          times += wall
          steals += steal
        } while (Bench.needsAnotherRun(times.toSeq, runs, maxRuns))
        val maxSteal = if (steals.forall(_ < 0)) -1.0 else steals.filter(_ >= 0).max
        println(f"PROBE $name MIN: ${times.min}%.2f s of $r runs " +
          f"(spread ${times.max / times.min}%.2fx, max steal $maxSteal%.2f%%${
            if (times.last > times.min * 1.1) ", UNSTABLE at cap" else ""})")
        Some((name, times.min, maxSteal))
      } catch { case e: Throwable =>
        System.err.println(s"PROBE $name FAILED: ${e.getMessage}")
        None // a failed probe must not mint a baseline
      }
    }
    val mins = probed.map { case (n, m, _) => n -> m }
    // Record the quiet minimums as a "quiet":true BENCH_HISTORY row so the
    // bench regression gate overlays them onto the last full-board baseline
    // (a quiet idle-host number beats a contaminated bench min — the r10
    // lesson, where honest costs lived only in SCALING.md prose). Same
    // format Bench writes, plus the quiet marker; round label mirrors
    // Bench's derivation with a trailing "q". SPARK_GRAFT_PROBE_RECORD=0
    // opts out when probing experimental code.
    if (mins.nonEmpty &&
        sys.env.getOrElse("SPARK_GRAFT_PROBE_RECORD", "1") == "1") {
      def f3(t: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
      val label = sys.env.get("SPARK_GRAFT_ROUND").map(_ + "q").getOrElse {
        val pat = "BENCH_r(\\d+)\\.json".r
        val prev = Option(new java.io.File(".").listFiles()).toSeq.flatten
          .flatMap(f => pat.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        if (prev.isEmpty) "adhocq" else s"r${prev.max + 1}q"
      }
      val qs = mins.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      // steal map sits AFTER the queries map: Bench.queriesOf bounds its
      // parse at the queries map's closing brace, so sibling maps are
      // invisible to the gate — telemetry for readers, not baselines
      val stealJson = probed.map { case (k, _, s) =>
        "\"" + k + "\":" + f3(s)
      }.mkString("{", ",", "}")
      val hist =
        s"""{"round":"$label","sf":"$sfDir","quiet":true,"commit":"${Bench.codeStamp()}","contaminated":[],"queries":$qs,"bench_only":{},"steal_max_pct":$stealJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (hist + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(s"PROBE recorded ${mins.size} quiet minimums as history row $label")
    }
    spark.stop()
  }
}
