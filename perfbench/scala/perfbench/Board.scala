package perfbench

import graft.SparkEntry
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** `query_board`: seven of the spot-operator queries q01–q14 (the odd ones:
  * pricing aggregate, cursor filter, gap audit, dedup union, locator,
  * vertex, full enrichment) and two queries whose bodies call `Graph.*` with
  * a fixed round count (PageRank and HITS, every round cut by
  * `Checkpoints.barrier`), over tables generated from the seed. In set-up
  * each query's result is dumped for the DuckDB oracle compare and forced
  * once (which warms the JVM and the codegen cache for the timed plan);
  * then the queries repeat in the same order until the run's time is up
  * and each has run at least once, forcing each result with Bench.force's
  * hash. */
object Board {
  val Spot: Seq[String] = Seq("q01_pricing", "q03_cursor_filter", "q05_gap_audit",
    "q07_dedup_union", "q09_locator", "q11_vertex", "q13_enrich")
  val Graph: Seq[String] = Seq("q69_pagerank", "q140_hits")
  val RefThreads = 3

  def run(spark: SparkSession, args: Harness.Args, trace: Trace, out: Result): Unit = {
    val data = args.data.getOrElse(sys.error("query_board needs --data"))
    val dumps = Files.createDirectories(args.work.resolve("board_out"))
    val names = Spot ++ Graph
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val sc = spark.sparkContext

    def runQuery(name: String)(body: => Unit): Unit = {
      trace.current = name
      sc.setLocalProperty("perfbench.trace", name)
      try body finally sc.setLocalProperty("perfbench.trace", null)
    }

    // reference pass: dump each result for the oracle, digest what was
    // dumped, and force the query once as the timed loop will; set-up only,
    // so it runs three queries at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(RefThreads)
    val verified = try {
      val futures = (Graph ++ Spot).map { n =>
        n -> pool.submit(() => {
          sc.setLocalProperty("perfbench.trace", s"ref.$n")
          val path = dumps.resolve(n).toString
          fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(path)
          val dumped = Harness.force(spark.read.parquet(path))
          (dumped, Harness.force(fns(n)(spark, data)))
        })
      }
      futures.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
    verified.foreach { case (n, (dumped, forced)) => if (dumped != forced) mismatches += n }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(dumps.resolve("oracle_sql.json"), oracle.map { case (k, v) =>
      s"${graft.util.Json.quote(k)}: ${graft.util.Json.quote(v)}"
    }.mkString("{", ",\n", "}"))

    System.gc() // start the timed window with a clean heap
    val timedStart = System.nanoTime()
    out.num("setup_s", (timedStart - Harness.launched) / 1e9)
    val stopAt = timedStart + (args.seconds * 1e9).toLong
    val walls = names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var runs = 0
    while (runs < names.size || System.nanoTime() < stopAt) {
      val n = names(runs % names.size)
      runQuery(n) {
        val digest = trace.span("query", n) {
          val t0 = System.nanoTime()
          val d = Harness.force(fns(n)(spark, data))
          walls(n) += (System.nanoTime() - t0) / 1e6
          d
        }
        if (digest != verified(n)._1) mismatches += n
      }
      runs += 1
    }
    out.num("timed_s", (System.nanoTime() - timedStart) / 1e9)
    out.num("runs", runs.toDouble)
    out.raw("walls_ms", names.map(n =>
      s""""$n":${walls(n).mkString("[", ",", "]")}""").mkString("{", ",\n", "}"))
    out.raw("spot_queries", Spot.map(graft.util.Json.quote).mkString("[", ",", "]"))
    out.raw("graph_queries", Graph.map(graft.util.Json.quote).mkString("[", ",", "]"))
    out.raw("digest_mismatches", mismatches.map(graft.util.Json.quote).mkString("[", ",", "]"))
  }
}
