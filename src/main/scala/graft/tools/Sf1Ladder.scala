package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder the 5 most expensive board queries once at sf1 (10× the
  * sf0.1 bench fixture) — the probe that catches fixture-size-dependent
  * cliffs the sf0.1 bench can't see. Materializes an amplified fixture
  * tree under target/sf1 ONCE (id-offset unions → 10 disjoint copies, so
  * graph queries scale by disjoint components, not by densifying the same
  * nodes; embeddings get a small per-copy deterministic perturbation so
  * LSH buckets spread naturally instead of collapsing onto 10-clone
  * cliques), then runs each query through the exact SparkEntry path with
  * wall + shuffle metrics from a stage listener.
  *
  * Documents amplify as verbatim text copies — cross-copy pairs ARE
  * near-dups by construction, so pair counts grow superlinearly for the
  * similarity joins; that is the honest shape of a duplicate-heavy corpus
  * (and the documented reason pair ops carry df caps). */
object Sf1Ladder {

  /** Materialize (once) and return the sf1 fixture dir — shared with
    * [[FoldLadder]]. */
  def ensureFixture(spark: SparkSession): String = {
    val k = 10
    val src = "/root/testdata/sf0.1"
    val out = "target/sf1"

    def amplify(df: DataFrame, idCols: Seq[String], step: Long,
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        perturb(idCols.foldLeft(df)(
          (d, c) => d.withColumn(c, col(c) + lit(i * step))), i)
      }.reduce(_.unionByName(_))

    val fs = new java.io.File(out)
    if (!new java.io.File(s"$out/_READY").exists()) {
      fs.mkdirs()
      val S = 10000000L
      amplify(spark.read.parquet(s"$src/orders.parquet"),
        Seq("o_orderkey", "o_custkey"), S)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      amplify(spark.read.parquet(s"$src/lineitem.parquet"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), S)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      amplify(spark.read.parquet(s"$src/documents.parquet"), Seq("doc_id"), S)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // copy 0 is the base fixture VERBATIM (perturb = identity), so the
      // ladder tree is a strict superset of sf0.1 and the 10x comparison
      // is apples-to-apples; only clone copies 1..k-1 get the spread
      amplify(spark.read.parquet(s"$src/embeddings.parquet"), Seq("vec_id"), S,
        perturb = (d, i) => if (i == 0) d else d.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x * (lit(1.0f) + ((lit(i) * 31 + j * 7) % 13 - 6)
              .cast("float") / 100.0f)).cast("float"))))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      new java.io.File(s"$out/_READY").createNewFile()
      println("LADDER fixture materialized under target/sf1")
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    val out = ensureFixture(spark)

    // shuffle metrics: total read/write + the single heaviest stage write
    val totalWrite = new java.util.concurrent.atomic.AtomicLong
    val totalRead = new java.util.concurrent.atomic.AtomicLong
    val maxStageWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          val w = m.shuffleWriteMetrics.bytesWritten
          totalWrite.addAndGet(w)
          totalRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          maxStageWrite.accumulateAndGet(w, Math.max(_, _))
        }
      }
    })
    val names = sys.env.getOrElse("SPARK_GRAFT_LADDER_QUERIES",
      "q129_tfidf_cosine_join,q194_lp_incremental,q96_pagerank_incremental," +
        "q121_scc,q86_triangles").split(",").map(_.trim).toSeq
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      graft.Bench.force(fn(spark, "/root/testdata/sf0.001")) // warm JIT/codegen
      totalWrite.set(0); totalRead.set(0); maxStageWrite.set(0)
      val t0 = System.nanoTime()
      val rows = graft.Bench.force(fn(spark, out))
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"LADDER $name: $wall%.1f s rows=$rows " +
        f"shuffleWrite=${totalWrite.get / 1e6}%.0f MB " +
        f"shuffleRead=${totalRead.get / 1e6}%.0f MB " +
        f"peakStageWrite=${maxStageWrite.get / 1e6}%.0f MB")
    }
    spark.stop()
  }
}
