package graft.tools

import graft.operators.{Pq, Retrieval, Similarity}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Measure the daemon FOLD cost at two scales — the proof that every
  * incremental insert is O(batch), not O(corpus): at sf0.1 and at sf1
  * (10× tree AND 10× batch via the [[Sf1Ladder]] fixture), build the
  * at-rest tree from 90% of the rows, then time folding the remaining
  * 10% as one batch. O(batch) predicts the sf1 fold at ≈10× the sf0.1
  * fold (the batch is 10× bigger); an O(corpus) rescan would show ≈100×
  * (10× batch × 10× tree). Covers the three LSM trees: BM25 postings
  * (`invIndexInsert`), IVF vectors (`ivfInsert`), IVF-PQ codes+vnorms
  * (`ivfPqInsert`). Build times print too, for context. Output: one
  * `FOLD` line per (tree, scale) with wall + shuffle totals. */
object FoldLadder {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    val sf1 = Sf1Ladder.ensureFixture(spark)

    val totalWrite = new java.util.concurrent.atomic.AtomicLong
    val totalRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          totalWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          totalRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    def timed(label: String, scale: String)(body: => Unit): Unit = {
      totalWrite.set(0); totalRead.set(0)
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"FOLD $label $scale: $wall%.1f s " +
        f"shuffleWrite=${totalWrite.get / 1e6}%.0f MB " +
        f"shuffleRead=${totalRead.get / 1e6}%.0f MB")
    }

    for ((scale, dir) <- Seq("sf0.1" -> "/root/testdata/sf0.1", "sf1" -> sf1)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"fold_$scale").toString
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val (docBase, docBatch) =
        (docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
      val (embBase, embBatch) =
        (emb.filter(col("vec_id") % 10 =!= 0), emb.filter(col("vec_id") % 10 === 0))

      timed("inv_build", scale) {
        Retrieval.writeInvertedIndex(docBase, s"$tmp/inv", nBuckets = 64)
      }
      timed("invIndexInsert", scale) {
        Retrieval.invIndexInsert(spark, s"$tmp/inv", docBatch, 1L)
      }
      timed("ivf_build", scale) {
        Similarity.writeIvfIndex(embBase, s"$tmp/ivf", nlist = 16)
      }
      timed("ivfInsert", scale) {
        Similarity.ivfInsert(spark, s"$tmp/ivf", embBatch, 1L)
      }
      timed("ivfpq_build", scale) {
        Pq.writeIvfPqIndex(embBase, s"$tmp/pq", nlist = 16)
      }
      timed("ivfPqInsert", scale) {
        Pq.ivfPqInsert(spark, s"$tmp/pq", embBatch, 1L)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
    spark.stop()
  }
}
