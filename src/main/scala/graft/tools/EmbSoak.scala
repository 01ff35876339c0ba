package graft.tools

import graft.operators.{Pq, Similarity}
import graft.streaming.EmbIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Realistic-shape vector-daemon soak (r12 verdict ask #3): the 200-batch
  * [[SoakProbe]] proves the daemon PROTOCOLS at toy shape (40-doc
  * batches, 16-dim); this runs the [[EmbIngest]] daemon where a real
  * deployment sits — ≥1k-vector batches, 384-dim embeddings, nlist 256,
  * the IVF-PQ twin folding alongside, compaction + the dual retrain both
  * live — and records the quantities that only appear at this shape:
  *   - the centroid broadcast (nlist x dim doubles) riding every gate;
  *   - per-cell occupancy skew (max/mean) of the serving tree;
  *   - Bloom-sidecar fill against its default capacity;
  *   - per-batch wall (flat = O(batch)) and the retrain wall separately.
  *
  * Batch mix per 1,000 vectors: ~100 exact re-deliveries of the previous
  * batch, ~100 near-dup copies of earlier admitted vectors (1e-3 noise —
  * cosine ≈ 0.999999, above the 0.999 gate), ~800 novel members of tight
  * clusters (0.1 noise around full-rank Gaussian directions ≈ cosine
  * 0.995 within cluster — BELOW the gate, so legitimate cluster traffic
  * is not false-dropped; the r12 soak-fixture lesson).
  *
  * Checkpoints every 20 batches: the folded serving tree == a full
  * re-assignment against its own stored centroids, both trees hold the
  * same vec_id set, and the ADC probe serves top-k off the twin.
  *
  * Run: `tools/run_probe.sh graft.tools.EmbSoak [nBatches] [perBatch]`
  * (defaults 60 x 1000); EMBSOAK JSON lines for SCALING.md.
  * `SPARK_GRAFT_CPUS` sets the core count (default: `nproc`). */
object EmbSoak {

  private val dim = 384
  private val nClusters = 4000

  private def clusterDir(c: Int): Array[Double] = {
    val r = new scala.util.Random(c * 7919L + 101)
    Array.fill(dim)(r.nextGaussian())
  }

  private def member(id: Long, c: Int, noise: Double): Array[Float] = {
    val d = clusterDir(c)
    val r = new scala.util.Random(id * 0x9E3779B97F4A7C15L + 3)
    Array.tabulate(dim)(i => (d(i) + r.nextGaussian() * noise).toFloat)
  }

  private def near(of: Array[Float], id: Long): Array[Float] = {
    val r = new scala.util.Random(id * 2654435761L + 17)
    of.map(x => x + (r.nextGaussian() * 1e-3).toFloat)
  }

  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(60)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(1000)
    // nlist floor/cap (r14: the retrain slot resizes under the adaptive
    // √n rule — a floor below √corpus demonstrates the growth path, the
    // default 256 reproduces the r13 fixed-size run when √n stays under it)
    val nlist = args.lift(2).map(_.toInt).getOrElse(256)
    val maxNlist = args.lift(3).map(_.toInt).getOrElse(4096)
    val (compactEvery, retrainEvery, checkpointEvery) = (10, 30, 20)
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_embsoak").toString
    val (idx, pq) = (s"$root/idx", s"$root/pq")

    def mkBatch(b: Int): DataFrame = {
      val r = new scala.util.Random(b * 104729L + 5)
      val rows = (0 until perBatch).map { j =>
        val roll = r.nextInt(100)
        val id = b * 100000L + j
        if (b > 0 && roll < 10) {
          // exact re-delivery of a prior-batch id (same bytes)
          val pid = (b - 1) * 100000L + r.nextInt(perBatch)
          val pc = ((pid / 100000L).toInt * 31 + (pid % 100000L).toInt) % nClusters
          (pid, member(pid, pc, 0.1))
        } else if (b > 0 && roll < 20) {
          // near-dup of an earlier admitted vector under a NEW id
          val src = r.nextInt(b) * 100000L + r.nextInt(perBatch)
          val sc = ((src / 100000L).toInt * 31 + (src % 100000L).toInt) % nClusters
          (id, near(member(src, sc, 0.1), id))
        } else {
          val c = ((b * 31 + j) % nClusters)
          (id, member(id, c, 0.1))
        }
      }
      rows.toDF("vec_id", "embedding")
    }

    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val retrainWalls = scala.collection.mutable.ArrayBuffer[Double]()
    var totalAdmitted = 0L
    for (b <- 0 until nBatches) {
      val batch = mkBatch(b)
      val isRetrain = retrainEvery > 0 && b > 0 && b % retrainEvery == 0
      val t0 = System.nanoTime()
      val r = EmbIngest.commitEmbBatch(spark, idx, batch, b.toLong,
        nlist = nlist, dim = dim, dedupThreshold = Some(0.999), nprobe = 4,
        compactEvery = compactEvery, retrainEvery = retrainEvery,
        pqIndexPath = Some(pq), pqM = 8, pqKsub = 16, maxNlist = maxNlist)
      val wall = (System.nanoTime() - t0) / 1e9
      if (isRetrain) retrainWalls += wall else walls += wall
      totalAdmitted += r.admitted
      if (b % 5 == 0 || b == nBatches - 1 || isRetrain) {
        val vroot = Similarity.ivfRoot(spark, idx)
        val cells = spark.read.parquet(s"$vroot/vectors")
          .groupBy("cid").count().select(col("count")).collect().map(_.getLong(0))
        val skew = if (cells.isEmpty) 0.0
          else cells.max.toDouble / (cells.sum.toDouble / cells.length)
        val fill = graft.util.BloomSidecar.stats(spark, idx)
          .map(s => f"${s.fill}%.4f").getOrElse("null")
        val fs = graft.util.Lsm.fs(spark, idx)
        def maxFrag(p: String): Int = {
          val pp = new Path(p)
          if (!fs.exists(pp)) 0
          else fs.listStatus(pp).filter(_.isDirectory)
            .filter(_.getPath.getName.startsWith("cid="))
            .map(d => fs.listStatus(d.getPath).count(f => f.isFile &&
              !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))).foldLeft(0)(math.max)
        }
        val pqRoot = Pq.ivfPqRoot(spark, pq)
        println(f"""EMBSOAK {"batch":$b,"wall":$wall%.2f,"retrain":$isRetrain,"admitted":${r.admitted},"dropped_neardup":${r.droppedWithinBatch + r.droppedVsIndex},"dropped_redelivered":${r.droppedRedelivered},"total_admitted":$totalAdmitted,"cells":${cells.length},"cell_max":${if (cells.isEmpty) 0 else cells.max},"cell_skew":$skew%.2f,"bloom_fill":$fill,"ivf_max_frag":${maxFrag(s"$vroot/vectors")},"pq_max_frag":${maxFrag(s"$pqRoot/codes")}}""")
      }
      if (b > 0 && b % checkpointEvery == 0) {
        val vroot = Similarity.ivfRoot(spark, idx)
        val tree = spark.read.parquet(s"$vroot/vectors")
        val cents = spark.read.parquet(s"$vroot/centroids")
        val stored = tree.select(col("vec_id"), col("cid").cast("long"))
          .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
        val reassigned = Similarity.assignToCentroids(
            tree.select("vec_id", "embedding"), cents)
          .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
        val ivfOk = stored == reassigned
        val pqRoot = Pq.ivfPqRoot(spark, pq)
        val pqIds = spark.read.parquet(s"$pqRoot/codes")
          .select("vec_id").distinct().count()
        val idsOk = pqIds == stored.size
        val q = mkBatch(b + 7919).limit(3) // held-out probes
        val adcRows = Pq.ivfPqTopK(spark, pq, q, 10, nprobe = 8,
          m = 8, dim = dim).count()
        println(s"""EMBSOAK_CHECKPOINT {"batch":$b,"ivf_tree_eq_reassign":$ivfOk,"pq_ids_eq_ivf":$idsOk,"adc_rows":$adcRows}""")
        require(ivfOk && idsOk && adcRows == 30, s"checkpoint $b diverged")
      }
    }
    val sorted = walls.sorted
    def pct(p: Double) = sorted((p * (sorted.size - 1)).toInt)
    val q1 = walls.take(walls.size / 4)
    val q4 = walls.takeRight(walls.size / 4)
    println(f"""EMBSOAK_SUMMARY {"batches":$nBatches,"per_batch":$perBatch,"dim":$dim,"nlist":$nlist,"total_admitted":$totalAdmitted,"wall_p50":${pct(0.5)}%.2f,"wall_p90":${pct(0.9)}%.2f,"wall_max":${sorted.last}%.2f,"first_quarter_mean":${q1.sum / q1.size}%.2f,"last_quarter_mean":${q4.sum / q4.size}%.2f,"retrain_walls":${retrainWalls.map(w => f"$w%.1f").mkString("[", ",", "]")},"centroid_broadcast_bytes":${nlist * dim * 8}}""")
    spark.stop()
  }
}
