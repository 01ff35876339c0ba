package graft.tools

import graft.operators.Multimodal
import graft.streaming.MediaIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Media-daemon soak (r12 verdict ask #8): the last daemon without
  * operational evidence. Drives [[MediaIngest.commitMediaBatch]] — decode
  * where the payload lands, aHash, pigeonhole Hamming gate, fold,
  * compaction, Bloom-sidecar rebuild — for 100 micro-batches of real BMP
  * payloads and records what the other soaks record: per-batch wall
  * (flat), per-bucket LSM fragment counts (bounded by compaction),
  * sidecar fill, and served==rebuild equivalence at checkpoints (the
  * served hash table against a cold [[Multimodal.imageHashes]] pass over
  * the admitted corpus).
  *
  * Batch mix per 40 docs: ~10% exact re-deliveries of the previous
  * batch's docs, ~10% near-dups (an earlier doc's BMP with one pixel
  * nudged — Hamming ≤ maxDist of the stored hash) under new ids, rest
  * novel.
  *
  * Run: `tools/run_probe.sh graft.tools.MediaSoak [nBatches] [perBatch]`
  * (defaults 100 x 40); MEDIASOAK JSON lines for SCALING.md.
  * `SPARK_GRAFT_CPUS` sets the core count (default: `nproc`). */
object MediaSoak {

  /** A near-dup payload: re-encode the same seed at the same size, then
    * flip one low bit in the pixel area so the aHash moves by ≤1 bit. */
  private def nearDup(w: Int, h: Int, seed: Long, saltId: Long): Array[Byte] = {
    val b = Multimodal.encodeBmp(w, h, seed)
    val out = b.clone()
    out(out.length - 1 - (saltId % 7).toInt) =
      (out(out.length - 1 - (saltId % 7).toInt) ^ 0x01).toByte
    out
  }

  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(100)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(40)
    // payload shape (r13 verdict ask #7): the 100x40 small-BMP run proved
    // the protocol; `[w] [h]` size the decode stage and the
    // 16-byte-hash-rows claim where a deployment sits (512 512 500-doc
    // batches ≈ 390 MB/batch of pixels through decode -> 8-byte hashes)
    val imgW = args.lift(2).map(_.toInt).getOrElse(24)
    val imgH = args.lift(3).map(_.toInt).getOrElse(16)
    val compactEvery = 10
    val checkpointEvery = 25
    // vectorized-reader batch sized to the payload (the r14 finding: the
    // default 4096 ROWS × ~786 KB payloads asks every task for multi-GB
    // contiguous buffers and OOMs the checkpoint's rebuild read —
    // MediaIngest.readCorpus scaladoc): target ~64 MB column batches
    val payloadB = imgW * imgH * 3 + 54
    val readerBatch = math.max(16, (64 << 20) / payloadB)
    val spark = graft.Session()
    // micro-batches are small (tens to hundreds of docs): 8 shuffle
    // partitions keeps per-stage task overhead from dominating the
    // per-batch wall it measures
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", readerBatch.toString)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_mediasoak").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")

    // per-batch id block: 1000 preserves the r13 run's ids at perBatch=40;
    // larger batches (500-doc realistic shape) get a wider block so batch
    // id ranges can never collide
    val idBlock = math.max(1000L, perBatch * 2L)
    def mkBatch(b: Int): DataFrame = {
      val r = new scala.util.Random(b * 6700417L + 23)
      val rows = (0 until perBatch).map { j =>
        val roll = r.nextInt(100)
        val id = b * idBlock + j
        if (b > 0 && roll < 10) {
          val pid = (b - 1) * idBlock + r.nextInt(perBatch)
          (pid, Multimodal.encodeBmp(imgW, imgH, pid))
        } else if (b > 0 && roll < 20) {
          val src = r.nextInt(b) * idBlock + r.nextInt(perBatch)
          (id, nearDup(imgW, imgH, src, id))
        } else (id, Multimodal.encodeBmp(imgW, imgH, id))
      }
      rows.toDF("doc_id", "payload")
    }

    def maxFrag: Int = {
      val fs = graft.util.Lsm.fs(spark, index)
      val p = new Path(s"$index/chunks")
      if (!fs.exists(p)) 0
      else fs.listStatus(p).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("tb="))
        .map(d => fs.listStatus(d.getPath).count(f => f.isFile &&
          !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")))
        .foldLeft(0)(math.max)
    }

    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val phaseHistory = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var totalAdmitted = 0L
    for (b <- 0 until nBatches) {
      val batch = mkBatch(b)
      val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      val r = MediaIngest.commitMediaBatch(spark, batch, b.toLong, corpus,
        index, maxDist = 6, nBuckets = 8, compactEvery = compactEvery,
        phaseWalls = Some(phases))
      val wall = (System.nanoTime() - t0) / 1e9
      walls += wall
      phaseHistory += phases.toMap
      totalAdmitted += r.admitted
      if (b % 10 == 0 || b == nBatches - 1) {
        val fill = graft.util.BloomSidecar.stats(spark, index)
          .map(s => f"${s.fill}%.4f").getOrElse("null")
        val phaseJson = phases.map { case (k, v) =>
          "\"" + k + f"""\":$v%.2f""" }.mkString("{", ",", "}")
        println(f"""MEDIASOAK {"batch":$b,"wall":$wall%.2f,"admitted":${r.admitted},"dropped_neardup":${r.droppedWithinBatch + r.droppedVsIndex},"dropped_redelivered":${r.droppedRedelivered},"total_admitted":$totalAdmitted,"chunks_max_frag":$maxFrag,"bloom_fill":$fill,"phases":$phaseJson}""")
      }
      if (b > 0 && b % checkpointEvery == 0) {
        // served hash table == a cold decode+hash pass over the admitted
        // corpus (the fold never drifts from what a rebuild would serve)
        val servedRows = Multimodal.servedHashes(spark, index)
          .select("doc_id", "ahash").collect()
          .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
        val rebuilt = Multimodal.imageHashes(spark,
            MediaIngest.readCorpus(spark, corpus)).toDF()
          .select("doc_id", "ahash").collect()
          .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
        val ok = servedRows == rebuilt
        println(s"""MEDIASOAK_CHECKPOINT {"batch":$b,"served_eq_rebuild":$ok,"served_rows":${servedRows.size}}""")
        require(ok, s"checkpoint $b diverged")
      }
    }
    val sorted = walls.sorted
    def pct(p: Double) = sorted((p * (sorted.size - 1)).toInt)
    val q1 = walls.take(nBatches / 4)
    val q4 = walls.takeRight(nBatches / 4)
    val payloadBytes = imgW * imgH * 3 + 54 // 24-bit BMP + header
    println(f"""MEDIASOAK_SUMMARY {"batches":$nBatches,"per_batch":$perBatch,"img_w":$imgW,"img_h":$imgH,"payload_bytes":$payloadBytes,"total_admitted":$totalAdmitted,"wall_p50":${pct(0.5)}%.2f,"wall_p90":${pct(0.9)}%.2f,"wall_max":${sorted.last}%.2f,"first_quarter_mean":${q1.sum / q1.size}%.2f,"last_quarter_mean":${q4.sum / q4.size}%.2f}""")
    // per-phase quarter means (the SoakProbe decomposition): at a
    // realistic payload the decode phase should dominate and everything
    // downstream of the 8-byte hashes should be payload-size-independent
    val phaseKeys = phaseHistory.flatMap(_.keys).distinct.sorted
    def pmean(qs: Seq[Map[String, Double]], k: String): Double =
      qs.map(_.getOrElse(k, 0.0)).sum / qs.size
    val pq1 = phaseHistory.take(nBatches / 4).toSeq
    val pq4 = phaseHistory.takeRight(nBatches / 4).toSeq
    val perPhase = phaseKeys.map { k =>
      "\"" + k + f"""\":{"q1_mean":${pmean(pq1, k)}%.2f,"q4_mean":${pmean(pq4, k)}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""MEDIASOAK_PHASES $perPhase""")
    spark.stop()
  }
}
