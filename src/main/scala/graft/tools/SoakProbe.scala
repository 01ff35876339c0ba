package graft.tools

import graft.operators.{Retrieval, Similarity}
import graft.streaming.DocIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Daemon soak harness — the operational proof behind the LSM family's
  * unit-test claims: drive ONE multimodal [[DocIngest]] tree (text LSH
  * gate + BM25 index folds with compaction, IVF vector gate + folds with
  * periodic retrain, eval-set decontamination) for hundreds of
  * micro-batches and record what a 100 TB operator would watch:
  *   - per-batch fold wall time (must stay FLAT — O(batch), not
  *     O(corpus));
  *   - per-bucket LSM fragment counts in the postings and vector trees
  *     (must stay BOUNDED across compaction cycles);
  *   - served-result equivalence at checkpoints: BM25 top-k off the
  *     folded index == a cold [[Retrieval.writeInvertedIndex]] rebuild
  *     over the admitted corpus, and the folded IVF tree == a full
  *     re-assignment of its vectors against its own stored centroids.
  *
  * Batch mix (deterministic from the batch number — replayable): mostly
  * novel docs, ~10% exact re-deliveries of the previous batch's docs,
  * ~10% near-dup copies of earlier admitted docs, ~5% eval-contaminated.
  * Run: `sbt "runMain graft.tools.SoakProbe [nBatches] [docsPerBatch]"`;
  * results print as one `SOAK` JSON line per sample plus a final summary
  * table for SCALING.md. `SPARK_GRAFT_CPUS` sets the core count (default:
  * `nproc`, every core the JVM sees). */
object SoakProbe {

  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lumen", "quark", "spark",
    "shard", "vector", "tensor", "corpus", "bucket", "anchor", "raven",
    "cobalt", "ember", "fjord", "glyph", "helix", "isotope", "jigsaw",
    "krypton", "lattice", "meridian", "nebula", "onyx", "prism", "quartz")

  private val evalPhrase = "contaminated benchmark answer key sequence"

  /** Realistic text shape (the EmbSoak realism playbook applied to the
    * text gate): a 10,000-type vocabulary with Zipf(s=1) frequencies —
    * rank k sampled by the continuous inverse CDF k = V^u (P(k) ∝ 1/k ⇒
    * CDF ≈ ln k / ln V). The r13 soak's 34-word vocabulary saturated the
    * LSH band space (every 3-gram shingle drawn from 34³ possibilities ⇒
    * band buckets collide across unrelated docs and gate_text grows with
    * the corpus); whether that ×2.3 curve is a fixture artifact or daemon
    * behavior is exactly what running BOTH vocabularies measures. */
  private val vocabSize = 10000

  private def zipfWord(r: scala.util.Random): String =
    "w" + math.max(1, math.min(vocabSize,
      math.pow(vocabSize.toDouble, r.nextDouble()).toInt))

  private def docText(id: Long, zipf: Boolean): String = {
    val r = new scala.util.Random(id * 2654435761L)
    if (zipf) (0 until 30).map(_ => zipfWord(r)).mkString(" ")
    else (0 until 30).map(_ => words(r.nextInt(words.length))).mkString(" ")
  }

  private def embedding(text: String): Array[Float] = {
    // genuinely 16-dimensional (seeded Gaussian), NOT a phase-shifted sine:
    // a 1-dof synth saturates the near-dup gate once stored phases pack
    // the circle (~2k docs at 1e-6 cosine tolerance) and the soak's
    // admitted counts collapse — a fixture artifact, not daemon behavior
    val r = new scala.util.Random(text.hashCode.toLong * 0x9E3779B9L)
    Array.fill(16)(r.nextGaussian().toFloat)
  }

  /** One deterministic micro-batch: ids partitioned by batch number so
    * novelty/re-delivery/near-dup classes never collide by accident. */
  private def mkBatch(spark: SparkSession, b: Int, n: Int,
      zipf: Boolean): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(b * 7919L + 17)
    val rows = (0 until n).map { j =>
      val roll = r.nextInt(100)
      val id = b * 1000L + j
      val (docId, text) =
        if (b > 0 && roll < 10) { // exact re-delivery of a prior-batch doc
          val pid = (b - 1) * 1000L + r.nextInt(n)
          (pid, docText(pid, zipf))
        } else if (b > 0 && roll < 20) { // near-dup: one word edited
          val src = docText(r.nextInt(b) * 1000L + r.nextInt(n), zipf)
          val toks = src.split(" "); toks(toks.length - 1) = "edited"
          (id, toks.mkString(" "))
        } else if (roll < 25) (id, docText(id, zipf) + " " + evalPhrase)
        else (id, docText(id, zipf))
      (docId, text, "en", s"src${docId % 3}", text.length.toLong,
        embedding(text))
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
  }

  private def maxFragments(spark: SparkSession, root: String,
      prefix: String): Int = {
    val fs = graft.util.Lsm.fs(spark, root)
    val p = new Path(root)
    if (!fs.exists(p)) 0
    else {
      val counts = fs.listStatus(p).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith(prefix))
        .map(d => fs.listStatus(d.getPath).count(f => f.isFile &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
      if (counts.isEmpty) 0 else counts.max
    }
  }

  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(200)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(40)
    // "zipf" (default; 10k-type Zipf vocabulary) or "toy" (the pre-r14
    // 34-word fixture, kept so the band-saturation attribution can be
    // measured against the same harness)
    val vocab = args.lift(2).getOrElse("zipf")
    val zipf = vocab != "toy"
    val compactEvery = 10
    val retrainEvery = 50
    val checkpointEvery = 50
    val spark = graft.Session()
    // micro-batches are tiny (tens of docs): 8 shuffle partitions keeps
    // per-stage task overhead from dominating the fold wall it measures
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val (corpus, index, inv, emb) =
      (s"$root/corpus", s"$root/index", s"$root/inv", s"$root/emb")
    val eval = s"$root/eval"
    Seq((900000L, s"the $evalPhrase must never train"))
      .toDF("doc_id", "text").write.parquet(eval)

    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    // per-batch phase walls (commitDocBatch telemetry) + the retrain slot,
    // kept per batch so quarters can be compared phase-by-phase
    val phaseHistory = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var totalAdmitted = 0L
    for (b <- 0 until nBatches) {
      val batch = mkBatch(spark, b, perBatch, zipf)
      val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      val r = DocIngest.commitDocBatch(spark, batch, b.toLong, corpus, index,
        invIndexPath = Some(inv), compactEvery = compactEvery,
        embIndexPath = Some(emb), embThreshold = 0.999999,
        embNlist = 16, embDim = 16, evalPath = Some(eval),
        phaseWalls = Some(phases))
      val wall = (System.nanoTime() - t0) / 1e9
      walls += wall
      totalAdmitted += r.admitted
      // periodic IVF drift repair in the maintenance slot (single writer)
      if (retrainEvery > 0 && b > 0 && b % retrainEvery == 0) {
        val rt0 = System.nanoTime()
        Similarity.ivfRetrain(spark, emb, nlist = 16, dim = 16)
        phases("retrain") = (System.nanoTime() - rt0) / 1e9
      }
      phaseHistory += phases.toMap
      if (b % 10 == 0 || b == nBatches - 1) {
        val invFrag = maxFragments(spark, s"$inv/postings", "tb=")
        val embRoot = Similarity.ivfRoot(spark, emb)
        val embFrag = maxFragments(spark, s"$embRoot/vectors", "cid=")
        // sidecar headroom (the saturation gauge ask): a fill past 1.0
        // means the gate is silently degrading toward scan-always
        val fill = graft.util.BloomSidecar.stats(spark, index)
          .map(s => f"${s.fill}%.4f").getOrElse("null")
        val phaseJson = phases.map { case (k, v) =>
          "\"" + k + f"""\":$v%.2f""" }.mkString("{", ",", "}")
        println(f"""SOAK {"batch":$b,"wall":$wall%.2f,"admitted":${r.admitted},"total_admitted":$totalAdmitted,"inv_max_frag":$invFrag,"emb_max_frag":$embFrag,"lsh_bloom_fill":$fill,"phases":$phaseJson}""")
      }
      if (b > 0 && b % checkpointEvery == 0) {
        // checkpoint 1: BM25 off the folded index == cold rebuild
        // terms must exist in the RUN's vocabulary, or served==rebuild
        // degenerates to empty==empty (the r15 catch: the toy terms
        // returned served_rows 0 against the Zipf fixture — a passing
        // checkpoint that proved nothing about the postings)
        val terms = if (zipf) Seq("w3", "w47", "w311") // head/mid/tail ranks
          else Seq("spark", "vector", "raven")
        val served = Retrieval.bm25TopKIndexed(spark, inv, terms, 20)
          .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).sorted.toSeq
        val rebuildDir = s"$root/rebuild_inv_$b"
        Retrieval.writeInvertedIndex(
          DocIngest.readCorpus(spark, corpus).select("doc_id", "text"),
          rebuildDir, nBuckets = 64)
        val rebuilt = Retrieval.bm25TopKIndexed(spark, rebuildDir, terms, 20)
          .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).sorted.toSeq
        val bm25Ok = served == rebuilt
        // checkpoint 2: folded IVF tree == full re-assignment against its
        // own stored centroids (the fold's frozen-quantizer contract)
        val embRoot = Similarity.ivfRoot(spark, emb)
        val treeRows = spark.read.parquet(s"$embRoot/vectors")
          .select(col("vec_id"), col("cid").cast("long"))
          .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).sorted.toSeq
        val cents = spark.read.parquet(s"$embRoot/centroids")
        val all = spark.read.parquet(s"$embRoot/vectors")
          .select("vec_id", "embedding")
        val reassigned = Similarity.assignToCentroids(all, cents)
          .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).sorted.toSeq
        val ivfOk = treeRows == reassigned
        println(s"""SOAK_CHECKPOINT {"batch":$b,"bm25_served_eq_rebuild":$bm25Ok,"ivf_tree_eq_reassign":$ivfOk,"served_rows":${served.size}}""")
        require(bm25Ok && ivfOk, s"checkpoint $b diverged")
      }
    }
    val sorted = walls.sorted
    def pct(p: Double) = sorted((p * (sorted.size - 1)).toInt)
    val firstQ = walls.take(nBatches / 4).sum / (nBatches / 4)
    val lastQ = walls.takeRight(nBatches / 4).sum / (nBatches / 4)
    println(f"""SOAK_SUMMARY {"batches":$nBatches,"per_batch":$perBatch,"vocab":"$vocab","total_admitted":$totalAdmitted,"wall_p50":${pct(0.5)}%.2f,"wall_p90":${pct(0.9)}%.2f,"wall_max":${sorted.last}%.2f,"first_quarter_mean":$firstQ%.2f,"last_quarter_mean":$lastQ%.2f}""")
    // per-phase quarter means: WHICH curve grows is now a measurement.
    // retrain/maintenance are excluded from per-batch means' denominators
    // only in the sense that batches without the phase contribute 0 —
    // quarter means over all batches keep the comparison honest.
    val phaseKeys = phaseHistory.flatMap(_.keys).distinct.sorted
    val q1 = phaseHistory.take(nBatches / 4)
    val q4 = phaseHistory.takeRight(nBatches / 4)
    def mean(qs: Seq[Map[String, Double]], k: String): Double =
      qs.map(_.getOrElse(k, 0.0)).sum / qs.size
    val perPhase = phaseKeys.map { k =>
      "\"" + k + f"""\":{"q1_mean":${mean(q1.toSeq, k)}%.2f,"q4_mean":${mean(q4.toSeq, k)}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""SOAK_PHASES $perPhase""")
    // Per-band collision telemetry over the final LSH tree: the gate's
    // candidate volume is driven by multi-doc band buckets (each bucket of
    // size s contributes ~s candidates per future probe that hashes into
    // it), so the honest saturation measure is the share of stored rows
    // sitting in multi-doc buckets + the worst bucket. On a 34-word
    // vocabulary these saturate (few distinct shingles ⇒ few distinct
    // band hashes); a 10k-type Zipf vocabulary is the realistic baseline.
    val bandRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$index/bands")
    val perBand = bandRows.groupBy("band", "bucket")
      .agg(countDistinct("doc_id").as("sz"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum("sz").as("n_rows"),
        sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("multi_rows"),
        max("sz").as("max_bucket"))
      .withColumn("collision_rate",
        round(col("multi_rows") / col("n_rows"), 4))
      .orderBy("band")
      .collect()
    val bandsJson = perBand.map { r =>
      s"""{"band":${r.getInt(0)},"n_buckets":${r.getLong(1)},""" +
        s""""n_rows":${r.getLong(2)},"multi_rows":${r.getLong(3)},""" +
        s""""max_bucket":${r.getLong(4)},"collision_rate":${r.getDouble(5)}}"""
    }.mkString("[", ",", "]")
    val worst = perBand.map(_.getDouble(5)).max
    val maxBucket = perBand.map(_.getLong(4)).max
    println(s"""SOAK_BANDS {"vocab":"$vocab","worst_band_collision_rate":$worst,"max_bucket":$maxBucket,"bands":$bandsJson}""")
    spark.stop()
  }
}
