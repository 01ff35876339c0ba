package graft.tools

import graft.operators.{Dedup, Similarity}
import graft.streaming.DocIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate-cost ladder vs TREE size (VERDICT r13 ask #5) — the complement of
  * FoldLadder (which pinned the FOLD phases): hold the probe batch FIXED
  * and grow only the at-rest tree ×10, then time each decomposed GATE
  * phase of [[DocIngest.commitDocBatch]] (gate_text, gate_vector,
  * gate_redelivery, gate_contam) at both sizes, pinning each gate's
  * tree-size exponent by measurement:
  *   - gate_text: batch bands join stored bands + candidate verify — the
  *     stored side grows with the tree, but candidates should track the
  *     batch's true-match rate on a realistic (Zipf) vocabulary, so the
  *     target shape is ~flat with a scan term;
  *   - gate_vector: cell-local probes — cells hold ~corpus/nlist vectors
  *     and the production posture sizes nlist adaptively (√n), so the
  *     target exponent is ~0.5 per decade;
  *   - gate_redelivery: bloom probe + bucket-pruned [[graft.util.IdTree]]
  *     verify — target ~flat (positives' buckets only, corpus/B rows per
  *     bucket with B=256);
  *   - gate_contam: broadcast eval-set n-gram join — target flat.
  *
  * Trees are BULK-built ([[Dedup.writeLshIndex]] / IVF index write) so a
  * 10× rung costs one distributed build, not 10× daemon batches; one
  * uninstrumented bootstrap batch then adopts the bloom + id sidecars
  * (the production adoption pass), and three instrumented probe batches
  * (fixed shape: ~75% novel, 15% re-delivered, 10% eval-contaminated)
  * report each phase's min wall.
  *
  * Run: `sbt "runMain graft.tools.GateLadder [baseDocs] [perBatch]"`;
  * prints one `GATE_LADDER` JSON line per rung plus a `GATE_EXPONENTS`
  * summary (log10 of the ×10 wall ratio — 0 flat, 1 linear).
  * `SPARK_GRAFT_CPUS` sets the core count (default: `nproc`).
  */
object GateLadder {

  private val vocabSize = 10000

  private def zipfWord(r: scala.util.Random): String =
    "w" + math.max(1, math.min(vocabSize,
      math.pow(vocabSize.toDouble, r.nextDouble()).toInt))

  private def docText(id: Long): String = {
    val r = new scala.util.Random(id * 2654435761L)
    (0 until 30).map(_ => zipfWord(r)).mkString(" ")
  }

  private def embedding(text: String): Array[Float] = {
    val r = new scala.util.Random(text.hashCode.toLong * 0x9E3779B9L)
    Array.fill(16)(r.nextGaussian().toFloat)
  }

  private val evalPhrase = "contaminated benchmark answer key sequence"

  private def docRow(docId: Long, text: String) =
    (docId, text, "en", s"src${docId % 3}", text.length.toLong,
      embedding(text))

  private def corpusDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // distributed synthesis: text/embedding are deterministic functions of
    // the id, so the corpus never materializes on the driver
    spark.range(n).repartition(32).map { i =>
      docRow(i, docText(i))
    }.toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
  }

  /** The FIXED probe batch for rung `treeDocs`, batch `b`: novel ids far
    * above any tree id, plus re-deliveries sampled from the BULK corpus
    * (stable across probe batches) and eval-contaminated rows. */
  private def probeBatch(spark: SparkSession, treeDocs: Long, b: Long,
      perBatch: Int): DataFrame = {
    import spark.implicits._
    // per-batch id block sized by perBatch (the MediaSoak rule): a fixed
    // 1000-wide block would collide novel ids across probe batches once
    // perBatch > 1000 and misclassify them as re-deliveries
    val idBlock = math.max(1000L, perBatch * 2L)
    val rows = (0 until perBatch).map { j =>
      val id = 1000000000L + b * idBlock + j
      if (j < perBatch * 15 / 100) {
        val pid = (j.toLong * treeDocs) / perBatch // spread over the tree
        docRow(pid, docText(pid)) // exact re-delivery
      } else if (j < perBatch * 25 / 100)
        docRow(id, docText(id) + " " + evalPhrase)
      else docRow(id, docText(id))
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val baseDocs = args.lift(0).map(_.toLong).getOrElse(5000L)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(40)
    // decades per run (r14 verdict ask #6: one more decade pins
    // gate_vector's ~0.5 exponent at a rung where the √n quantizer
    // actually resizes — 5k→50k→500k spans nlist 70→223→707)
    val nRungs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val gateKeys = Seq("gate_text", "gate_vector", "gate_redelivery",
      "gate_contam")
    val rungWalls = scala.collection.mutable.LinkedHashMap[Long, Map[String, Double]]()
    val rungs = (0 until nRungs).map(d => baseDocs * math.pow(10, d).toLong)
    for (treeDocs <- rungs) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_gladder_$treeDocs").toString
      val (corpusDir, index, emb, eval) =
        (s"$root/corpus", s"$root/index", s"$root/emb", s"$root/eval")
      Seq((900000000L, s"the $evalPhrase must never train"))
        .toDF("doc_id", "text").write.parquet(eval)
      val corpus = corpusDf(spark, treeDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tb0 = System.nanoTime()
      Dedup.writeLshIndex(corpus.select("doc_id", "text"), index)
      // production quantizer posture: nlist tracks corpus size (√n rule)
      val nlist = Similarity.adaptiveNlist(treeDocs, 16, 4096)
      Similarity.writeIvfIndex(
        corpus.select(col("doc_id").as("vec_id"), col("embedding")),
        emb, nlist = nlist, dim = 16)
      val buildWall = (System.nanoTime() - tb0) / 1e9
      corpus.unpersist()
      // bootstrap batch: adopts the bloom + id sidecars from the bulk
      // tree (the one-time O(corpus) adoption pass — timed separately,
      // NOT part of any gate curve)
      val ta0 = System.nanoTime()
      DocIngest.commitDocBatch(spark, probeBatch(spark, treeDocs, 0L, perBatch),
        1L, corpusDir, index, embIndexPath = Some(emb),
        embThreshold = 0.999999, embNlist = nlist, embDim = 16,
        evalPath = Some(eval))
      val adoptWall = (System.nanoTime() - ta0) / 1e9
      // instrumented probe batches: fixed shape, fresh novel ids per batch
      val mins = scala.collection.mutable.Map[String, Double]()
      for (b <- 2L to 4L) {
        val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
        DocIngest.commitDocBatch(spark, probeBatch(spark, treeDocs, b, perBatch),
          b, corpusDir, index, embIndexPath = Some(emb),
          embThreshold = 0.999999, embNlist = nlist, embDim = 16,
          evalPath = Some(eval), phaseWalls = Some(phases))
        for (k <- gateKeys; v <- phases.get(k))
          mins(k) = math.min(mins.getOrElse(k, Double.MaxValue), v)
      }
      rungWalls(treeDocs) = mins.toMap
      val gateJson = gateKeys.map(k =>
        "\"" + k + f"""\":${mins.getOrElse(k, -1.0)}%.3f""").mkString(",")
      println(f"""GATE_LADDER {"tree_docs":$treeDocs,"nlist":$nlist,"per_batch":$perBatch,"build_wall":$buildWall%.1f,"adopt_wall":$adoptWall%.1f,$gateJson}""")
    }
    // per-gate exponent over each adjacent decade: log10(t_10x / t_1x)
    for (Seq(loDocs, hiDocs) <- rungs.sliding(2)) {
      val (lo, hi) = (rungWalls(loDocs), rungWalls(hiDocs))
      val exps = gateKeys.map { k =>
        val e = (lo.get(k), hi.get(k)) match {
          case (Some(a), Some(b)) if a > 0 => math.log10(b / a)
          case _ => Double.NaN
        }
        "\"" + k + f"""\":$e%.2f"""
      }.mkString(",")
      println(s"""GATE_EXPONENTS {"decade":"$loDocs->$hiDocs",$exps}""")
    }
    // Floor-subtracted data-term exponents (r16 ask #4): at this fixture's
    // batch sizes a fixed per-batch scheduling cost (~1.4 s of task
    // launch + plan overhead at 40-row batches) dominates the small rungs
    // and hides the data term — r15 measured gate_vector at 0.11/decade
    // against the ~0.5 √n theory. Model t(n) = floor + data(n) with
    // floor := the SMALLEST rung's wall. That floor still contains the
    // small rung's own data term, so the subtraction can only OVERSTATE
    // the remaining growth, never hide it — the conservative direction
    // for a scaling claim. The subtracted exponent is only meaningful
    // where t - floor is well away from zero, i.e. over the LAST decade.
    if (rungs.size >= 3) {
      val floorW = rungWalls(rungs.head)
      val (loD, hiD) = (rungs(rungs.size - 2), rungs.last)
      val exps = gateKeys.map { k =>
        val e = (floorW.get(k), rungWalls(loD).get(k),
            rungWalls(hiD).get(k)) match {
          case (Some(f), Some(a), Some(b)) if a - f > 1e-3 && b - f > 0 =>
            math.log10((b - f) / (a - f))
          case _ => Double.NaN // floor-dominated through the ladder: the
          // data term never surfaced above the scheduling cost at these
          // rungs — report as unresolved rather than minting a slope
        }
        "\"" + k + f"""\":$e%.2f"""
      }.mkString(",")
      println(s"""GATE_EXPONENTS_FLOORED {"floor_rung":${rungs.head},"decade":"$loD->$hiD",$exps}""")
    }
    spark.stop()
  }
}
