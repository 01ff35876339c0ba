package graft.operators

import graft.functions.PortableHashes
import graft.util.Checkpoints.BarrierOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The composed training-data pipeline — the flow a pretraining data team
  * actually ships, chained from the individually-oracled stage operators:
  *
  *   curation gates (quality + repetition)
  *     -> exact dedup keep-rule (5-token-prefix key, min doc_id survives)
  *     -> MinHash-LSH near-dup keep-rule (later doc of each verified pair
  *        dropped)
  *     -> decontamination against a held-out eval shard
  *     -> mixture sampling to the source-weighted budget
  *     -> chunking to context windows
  *     -> greedy packing into fixed-capacity bins
  *
  * Two stage boundaries materialize via reliable checkpoint; everything
  * else stays one lazy plan. The keep-rule shape `X.join(f(X), anti)`
  * references X twice with DIFFERENT downstream partitionings, so exchange
  * reuse cannot deduplicate it — fully lazy, each of the three chained
  * keep-rules doubles the re-evaluation of everything above it and the
  * gate stack ends up running ~32x (measured: 36 s for the 5k-doc fixture
  * vs ~8 s checkpointed). Checkpointing the gated pool (gates run once)
  * and the decontaminated pool (the MinHash pipeline and the gram join run
  * once) is also the production shape — curated corpora ARE materialized
  * between stages — and the checkpoint files free with their RDD under
  * `cleanCheckpoints=true` (the [[graft.util.Checkpoints]] contract), so a
  * daemon calling this per batch does not accumulate state.
  *
  * Scale shape: each stage keeps its own audited 100 TB shape (see the
  * per-operator scaladocs); the composition adds only id-keyed semi/anti
  * joins whose right sides shrink monotonically (gated -> deduped ->
  * decontaminated -> sampled), plus one id-keyed join to re-attach `source`
  * to chunks — PlanSpec pins the shuffle budget and the absence of
  * nested-loop joins. After the mixture stage the flow is budget-bounded —
  * chunking and packing touch `total` docs, not the corpus. */
object Pipeline {

  /** Run the full flow over `docs(doc_id, source, text)`. The eval shard
    * for decontamination is `doc_id % 10 == 0` of the RAW corpus (the q54
    * split); `weights`/`total` are the mixture spec; chunks of `chunkSize`
    * tokens every `stride`; bins of `capacity` tokens per source.
    * Output: (pack_group, doc_id, chunk_id, n_tokens, bin_id) — every
    * surviving chunk with its assigned context-window bin. */
  def curateToPacks(docs: DataFrame,
      minQuality: Double = 0.55, maxRepetition: Double = 0.05,
      weights: Map[String, Double] =
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      total: Long = 40L,
      chunkSize: Int = 64, stride: Int = 48, capacity: Long = 512L): DataFrame = {
    // 1. curation gates
    val stats = TextAnalysis.docStats(docs).select(col("doc_id"), col("quality"))
    val rep = TextAnalysis.repetitionStats(docs, 3)
      .select(col("doc_id"), col("ngram_repetition"))
    val gatedPlan = docs.join(stats, "doc_id").join(rep, "doc_id")
      .filter(col("quality") >= minQuality && col("ngram_repetition") < maxRepetition)
      .select(col("doc_id"), col("source"), col("text"))
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val gated = gatedPlan.barrier(StorageLevel.DISK_ONLY)
    // 2. exact keep-rule
    val key = concat_ws(" ", slice(split(col("text"), " "), 1, 5))
    val exKeep = Dedup.exactGroups(gated, key)
      .select(col("dup_key"), col("keep_id").as("doc_id"))
    val surv1 = gated.withColumn("dup_key", key)
      .join(exKeep, Seq("dup_key", "doc_id"), "left_semi")
    // 3. MinHash-LSH keep-rule (portable family: the oracle replays it)
    val mPairs = Dedup.minhashLshPairs(surv1,
      gramHashes = PortableHashes.minhashGramHashes,
      bandBucket = PortableHashes.minhashBandBucket)
    val surv2 = surv1.join(mPairs.select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // 4. decontamination
    val train = surv2.filter(col("doc_id") % 10 =!= 0)
    val contaminated = Dedup.contaminatedBy(
      train, docs.filter(col("doc_id") % 10 === 0), 5).select("doc_id")
    val surv3 = train.join(contaminated, Seq("doc_id"), "left_anti")
      .barrier(StorageLevel.DISK_ONLY)
    // 5. mixture sample
    val sampled = Sampling.mixtureSample(surv3, "source", "doc_id", weights, total)
    val sampDocs = surv3.join(sampled.select("doc_id"), Seq("doc_id"), "left_semi")
    // 6. chunk; 7. pack — seq key = doc_id*1000 + chunk_id keeps the fold
    // in (doc, chunk) order (chunk_id < 1000 by the single-doc contract)
    val chunks = TextAnalysis.chunkTokens(sampDocs, chunkSize, stride)
    val seq = chunks.join(sampDocs.select("doc_id", "source"), "doc_id")
      .select(col("source").as("pack_group"),
        (col("doc_id") * 1000 + col("chunk_id")).as("seq_id"),
        col("n_tokens"))
    Packing.packGreedy(seq, "pack_group", "seq_id", "n_tokens", capacity)
      .select(col("pack_group"), expr("seq_id div 1000").as("doc_id"),
        (col("seq_id") % 1000).as("chunk_id"), col("n_tokens"), col("bin_id"))
  }
}
