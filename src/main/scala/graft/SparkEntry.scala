package graft

import graft.functions.PortableHashes
import graft.operators._
import graft.util.Checkpoints.BarrierOps
import graft.sources.SpotSynth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Driver contract — see SURVEY.md §7 + OracleSql for the DuckDB mirrors.
  *
  * Naming: q0x/q1x = the reference's spot-pipeline operators (SURVEY.md §2)
  * over the deterministic events->spots synthesis (SpotSynth); q2x = general
  * relational capability; q3x/q4x = large-scale training-data extensions
  * (dedup, similarity, text analysis, multimodal).
  *
  * Column names are aligned with the oracle SQL (the driver's compare sorts
  * columns by name), every aggregate over doubles goes through DECIMAL so the
  * result is association-order-independent, and every query is deterministically
  * ordered.
  */
object SparkEntry {

  /** q204's persisted result from the PREVIOUS invocation in this JVM.
    * Unpersisted (blocking) at the next q204 entry: a still-live cache
    * entry would be substituted into the rebuilt query's analyzed plan
    * before the TopKWindowRewrite fires, erasing the TopKPerKey node the
    * query asserts on (the BENCH_r10 deterministic re-run failure). */
  @volatile private var q204Cache: Option[DataFrame] = None

  /** q180's field priors — shared by the query and the oracle SQL so the
    * embedded log2(m/u) weight literals are identical by construction. */
  private val FsFields: Seq[(String, Double, Double)] = Seq(
    ("balbucket", 0.9, 0.05), ("balsign", 0.95, 0.5), ("name1", 0.8, 0.1))

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events fixture has shipped as both TIMESTAMP(NANOS) — which Spark 4
    // only reads as a raw long (SPARK-40819, hence nanosAsLong) — and as
    // TIMESTAMP(MICROS), which reads as a timestamp column. Normalize to the
    // integer-ns contract every ts-arithmetic query is written against, so
    // the library is layout-agnostic (the oracle reads ts natively either way).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case Some(TimestampNTZType) => // session TZ is UTC in every entrypoint
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }
  }

  /** Fixture scan, fanned out across the cluster. The sf fixtures are
    * single-row-group parquet files — ONE input split — so every narrow
    * CPU-heavy stage downstream (trig enrichment, n-gram explode, %.3f
    * formatting) would otherwise run in a single task. A round-robin
    * repartition (which AQE never re-coalesces) spreads that work for the
    * cost of shuffling the raw scan (a few MB here). On a production table
    * the scan has thousands of splits and the library operators stay
    * shuffle-free by design; this adapter lives at the harness boundary,
    * not inside the operators. Opt-in per pipeline: only the per-row
    * CPU-heavy chains use it — a pure aggregate gains nothing from the
    * extra exchange and would pay ~1 s of shuffle for a one-row answer. */
  private def tp(spark: SparkSession, dir: String, name: String): DataFrame =
    t(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** Spot synthesis over a direct scan — for aggregate-shaped consumers
    * (counts, top-1, set ops) where the work after synthesis is trivial. */
  private def spots(spark: SparkSession, dir: String): DataFrame =
    SpotSynth.fromEvents(t(spark, dir, "events"))

  /** Spot synthesis fanned out across cores — for the trig/format-heavy
    * enrichment chains (q09–q14) that do real per-row CPU downstream. */
  private def spotsFan(spark: SparkSession, dir: String): DataFrame =
    SpotSynth.fromEvents(tp(spark, dir, "events"))

  /** Decimal-exact sum of a double expression, returned as double. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Where q42 materializes its IVF index for the scale factor at `dir` —
    * keyed by the fixture dir's basename so verify (sf0.01), local checks
    * (sf0.001) and bench (sf0.1) never clobber each other's index while the
    * DuckDB compare is in flight. Lives under target/ (gitignored); the
    * oracle reads the same path via the `graft.ivf.path` property Verify
    * pins at dump time. */
  def ivfIndexPath(dir: String): String =
    s"/root/repo/target/ivf_index/${new java.io.File(dir).getName}"

  /** Where q216 materializes ITS OWN IVF quantizer (the prototypicality
    * clusters) — separate from q42's tree so neither query's rebuild can
    * shift Lloyd last-ulps under the other's already-dumped rows. */
  def ivfProtoIndexPath(dir: String): String =
    s"/root/repo/target/ivfproto_index/${new java.io.File(dir).getName}"

  /** Where q58 persists its trained BPE merges table — same per-SF keying
    * and Verify-pinned oracle path contract as [[ivfIndexPath]]. */
  def bpeMergesPath(dir: String): String =
    s"/root/repo/target/bpe_merges/${new java.io.File(dir).getName}"

  /** Where q74 persists its PQ codebooks + codes — same contract. */
  def pqIndexPath(dir: String): String =
    s"/root/repo/target/pq_index/${new java.io.File(dir).getName}"

  /** Where q81 persists its composed IVF-PQ index — same contract. */
  def ivfPqIndexPath(dir: String): String =
    s"/root/repo/target/ivfpq_index/${new java.io.File(dir).getName}"

  /** Where q92 persists ITS OWN IVF-PQ index — separate from q81's so the
    * two queries' write/read windows can never interleave on one path
    * (index writes are deterministic, but the isolation makes that a
    * non-load-bearing assumption). */
  def ivfPq2IndexPath(dir: String): String =
    s"/root/repo/target/ivfpq2_index/${new java.io.File(dir).getName}"

  /** Where q167 materializes the decoded grayscale pixel frame — the
    * codec's output as parquet, so the oracle can replay every post-decode
    * stage (grid sample, aHash bits, Hamming pairs) as SQL. Same per-SF
    * keying as [[ivfIndexPath]]; q193 uses a `_pairs` sibling path so the
    * two queries' write/read windows never interleave. */
  def grayPixelsPath(dir: String): String =
    s"/root/repo/target/gray_pixels/${new java.io.File(dir).getName}"

  /** Where q62 persists the MinHash-LSH dedup index — same per-SF keying
    * and Verify-pinned oracle path contract as [[ivfIndexPath]]. */
  def lshIndexPath(dir: String): String =
    s"/root/repo/target/lsh_index/${new java.io.File(dir).getName}"

  /** Where q66 persists its SemDeDup cluster layout (an [[ivfIndexPath]]
    * sibling — derived, so the oracle needs no fourth pinned property). */
  def semIndexPath(dir: String): String = ivfIndexPath(dir) + "_sem"

  /** Where q154 materializes its own cell layout (q66's sibling-path
    * convention, so concurrently-verified indexes never clobber). */
  def outIndexPath(dir: String): String = ivfIndexPath(dir) + "_out"

  /** Where q102 persists its inverted retrieval index — same per-SF keying
    * contract as [[ivfIndexPath]]; the oracle recomputes from `documents`
    * (index-served == from-scratch is the point of the check), so no
    * pinned path property is needed. */
  def invIndexPath(dir: String): String =
    s"/root/repo/target/inv_index/${new java.io.File(dir).getName}"

  /** q102's fixed retrieval terms — disjoint from [[Bm25Terms]] so the two
    * queries never share a cached aggregate by accident. */
  val Bm25IndexedTerms: Seq[String] = Seq("merge", "window", "filter")

  /** q64's fixed retrieval terms (chosen from the fixture vocabulary). */
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "stream")

  /** Flagship query on sf=0.001: the reference's whole enrichment pipeline
    * (E2, wsprnet_azi_calc.py) as one plan. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Enrich.formatted(spotsFan(spark, "/root/testdata/sf0.001")).orderBy("Spotnum")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference spot-pipeline operators --------------------------------
    "q01_pricing" -> ((s, dir) => {
      // All money math in DECIMAL (cast the 2-decimal inputs first, multiply
      // exactly, sum exactly) so the result is bit-identical to the oracle
      // regardless of aggregation order — double sums are association-sensitive
      // and double->decimal conversion of *products* differs across engines.
      val ext = col("l_extendedprice").cast("decimal(12,2)")
      val disc = lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")
      val tax = lit(1).cast("decimal(4,2)") + col("l_tax").cast("decimal(4,2)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          sum(ext * disc).cast("double").as("sum_disc"),
          sum(ext * disc * tax).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_top1" -> ((s, dir) =>
      spots(s, dir).orderBy(col("Spotnum").desc).limit(1)
        .select(col("Spotnum"), col("Reporter"), col("CallSign"), col("MHz"))),
    "q03_cursor_filter" -> ((s, dir) => {
      val sp = spots(s, dir)
      val cursor = sp.agg((max("Spotnum") - 500).as("cursor"))
      sp.crossJoin(cursor).filter(col("Spotnum") > col("cursor"))
        .select(col("Spotnum"), col("CallSign"), col("MHz")).orderBy("Spotnum")
    }),
    "q04_batch_stats" -> ((s, dir) =>
      spots(s, dir).agg(
        count(lit(1)).as("n_spots"),
        min("Spotnum").as("first_spotnum"),
        max("Spotnum").as("last_spotnum"),
        countDistinct("Date").as("n_cycles"))),
    "q05_gap_audit" -> ((s, dir) =>
      Audit.gapAudit(
        t(s, dir, "events").filter(col("event_type") =!= "error"), "event_id", 1024)),
    "q06_gap_details" -> ((s, dir) =>
      Audit.gapDetails(
        t(s, dir, "events").filter(col("event_type") =!= "error"), "event_id", 1024)
        .orderBy("gap_after")),
    "q07_dedup_union" -> ((s, dir) => {
      val sp = spots(s, dir)
      val b1 = sp.filter(col("Spotnum") % 3 =!= 0)
      val b2 = sp.filter(col("Spotnum") % 2 =!= 0)
      b1.union(b2).select("Spotnum").distinct()
        .agg(count(lit(1)).as("n"), sum("Spotnum").as("sum_id"),
          min("Spotnum").as("min_id"), max("Spotnum").as("max_id"))
    }),
    "q08_wd_time" -> ((s, dir) =>
      spots(s, dir).select(col("Spotnum"),
        from_unixtime(col("Date"), graft.spots.SpotSchema.WdTimeFormat).as("wd_time"))
        .orderBy("Spotnum")),
    "q09_locator" -> ((s, dir) => {
      import graft.functions.Geo
      spotsFan(s, dir).select(col("Spotnum"), col("Grid"), col("ReporterGrid"),
        format_string("%.3f", Geo.locLat(col("Grid"))).as("tx_lat"),
        format_string("%.3f", Geo.locLon(col("Grid"))).as("tx_lon"),
        format_string("%.3f", Geo.locLat(col("ReporterGrid"))).as("rx_lat"),
        format_string("%.3f", Geo.locLon(col("ReporterGrid"))).as("rx_lon"))
        .orderBy("Spotnum")
    }),
    "q10_azimuth" -> ((s, dir) =>
      Enrich.enrich(spotsFan(s, dir))
        .select(col("Spotnum"), col("wd_rx_az").cast("long").as("wd_rx_az"),
          col("wd_tx_az").cast("long").as("wd_tx_az"))
        .orderBy("Spotnum")),
    "q11_vertex" -> ((s, dir) =>
      Enrich.formatted(spotsFan(s, dir))
        .select(col("Spotnum"), col("wd_v_lat"), col("wd_v_lon")).orderBy("Spotnum")),
    "q12_band" -> ((s, dir) =>
      Enrich.enrich(spotsFan(s, dir)).select(col("MHz"), col("wd_band")).distinct()
        .orderBy("MHz")),
    "q13_enrich" -> ((s, dir) =>
      Enrich.formatted(spotsFan(s, dir)).orderBy("Spotnum")),
    "q14_reconcile" -> ((s, dir) => {
      val raw = t(s, dir, "events")
      val sp = spotsFan(s, dir)
      val enriched = Enrich.enrich(sp).filter(col("wd_band") =!= 9999)
      Audit.reconcile(Seq("n_raw" -> raw, "n_parsed" -> sp, "n_known_band" -> enriched))
    }),
    // ---- general relational ----------------------------------------------
    "q20_join_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("r_name", "n_name")
    }),
    "q21_window_topk" -> ((s, dir) => {
      // top-3 orders per customer through the bounded-heap TopKPerKey node
      // (the direct-API adoption of the q204 operator — map-side prune to
      // ≤ 3 rows per customer before the exchange, no partition sort);
      // total order via the o_orderkey tiebreaker, so rows AND ranks match
      // the window form the oracle replays
      graft.plans.TopK.perKey(t(s, dir, "orders"),
          keys = Seq(col("o_custkey")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rank").cast("long").as("rank"))
        .orderBy("o_custkey", "rank")
    }),
    "q22_time_window" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ts_ts", expr("timestamp_micros(ts div 1000)"))
        .groupBy(date_format(date_trunc("hour", col("ts_ts")), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("hour", "event_type")),
    "q50_histogram" -> ((s, dir) =>
      // fixed-width value histogram per event_type (distribution profiling)
      t(s, dir, "events")
        .withColumn("bucket", floor(col("value") / 5.0).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("bucket_sum"))
        .orderBy("event_type", "bucket")),
    "q51_vocab" -> ((s, dir) => {
      // vocabulary building: top-50 tokens by document frequency, then total
      // frequency, with deterministic rank. Ranked through the bounded-heap
      // RowTopKAggregator (k rows per partition through partial agg) rather
      // than a global row_number() window, which would sort the ENTIRE
      // distinct-token set on one partition — a scale-killer for a web-scale
      // vocabulary. The DuckDB oracle keeps the window form as a cross-check.
      import graft.functions.RowTopKAggregator
      import s.implicits._
      val tok = tp(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "") // split artifacts from ragged whitespace
      val vocabOrd: Ordering[(Long, Long, String)] =
        Ordering.by { case (df, tf, token) => (-df, -tf, token) }
      tok.groupBy("token")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
        .select(col("df"), col("tf"), col("token")).as[(Long, Long, String)]
        .groupByKey(_ => true)
        .agg(new RowTopKAggregator(50, vocabOrd).toColumn)
        .toDF("g", "topk")
        .select(posexplode(col("topk")))
        .select(col("col._3").as("token"), col("col._1").as("df"),
          col("col._2").as("tf"), (col("pos") + 1).cast("long").as("rank"))
        .orderBy("rank")
    }),
    "q49_sample_split" -> ((s, dir) => {
      // reproducible stratified sampling + train/val/test assignment
      val fr = Map("click" -> 0.1, "error" -> 1.0, "purchase" -> 0.5,
        "signup" -> 0.25, "view" -> 0.05)
      Sampling.sampleStratified(
        t(s, dir, "events").select(col("event_id"), col("event_type")),
        "event_id", "event_type", fr)
        .withColumn("split", Sampling.splitColumn(col("event_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_checksum"))
        .orderBy("event_type", "split")
    }),
    "q47_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000000000").as("ts_sec"), col("value"))
      val upd = ev.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_sec").agg(max("value").as("profile_value"))
      val l = ev.filter(col("event_id") % 10 =!= 0)
      AsOfJoin.asOf(l, upd, "user_id", "ts_sec", Seq("profile_value"))
        .select(col("event_id"), col("user_id"), col("ts_sec"),
          col("asof_profile_value"))
        .orderBy("event_id")
    }),
    "q29_setops" -> ((s, dir) => {
      val sp = spots(s, dir).select("Spotnum", "CallSign")
      val evens = sp.filter(col("Spotnum") % 2 === 0)
      val thirds = sp.filter(col("Spotnum") % 3 === 0)
      val inter = evens.intersect(thirds).agg(count(lit(1)).as("n_intersect"))
      val except = evens.except(thirds).agg(count(lit(1)).as("n_except"))
      val union = evens.union(thirds).distinct().agg(count(lit(1)).as("n_union"))
      inter.crossJoin(except).crossJoin(union)
    }),
    "q27_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .withColumn("day", date_format(expr("timestamp_micros(ts div 1000)"), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_total"),
          types.map(ty =>
            count(when(col("event_type") === ty, 1)).as(s"n_$ty")): _*)
        .orderBy("day")
    }),
    "q28_quantiles" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          min("value").cast("double").as("vmin"),
          max("value").cast("double").as("vmax"))
        .orderBy("event_type")),
    "q24_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders"))
      val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_orders"))
      withO.crossJoin(withoutO)
    }),
    "q25_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")),
    "q26_above_cust_avg" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .withColumn("cust_avg",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            / count(lit(1)).over(w))
        .filter(col("o_totalprice") > col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
        .orderBy("o_orderkey")
    }),
    "q23_sessionize" -> ((s, dir) =>
      Sessionize.sessions(
        t(s, dir, "events").select(col("user_id"),
          expr("ts div 1000000000").as("ts_sec"), col("value")),
        gapSeconds = 1800)
        .orderBy("user_id", "session_start")),
    // ---- extension: dedup -------------------------------------------------
    "q30_dedup_exact" -> ((s, dir) => {
      val key = concat_ws(" ", slice(split(col("text"), " "), 1, 5))
      Dedup.exactGroups(t(s, dir, "documents"), key)
        .filter(col("n_dups") > 1).orderBy("dup_key")
    }),
    "q31_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(tp(s, dir, "documents"), 3, 0.5)
        .orderBy("a_id", "b_id")),
    // q32/q33/q45/q46 plug in the portable hash families so the DuckDB
    // oracle can mirror the full approximate pipeline bit-for-bit (the
    // xxhash64 defaults stay the library defaults and are spec-covered).
    "q32_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(tp(s, dir, "documents"),
          gramHashes = PortableHashes.minhashGramHashes,
          bandBucket = PortableHashes.minhashBandBucket)
        .orderBy("a_id", "b_id")),
    "q33_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(tp(s, dir, "documents"),
          tokenHash = graft.functions.expressions.TextFunctions.poly_hash,
          bitOf = PortableHashes.simhashBit)
        .orderBy("a_id", "b_id")),
    "q34_dedup_embed" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), 0.4)
        .orderBy("a_id", "b_id")),
    "q45_dedup_embed_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupPairsLsh(t(s, dir, "embeddings"), 0.4,
          bucket = Some(e => PortableHashes.lshBucket(e, 8, 64)))
        .orderBy("a_id", "b_id")),
    "q46_text_hash_neardup" -> ((s, dir) => {
      // text -> hashed vectors -> cosine near-dup: the cross-modality bridge
      val vecs = TextAnalysis.hashingVectorize(tp(s, dir, "documents"), 64,
          tokenHash = PortableHashes.tokenSlot)
        .withColumnRenamed("doc_id", "vec_id")
      Dedup.embeddingNearDupPairs(vecs, 0.95).orderBy("a_id", "b_id")
    }),
    // ---- extension: similarity search -------------------------------------
    "q35_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 10)
        .orderBy("q_id", "rank")
    }),
    "q36_sim_topk_lsh" -> ((s, dir) => {
      // portable hyperplane family -> the DuckDB oracle mirrors the full
      // bucket-then-rerank pipeline (the xxhash64 codegen default stays the
      // library default, spec-covered)
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, 10,
          bucket = Some(e => PortableHashes.lshBucket(e, 8, 64)))
        .orderBy("q_id", "rank")
    }),
    "q42_sim_topk_ivf" -> ((s, dir) => {
      // Build the at-rest IVF index (centroids + cid-partitioned cells),
      // then answer through the indexed probe path. The oracle reads the
      // SAME centroid/cell parquet, so the Lloyd iteration happens before
      // the oracle boundary and DuckDB mirrors only probe-selection +
      // exact re-rank — plain window/join SQL over stored doubles.
      val emb = t(s, dir, "embeddings")
      val path = ivfIndexPath(dir)
      Similarity.writeIvfIndex(emb, path, nlist = 16)
      Similarity.ivfTopKIndexed(s, path, emb.filter(col("vec_id") < 5), 10, nprobe = 4)
        .orderBy("q_id", "rank")
    }),
    "q44_sim_topk_agg" -> ((s, dir) => {
      // same contract as q35, computed with the bounded-heap TopKAggregator
      // (k rows per group through partial agg instead of a full window sort)
      import graft.functions.{ArrayMath, TopKAggregator}
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = emb.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .select(col("q_id"),
          ArrayMath.cosineKey(col("q_emb"), col("embedding")).as("cos"), col("vec_id"))
        .as[(Long, Double, Long)]
      scored.groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new TopKAggregator(10).toColumn)
        .toDF("q_id", "topk")
        .select(col("q_id"), posexplode(col("topk")))
        .select(col("q_id"), col("col._2").as("vec_id"), col("col._1").as("cos"),
          (col("pos") + 1).cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),
    // ---- extension: text analysis -----------------------------------------
    "q37_text_stats" -> ((s, dir) =>
      TextAnalysis.docStats(tp(s, dir, "documents"))
        .join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          sum(col("quality").cast("decimal(18,6)")).cast("double").as("sum_quality"))
        .orderBy("source")),
    "q38_text_quality" -> ((s, dir) =>
      TextAnalysis.docStats(tp(s, dir, "documents"))
        .select("doc_id", "n_tokens", "n_distinct", "n_stopwords", "quality")
        .orderBy("doc_id")),
    "q39_text_langid" -> ((s, dir) =>
      TextAnalysis.docStats(tp(s, dir, "documents"))
        .select("doc_id", "lang_pred").orderBy("doc_id")),
    "q40_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.docStats(tp(s, dir, "documents"))
        .select("doc_id", "fp").orderBy("doc_id")),
    "q43_text_normalize" -> ((s, dir) =>
      tp(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.normalizeText(concat(col("text"), lit("  MIXED-Case!! 42 "))).as("norm_text"),
        TextAnalysis.subwordCount(concat(col("text"), lit(" x9z."))).as("n_subwords"))
        .orderBy("doc_id")),
    "q48_curation" -> ((s, dir) => {
      // the composed training-data curation pipeline: quality gate +
      // repetition gate (boilerplate/template docs) + near-dup removal
      // (later doc of each >=0.8-jaccard pair dropped, min-id kept)
      val docs = tp(s, dir, "documents")
      val stats = TextAnalysis.docStats(docs).select("doc_id", "n_tokens", "quality")
      val rep = TextAnalysis.repetitionStats(docs, 3)
        .select(col("doc_id"), col("ngram_repetition"))
      val dupB = Dedup.ngramJaccardPairs(docs, 3, 0.8).select(col("b_id")).distinct()
      stats.filter(col("quality") >= 0.55)
        .join(rep, Seq("doc_id"))
        .filter(col("ngram_repetition") < 0.05)
        .select("doc_id", "n_tokens", "quality")
        .join(dupB, col("doc_id") === col("b_id"), "left_anti")
        .orderBy("doc_id")
    }),
    "q52_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(tp(s, dir, "documents"), 3)
        .filter(col("doc_id") < 500).orderBy("doc_id")),
    "q53_dedup_clusters" -> ((s, dir) => {
      // near-dup pairs -> connected components -> canonical representative
      val pairs = Dedup.ngramJaccardPairs(tp(s, dir, "documents"), 3, 0.5)
        .select("a_id", "b_id")
      Dedup.connectedComponents(pairs).orderBy("doc_id")
    }),
    "q54_decontaminate" -> ((s, dir) => {
      // train/eval overlap: training docs sharing any distinct 5-gram with
      // the (tiny, broadcast) eval set
      val docs = tp(s, dir, "documents")
      Dedup.contaminatedBy(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), 5)
        .orderBy("doc_id")
    }),
    "q55_quota_sample" -> ((s, dir) =>
      // cap every source at 30 docs, deterministic unit-hash order
      Sampling.quotaPerGroup(tp(s, dir, "documents"), "source", "doc_id", 30)
        .orderBy("source", "rank")),
    "q56_pack_sequences" -> ((s, dir) => {
      // greedy context-window packing; pack groups = (source, id-shard) so
      // the sequential fold stays bounded and groups pack in parallel
      val docs = tp(s, dir, "documents").select(
        concat(col("source"), lit("#"), expr("doc_id div 100").cast("string"))
          .as("pack_group"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Packing.packGreedy(docs, "pack_group", "doc_id", "n_tokens", 512)
        .orderBy("pack_group", "doc_id")
    }),
    "q57_pii_redact" -> ((s, dir) => {
      // plant a deterministic email + phone per doc (the fixture corpus has
      // none), then profile and scrub
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555 000 "),
        pmod(col("doc_id"), lit(10000)).cast("string"), lit(" now"))
      val (nEmails, nPhones) = TextAnalysis.piiCounts(planted)
      tp(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.redactPii(planted).as("redacted"),
        nEmails.as("n_emails"), nPhones.as("n_phones"))
        .orderBy("doc_id")
    }),
    "q58_bpe_subwords" -> ((s, dir) => {
      // Real learned tokenizer as data: train a BPE merges table on the
      // corpus word-frequency dictionary (deterministic), persist it as
      // parquet, and account tokens/subwords per document through it. The
      // oracle replays merge application over the SAME merges parquet, so
      // the full apply path is verified bit-for-bit; training happens
      // before the oracle boundary (like q42's centroids).
      val docs = tp(s, dir, "documents")
      val merges = Bpe.fitMerges(docs, numMerges = 200)
      Bpe.writeMerges(s, merges, bpeMergesPath(dir))
      Bpe.subwordCounts(docs, merges).orderBy("doc_id")
    }),
    "q59_mixture" -> ((s, dir) =>
      // pretraining data mixture: 40%/30%/20%/10% of a 40-row budget across
      // four sources, drawn deterministically (smallest unit-hash first)
      Sampling.mixtureSample(tp(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1), 40L)
        .orderBy("source", "rank")),
    "q60_pack_stats" -> ((s, dir) => {
      // packing-efficiency report over the q56 packing (same group design)
      val docs = tp(s, dir, "documents").select(
        concat(col("source"), lit("#"), expr("doc_id div 100").cast("string"))
          .as("pack_group"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Packing.packStats(
          Packing.packGreedy(docs, "pack_group", "doc_id", "n_tokens", 512),
          "pack_group", 512)
        .orderBy("pack_group")
    }),
    "q62_dedup_incremental" -> ((s, dir) => {
      // incremental ingest dedup: index the existing corpus once at rest,
      // then check the new batch against STORED bands + grams — the corpus
      // is never re-hashed. Portable family so DuckDB replays the batch
      // side bit-for-bit and reads the same index parquet.
      val docs = tp(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 10 =!= 0)
      val incoming = docs.filter(col("doc_id") % 10 === 0)
      val path = lshIndexPath(dir)
      Dedup.writeLshIndex(existing, path,
        gramHashes = PortableHashes.minhashGramHashes,
        bandBucket = PortableHashes.minhashBandBucket)
      Dedup.minhashLshAgainstIndex(s, path, incoming,
          gramHashes = PortableHashes.minhashGramHashes,
          bandBucket = PortableHashes.minhashBandBucket)
        .orderBy("a_id", "b_id")
    }),
    "q61_chunk" -> ((s, dir) =>
      // retrieval/context-window chunking: 64-token windows every 48 tokens
      // (16-token overlap), final partial window kept
      TextAnalysis.chunkTokens(tp(s, dir, "documents"), 64, 48)
        .orderBy("doc_id", "chunk_id")),
    "q63_tfidf" -> ((s, dir) =>
      // per-doc keyword extraction; ranked through the bounded top-k
      // aggregate, window form kept as the oracle
      TextAnalysis.tfidfTopK(tp(s, dir, "documents"), 5)
        .orderBy("doc_id", "rank")),
    "q64_bm25" -> ((s, dir) =>
      // lexical retrieval: BM25 top-20 for a fixed query-term set; the
      // term filter dies at the scan, corpus stats fold in as literals
      Retrieval.bm25TopK(tp(s, dir, "documents"), Bm25Terms, 20)
        .orderBy("rank")),
    "q65_lm_score" -> ((s, dir) =>
      // perplexity-style quality filter: add-one bigram LM trained on the
      // corpus, each doc scored by average negative log-likelihood
      LangModel.bigramNll(tp(s, dir, "documents")).orderBy("doc_id")),
    "q66_semdedup" -> ((s, dir) => {
      // SemDeDup: k-means cells (the materialized IVF layout, own path so
      // q42's concurrently-verified index is never clobbered) + cell-local
      // exact cosine pairs
      val emb = t(s, dir, "embeddings")
      val path = semIndexPath(dir)
      Similarity.writeIvfIndex(emb, path, nlist = 16)
      Dedup.semanticNearDupPairs(s, path, 0.4).orderBy("a_id", "b_id")
    }),
    "q67_cms_topk" -> ((s, dir) =>
      // count-min-sketch heavy hitters with exact counts alongside
      Sketches.cmsTopK(tp(s, dir, "documents"), 4, 1024, 20)
        .orderBy("rank")),
    "q68_dup_windows" -> ((s, dir) =>
      // duplicate-span coverage: positional 8-token windows occurring
      // elsewhere in the corpus, exact integer ppm per doc
      Dedup.dupWindowStats(tp(s, dir, "documents"), 8).orderBy("doc_id")),
    "q69_pagerank" -> ((s, dir) => {
      // entity importance over the customer–supplier order graph: 5
      // power-iteration rounds in 1e-15 fixed-point integer units so the
      // whole iteration is bit-reproducible under any partitioning
      val base = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      Graph.pageRank(Graph.symmetrize(base), 5).orderBy("node")
    }),
    "q71_span_removal" -> ((s, dir) =>
      // the remove phase of window-granular substring dedup: tokens under
      // non-canonical duplicated 8-token windows dropped, text reassembled
      Dedup.removeDupSpans(tp(s, dir, "documents"), 8).orderBy("doc_id")),
    "q70_hll_distinct" -> ((s, dir) =>
      // HyperLogLog distinct-shingle estimate per source with the exact
      // count alongside; the register exchange carries <= 64 rows per
      // group at any corpus size (and registers merge across batches)
      Sketches.hllDistinct(tp(s, dir, "documents")).orderBy("source")),
    "q88_knn_graph" -> ((s, dir) =>
      // kNN-graph construction (the structure semantic clustering and
      // graph-based dedup build on): each vector's top-3 neighbors among
      // candidates that share ANY of 4 independent 8-plane LSH bands —
      // band-local equi-join candidates, pair dedup, per-node ranking
      Similarity.knnGraph(t(s, dir, "embeddings"), k = 3, bands = 4,
          planesPerBand = 8, dim = 64)
        .orderBy("a_id", "rank")),
    "q89_pipeline" -> ((s, dir) =>
      // the composed flagship: curation gates -> exact + MinHash dedup
      // keep-rules -> decontamination -> mixture sample -> chunk -> pack,
      // every stage the already-oracled operator, chained as ONE lazy plan
      // (no materialization between stages; PlanSpec pins the shuffle set)
      Pipeline.curateToPacks(tp(s, dir, "documents"))
        .orderBy("pack_group", "doc_id", "chunk_id")),
    "q90_ann_recall" -> ((s, dir) => {
      // the ANN acceptance measurement itself as a distributed query:
      // recall@10 of the single-bucket LSH path against exact brute force
      // on a 20-query sample — what a data team runs before trusting an
      // index; both sides the already-oracled operators
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(queries, emb, 10)
      val approx = Similarity.lshTopK(queries, emb, 10,
        bucket = Some(e => PortableHashes.lshBucket(e, 8, 64)))
      Similarity.recallAtK(truth, approx).orderBy("q_id")
    }),
    "q92_two_stage_search" -> ((s, dir) => {
      // the production serving shape: ADC over compressed codes prunes to
      // 50 candidates/query, then ONLY those rows' raw vectors re-rank by
      // exact cosine — returned scores carry no compression error
      val emb = t(s, dir, "embeddings")
      val path = ivfPq2IndexPath(dir)
      Pq.writeIvfPqIndex(emb, path, nlist = 16, m = 8, ksub = 16, dim = 64)
      Pq.ivfPqTopKRefined(s, path, emb.filter(col("vec_id") < 5), emb,
          k = 10, kCoarse = 50, nprobe = 4)
        .orderBy("q_id", "rank")
    }),
    "q93_quantile_gate" -> ((s, dir) =>
      // data-driven curation: keep docs inside [P10, P90] of their OWN
      // source's token-length distribution — thresholds measured from the
      // corpus, not hand-picked constants
      TextAnalysis.quantileLengthGate(tp(s, dir, "documents"), 10, 90)
        .orderBy("doc_id")),
    "q95_novelty" -> ((s, dir) =>
      // cross-corpus novelty: the share of each doc's distinct 3-grams
      // with corpus doc-frequency 1 — boilerplate reads low, novel content
      // reads high (the cross-doc complement of q52's within-doc measure)
      TextAnalysis.noveltyScore(tp(s, dir, "documents"), 3)
        .orderBy("doc_id")),
    "q99_shard_assign" -> ((s, dir) =>
      // deterministic shuffle + shard layout: hash-uniform shard choice and
      // an independent-stream within-shard permutation — the write-side
      // last mile, reproducible under any partitioning (no RNG)
      Sampling.shardAssign(t(s, dir, "documents"), "doc_id", 8)
        .orderBy("doc_id")),
    "q100_importance_select" -> ((s, dir) => {
      // DSIR importance resampling: hashed-unigram log-likelihood-ratio
      // weights of the raw slice (source != src0) against the src0 target
      // slice; the 100 most target-like docs kept by bounded top-k
      val docs = tp(s, dir, "documents")
      Selection.importanceTopK(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), k = 100, numSlots = 512)
        .orderBy(col("rank"))
    }),
    "q101_prefix_jaccard" -> ((s, dir) =>
      // prefix-filtered set-similarity join (PPJoin-style): the SOUND
      // candidate generator — rarest-first prefixes, no df cap, no false
      // negatives; output contract identical to q31's inverted-index form
      Dedup.prefixJaccardPairs(tp(s, dir, "documents"), 3, 0.5)
        .orderBy("a_id", "b_id")),
    "q102_bm25_indexed" -> ((s, dir) => {
      // build the at-rest inverted index (tb-partitioned postings + stats),
      // then serve BM25 through the directory-pruned probe path; the oracle
      // recomputes from `documents`, so the green row proves index-served
      // == from-scratch
      val path = invIndexPath(dir)
      Retrieval.writeInvertedIndex(tp(s, dir, "documents"), path)
      Retrieval.bm25TopKIndexed(s, path, Bm25IndexedTerms, 15)
        .orderBy("rank")
    }),
    "q103_nb_classify" -> ((s, dir) => {
      // corpus-curation classifier: train multinomial NB (hashed-unigram,
      // model = count aggregates bounded at labels x slots) on the 90%
      // split with source as the label, classify the held-out 10%
      val docs = tp(s, dir, "documents")
      val lab = docs.select(col("doc_id"), col("source").as("label"), col("text"))
      Classify.naiveBayesEval(lab.filter(col("doc_id") % 10 =!= 0),
          lab.filter(col("doc_id") % 10 === 0), numSlots = 512)
        .orderBy("doc_id")
    }),
    "q98_phrase_hits" -> ((s, dir) => {
      // distributed grep: exact occurrence counts for a (broadcast) phrase
      // screen list over the corpus — mixed 2- and 3-token phrases, so the
      // operator exercises its per-length window passes
      import s.implicits._
      Retrieval.phraseHits(tp(s, dir, "documents"),
          Seq("table part", "value fast", "big order scan", "group slow spark")
            .toDF("phrase"))
        .orderBy("doc_id", "phrase")
    }),
    "q97_cc_incremental" -> ((s, dir) => {
      // incremental duplicate-cluster maintenance, the ingest shape: the
      // pairs touching a 10% doc slice (the "arriving batch", q62's
      // framing) fold into the at-rest labeling via ccInsert (rep-level
      // contraction + broadcast relabel). Min-rep labels are a unique
      // fixpoint, so warm must equal the one-shot cold labels EXACTLY —
      // the oracle is the same recursive CC as q53 over all pairs. The
      // pair pipeline is checkpointed once: base and batch are two filters
      // over it, and the q89 lesson says a twice-referenced lazy pipeline
      // re-runs per reference.
      graft.util.Checkpoints.ensureDir(s)
      val pairs = Dedup.ngramJaccardPairs(tp(s, dir, "documents"), 3, 0.5)
        .select("a_id", "b_id").barrier(StorageLevel.DISK_ONLY)
      val touched = col("a_id") % 10 === 7 || col("b_id") % 10 === 7
      Dedup.ccInsert(Dedup.connectedComponents(pairs.filter(!touched)),
        pairs.filter(touched)).orderBy("doc_id")
    }),
    "q205_gopher_gate" -> ((s, dir) =>
      // the MassiveText hygiene rules over the corpus — per-rule measures
      // plus the conjunction; the word-count bound splits this fixture,
      // so both pass and fail rows exercise
      TextAnalysis.gopherGate(tp(s, dir, "documents"), minWords = 40)
        .orderBy("doc_id")),
    "q204_topk_exec" -> ((s, dir) => {
      // the SQL-REWRITE path on the oracle board: top-10 events per type
      // through TopKWindowRewrite + the bounded-heap execs (the direct
      // TopK.perKey node API is proven separately by q21 / knnGraph).
      // Rule and strategy ride the session via GraftExtensions; the conf
      // is scoped to THIS query with its prior value restored. Because
      // every df.write builds a FRESH QueryExecution, a re-plan after the
      // conf drops would silently fall back to WindowExec — so the result
      // is materialized THROUGH the heap execs here (persist + count; a
      // ≤ types×10-row cache) and downstream writes scan that cache. A
      // green hash proves the heap execs reproduce the window form's rows
      // AND ranks exactly.
      //
      // Re-entrancy: the cache manager substitutes InMemoryRelation for any
      // analyzed subtree matching a PREVIOUS invocation's still-persisted
      // result BEFORE the optimizer runs — so on run 2+ the optimized plan
      // would hold an in-memory scan, no TopKPerKey node, and the require
      // below would throw (the deterministic min-of-N bench failure in
      // BENCH_r10). Unpersist the prior invocation's cache at entry
      // (blocking, so the substitution window is fully closed) and track
      // the new one for the next entry; the leak ADVICE noted is gone too.
      import graft.plans.TopKWindowRewrite
      q204Cache.foreach(_.unpersist(blocking = true))
      q204Cache = None
      t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"))
        .createOrReplaceTempView("graft_q204_events")
      val prev = s.conf.getOption(TopKWindowRewrite.EnabledConf)
      s.conf.set(TopKWindowRewrite.EnabledConf, "true")
      try {
        val df = s.sql(
          """SELECT event_type, event_id, value, rn FROM (
            |  SELECT event_type, event_id, value, row_number() OVER
            |    (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
            |  FROM graft_q204_events) WHERE rn <= 10
            |ORDER BY event_type, rn""".stripMargin)
        val planned = df.queryExecution.optimizedPlan // rewrite fires HERE
        require(planned.collect { case p: graft.plans.TopKPerKey => p }.nonEmpty,
          "q204 must exercise the TopKPerKey operator")
        df.persist()
        df.count() // executes the heap execs while the conf is still set
        q204Cache = Some(df)
        df
      } finally prev match {
        case Some(v) => s.conf.set(TopKWindowRewrite.EnabledConf, v)
        case None => s.conf.unset(TopKWindowRewrite.EnabledConf)
      }
    }),
    "q206_bt_incremental" -> ((s, dir) => {
      // incremental preference aggregation: 90% of the q179 event-type
      // matches settle over 5 MM rounds, the late 10% folds in as a batch
      // with 2 warm rounds — the q194/q96 daemon pattern applied to
      // Bradley–Terry (the count fold is purely additive, the cheapest
      // warm state in the family); the oracle unrolls BOTH phases, so the
      // green hash proves the warm trajectory, not the cold mirror
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value"))
      val nxt = ev.select((col("event_id") - 1).as("event_id"),
        col("event_type").as("t2"), col("value").as("v2"))
      val win = col("value") > col("v2") ||
        (col("value") === col("v2") && col("event_type") < col("t2"))
      val m = ev.join(nxt, "event_id")
        .filter(col("event_type") =!= col("t2"))
        .select(when(win, col("event_type")).otherwise(col("t2")).as("winner"),
          when(win, col("t2")).otherwise(col("event_type")).as("loser"),
          (col("event_id") % 10 === 0).as("late"))
      val warm = Experiment.btRounds(
        Experiment.btInit(m.filter(!col("late"))), 5)
      Experiment.btScores(
          Experiment.btInsert(warm, m.filter(col("late")), iters = 2))
        .orderBy("item")
    }),
    "q207_ivf_incremental" -> ((s, dir) => {
      // the vector-daemon path: IVF index trained+built on 90% of the
      // embeddings, the late 10% folded in as a cell-assigned LSM batch
      // against the FROZEN centroids (no base rewrite), then served. The
      // oracle recomputes assignment for EVERY vector from the embeddings
      // table against the stored centroid parquet, so a green hash proves
      // the folded tree holds exactly the assignment a full re-assignment
      // would produce — incremental == rebuild, the q199 contract for ANN
      val emb = t(s, dir, "embeddings")
      val path = ivfIndexPath(dir) + "_inc"
      // reset the tree: a prior invocation's meta (last_batch=1) would
      // otherwise no-op this run's fold over the freshly overwritten base
      // (the q204 cache-substitution lesson, at-rest edition)
      graft.util.Lsm.fs(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 10 =!= 0), path,
        nlist = 16)
      Similarity.ivfInsert(s, path, emb.filter(col("vec_id") % 10 === 0),
        batchId = 1L)
      Similarity.ivfTopKIndexed(s, path, emb.filter(col("vec_id") < 5), 10,
        nprobe = 4)
        .orderBy("q_id", "rank")
    }),
    "q208_emb_dedup_gate" -> ((s, dir) => {
      // the vector daemon's admission gate as a pure operator: an IVF
      // tree on the 90% base, then a batch holding novel vectors
      // (vec_id%10==0), verbatim re-deliveries (%10==1), planted index
      // near-dups (copies of stored %10==3 vectors under +100000 ids) and
      // planted within-batch near-dups (+200000 copies of the batch's own
      // %10==0 members). The oracle replays the whole gate from the
      // embeddings table + stored centroids — probe cells, cell-local
      // pair candidates, cosine verify, drop-the-higher rule, status
      // precedence — so a green hash proves the gate admits exactly what
      // the algorithm promises
      val emb = t(s, dir, "embeddings")
      val path = ivfIndexPath(dir) + "_gate"
      graft.util.Lsm.fs(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 10 =!= 0), path,
        nlist = 16)
      val batch = emb.filter(col("vec_id") % 10 === 0)
        .unionByName(emb.filter(col("vec_id") % 10 === 1))
        .unionByName(emb.filter(col("vec_id") % 10 === 3)
          .withColumn("vec_id", col("vec_id") + 100000))
        .unionByName(emb.filter(col("vec_id") % 10 === 0)
          .withColumn("vec_id", col("vec_id") + 200000))
        .select("vec_id", "embedding")
      Similarity.embGateVerdicts(s, path, batch, threshold = 0.95, nprobe = 2)
        .orderBy("vec_id")
    }),
    "q213_repetition" -> ((s, dir) =>
      // Gopher/MassiveText repetition signals (the other half of q205's
      // hygiene family): duplicate 2-/3-gram fractions and the top
      // 2-gram's share per doc, thresholds set to split this fixture
      // (~108/500 docs exceed the dup2 ceiling at sf0.01). The oracle
      // rebuilds both gram tables with list_transform and replays the
      // exact integer ratios.
      TextAnalysis.repetitionSignals(tp(s, dir, "documents"))
        .orderBy("doc_id")),
    "q212_domain_cap" -> ((s, dir) => {
      // crawl-curation domain capping: deterministic URLs derived from the
      // table (the synthHtml sibling convention), components extracted
      // with portable anchored regexes, then each host keeps only its 2
      // longest documents (n_chars DESC, doc_id ASC) — the CCNet-style
      // hot-site cap, planned through the bounded-heap TopKPerKey execs.
      // The oracle rebuilds the URLs, re-extracts every part, and replays
      // the cap as a rank window
      val u = TextAnalysis.synthUrls(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.urlHost(col("url")).as("host"),
          TextAnalysis.urlDomain(col("url")).as("domain"),
          TextAnalysis.urlTld(col("url")).as("tld"),
          TextAnalysis.urlPath(col("url")).as("path"))
      TextAnalysis.domainCap(u, "host", col("n_chars"), k = 2)
        .select(col("doc_id"), col("host"), col("domain"), col("tld"),
          col("path"), col("rank").cast("long").as("rank"))
        .orderBy("doc_id")
    }),
    "q211_html_extract" -> ((s, dir) => {
      // web-crawl boilerplate stripping: documents wrapped in a
      // deterministic HTML container (script with a bare '<' and quoted
      // entities, style, comment, nav/footer boilerplate, literal
      // entities), then the fixed-order extraction chain recovers the
      // main text. The oracle rebuilds the SAME container from the table
      // and replays every rule in SQL — zero-shuffle narrow codegen on
      // the Spark side
      val h = TextAnalysis.synthHtml(t(s, dir, "documents"))
      h.select(col("doc_id"),
          length(col("html")).cast("long").as("raw_len"),
          TextAnalysis.htmlExtract(col("html")).as("clean"))
        .withColumn("clean_len", length(col("clean")).cast("long"))
        .orderBy("doc_id")
    }),
    "q210_ivfpq_incremental" -> ((s, dir) => {
      // the compressed-index daemon path: IVF-PQ tree built on 90% of the
      // embeddings, the late 10% folded in encoded against the FROZEN
      // stored centroids AND codebooks (no rewrite of base codes). The
      // oracle recomputes cell + all 8 sub-codes for EVERY vector from the
      // stored tables, so a green hash proves the folded codes equal a
      // full re-encode — incremental == rebuild for the compressed tree
      val emb = t(s, dir, "embeddings")
      val path = ivfPqIndexPath(dir) + "_inc"
      graft.util.Lsm.fs(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      Pq.writeIvfPqIndex(emb.filter(col("vec_id") % 10 =!= 0), path,
        nlist = 16, residual = false)
      Pq.ivfPqInsert(s, path, emb.filter(col("vec_id") % 10 === 0),
        batchId = 1L)
      s.read.parquet(s"$path/codes")
        .select(col("vec_id"), col("cid").cast("long").as("cell"),
          col("sub"), col("code"))
        .orderBy("vec_id", "sub")
    }),
    "q209_media_gate" -> ((s, dir) => {
      // the media daemon's admission gate over the REAL decoded hash
      // fixture: an at-rest pigeonhole chunk index on the 90% base, then
      // a batch of novel hashes (doc_id%10==0), verbatim re-deliveries
      // (%10==1), planted index near-dups (stored %10==3 hashes under
      // +100000 ids) and within-batch near-dups (+200000 copies of the
      // batch's own %10==0 hashes). Pigeonhole is LOSSLESS for pairs
      // within maxDist, so the oracle's brute-force bit_count(xor)
      // replay from the same pixel fixture is an exact mirror — a green
      // hash proves the chunk-join gate admits exactly the brute-force
      // admission set
      val pxPath = grayPixelsPath(dir) + "_gate"
      Multimodal.grayPixels(s,
          Multimodal.synthMedia(s, tp(s, dir, "documents")))
        .write.mode("overwrite").parquet(pxPath)
      val hashes = Multimodal.aHashFromPixels(s.read.parquet(pxPath))
        .select("doc_id", "ahash")
      val idxPath = pxPath + "_idx"
      graft.util.Lsm.fs(s, idxPath)
        .delete(new org.apache.hadoop.fs.Path(idxPath), true)
      Multimodal.hashIndexInsert(s, idxPath,
        hashes.filter(col("doc_id") % 10 =!= 0), batchId = 0L)
      val batch = hashes.filter(col("doc_id") % 10 === 0)
        .unionByName(hashes.filter(col("doc_id") % 10 === 1))
        .unionByName(hashes.filter(col("doc_id") % 10 === 3)
          .withColumn("doc_id", col("doc_id") + 100000))
        .unionByName(hashes.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 200000))
      Multimodal.mediaGateVerdicts(s, idxPath, batch, maxDist = 6)
        .orderBy("doc_id")
    }),
    "q202_equidepth" -> ((s, dir) =>
      // optimizer-statistics artifact: 8 equal-count price buckets with
      // EXACT order-statistic boundaries (bucket refinement, no sort) —
      // the histogram a CBO publishes next to a column
      Stats.equiDepthHistogram(
          t(s, dir, "lineitem").select(col("l_extendedprice")),
          "l_extendedprice", 8)
        .orderBy("bucket")),
    "q203_robust_outliers" -> ((s, dir) =>
      // whale-proof outlier gate: modified z-score off median/MAD per
      // event type — the heavy-tail-safe replacement for mean ± 3σ
      Stats.robustOutliers(
          t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", "value", "event_id")
        .orderBy("grp", "id")),
    "q200_cube" -> ((s, dir) =>
      // the OLAP summary lattice: one pass emits every (returnflag,
      // linestatus) grouping-set aggregate plus both margins and the
      // grand total, grouping_id disambiguating real NULLs from
      // rolled-up dimensions — Catalyst expands the cube BEFORE the
      // aggregate, so it is still one shuffle with map-side combine
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    "q201_pivot" -> ((s, dir) =>
      // the wide summary table: per-source doc counts pivoted over the
      // closed language set — one groupBy with conditional aggregates
      // under the hood (values pinned, so no discovery pass)
      tp(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source")),
    "q199_bm25_incremental" -> ((s, dir) => {
      // the retrieval daemon path: index 90% of the corpus at rest, fold
      // the late 10% in as an LSM-style batch append (no base rewrite),
      // then serve — the oracle recomputes BM25 from ALL documents, so a
      // green hash proves incremental == full rebuild
      val docs = tp(s, dir, "documents")
      val path = invIndexPath(dir) + "_inc"
      Retrieval.writeInvertedIndex(docs.filter(col("doc_id") % 10 =!= 0), path)
      Retrieval.invIndexInsert(s, path, docs.filter(col("doc_id") % 10 === 0),
        batchId = 1L)
      Retrieval.bm25TopKIndexed(s, path, Seq("scan", "vector", "stream"), 15)
        .orderBy("rank")
    }),
    "q195_containment" -> ((s, dir) =>
      // asymmetric near-dup: 3-gram containment >= 0.8 — catches a doc
      // quoted/embedded inside a much larger one, which symmetric Jaccard
      // (q31) misses when sizes differ; same inverted-index core
      Dedup.containmentPairs(tp(s, dir, "documents"), 3, 0.8)
        .orderBy("a_id", "b_id")),
    "q196_group_quantiles" -> ((s, dir) =>
      // per-source exact token-length P25/P50/P90 — the q138 bucket
      // refinement per group, every driver collect replaced by a
      // distributed stage (holds at any group count)
      Stats.exactQuantilesPerGroup(
          tp(s, dir, "documents")
            .select(col("source"), TextAnalysis.tokenCount(col("text")).as("v")),
          "source", "v", Seq(0.25, 0.5, 0.9))
        .orderBy("grp", "p")),
    "q197_mad" -> ((s, dir) =>
      // robust center/spread per event type: median + MAD via two grouped
      // bucket-refinement passes — the outlier gate a whale value can't move
      Stats.madPerGroup(
          t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", "value")
        .orderBy("grp")),
    "q198_self_bleu" -> ((s, dir) => {
      // corpus-diversity readout: BLEU-2 of each doc against its source
      // SUCCESSOR (ids stride by the source arity, so +20 is the next doc
      // of the same source — self-BLEU, high = templated text); the
      // pairing is a narrow equi-join, never a per-source window sort
      val docs = tp(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val pairs = docs.alias("a").join(docs.alias("b"),
          col("a.source") === col("b.source") &&
            col("b.doc_id") === col("a.doc_id") + 20)
        .select(col("a.doc_id").as("pair_id"), col("a.text").as("cand"),
          col("b.text").as("ref"))
      TextAnalysis.bleuPairs(pairs, "pair_id", "cand", "ref", 2)
        .orderBy("pair_id")
    }),
    "q194_lp_incremental" -> ((s, dir) => {
      // incremental community maintenance: 90% of the customer–supplier
      // graph settles over 5 label-propagation rounds, the late 10% folds
      // in as a batch with 2 warm rounds — q96's daemon path applied to
      // communities; the oracle unrolls BOTH phases (the warm trajectory
      // is not the cold q108 one)
      // the fact-scale orders⋈lineitem edge derivation feeds BOTH slices
      // (base and batch symmetrize chains) — materialize it once
      graft.util.Checkpoints.ensureDir(s)
      val directed = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"),
          (col("o_orderkey") % 10 === 0).as("late"))
        .barrier(StorageLevel.DISK_ONLY)
      val base = Graph.symmetrize(directed.filter(!col("late")).drop("late"))
      val batch = Graph.symmetrize(directed.filter(col("late")).drop("late"))
      val warm = Graph.lpRounds(Graph.lpInit(base), 5)
      Graph.lpInsert(warm, batch, rounds = 2).labels.orderBy("node")
    }),
    "q96_pagerank_incremental" -> ((s, dir) => {
      // incremental rank maintenance: 90% of the customer–supplier order
      // graph builds warm checkpointed state (5 rounds), the remaining 10%
      // folds in as an edge batch with 2 warm rounds — the daemon's
      // per-batch path, oracled end to end against the unrolled mirror of
      // BOTH phases (the warm trajectory is NOT the cold q69 one; only the
      // exact init→insert→re-iterate arithmetic reproduces it)
      // the fact-scale orders⋈lineitem edge derivation feeds BOTH slices
      // (base and batch symmetrize chains) — materialize it once
      graft.util.Checkpoints.ensureDir(s)
      val directed = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"),
          (col("o_orderkey") % 10 === 0).as("late"))
        .barrier(StorageLevel.DISK_ONLY)
      val base = Graph.symmetrize(directed.filter(!col("late")).drop("late"))
      val batch = Graph.symmetrize(directed.filter(col("late")).drop("late"))
      val warm = Graph.rankRounds(Graph.rankInit(base), 5)
      Graph.rankResult(Graph.rankInsert(warm, batch, rounds = 2))
        .orderBy("node")
    }),
    "q94_contamination_report" -> ((s, dir) => {
      // the eval-side contamination view (q54's complement): per eval doc,
      // how many train docs share any of its 5-grams and the pair volume —
      // what a benchmark owner reads to retire compromised items
      val docs = tp(s, dir, "documents")
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), 5)
        .orderBy("eval_doc_id")
    }),
    "q104_scd2" -> ((s, dir) =>
      // type-2 dimension history of each customer's order status: the
      // orders changelog keyed by customer, ordered (date, orderkey),
      // unchanged runs compacted into [valid_from, valid_to) intervals —
      // one exchange, two shared-sort windows
      Warehouse.scd2(
        t(s, dir, "orders").select(col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ; the session TZ is pinned UTC, so
          // the cast reads the wall clock as UTC = DuckDB's epoch_us
          expr("unix_micros(cast(o_orderdate as timestamp))").as("ts_us"),
          col("o_orderkey"),
          col("o_orderstatus")),
        Seq("o_custkey"), Seq("ts_us", "o_orderkey"), Seq("o_orderstatus"))
        .orderBy(col("o_custkey"), col("valid_from"),
          coalesce(col("valid_to"), lit(Long.MaxValue)), col("o_orderstatus"))),
    "q105_snapshot_diff" -> ((s, dir) => {
      // load reconciliation: the per-(user, event-type) latest state at the
      // mid-month cutoff vs at end of month — CDC compaction builds both
      // snapshots, the full-outer diff classifies every key
      // microsecond timestamps throughout (the q72 convention): DuckDB
      // reads the NANOS fixture at us precision, so ns-grain output could
      // never hash-match; (ts_us, event_id) stays a total version order
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("event_id"), col("value"))
      def state(d: DataFrame) =
        Cdc.latestPerKey(d, Seq("user_id", "event_type"),
            Seq("ts_us", "event_id"))
          .select("user_id", "event_type", "ts_us", "value")
      val cut = 1705363200000000L // 2024-01-16T00:00Z in epoch us
      Warehouse.snapshotDiff(state(ev.filter(col("ts_us") < cut)), state(ev),
          Seq("user_id", "event_type"))
        .orderBy("user_id", "event_type")
    }),
    "q106_funnel" -> ((s, dir) =>
      // strictly ordered conversion funnel over the event stream: each
      // step anchors on the user's earliest qualifying completion, so
      // downstream reach is maximal and deterministic
      Funnel.funnelSteps(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase")).orderBy("step")),
    "q107_retention" -> ((s, dir) =>
      // cohort retention triangle: users cohorted by first active day,
      // distinct-active counted per (cohort, day offset) — exact integer
      // ns-to-day bucketing (doubles are not exact at epoch-ns magnitude)
      Funnel.retentionCohorts(t(s, dir, "events"), "user_id", "ts",
        86400000000000L).orderBy("cohort", "offset")),
    "q108_label_prop" -> ((s, dir) => {
      // community detection on the customer–supplier graph: 5 synchronous
      // label-propagation rounds, smallest-label tie-break — the
      // no-parameter-k complement to SemDeDup's k-means cells
      val base = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      Graph.labelPropagation(Graph.symmetrize(base), 5).orderBy("node")
    }),
    "q109_editdist_join" -> ((s, dir) => {
      // entity resolution: all part-description pairs within edit distance
      // 1 via the q-gram prefix-filter stack (length filter + rarest-first
      // gram prefixes + banded verify); the oracle is plain brute force, so
      // the green hash proves the filters lose no pair
      val strs = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("id"),
        concat_ws(" ", col("p_name"), col("p_type")).as("s"))
      EditDistance.editDistancePairs(strs, "id", "s", maxDist = 1)
        .orderBy("a_id", "b_id")
    }),
    "q110_temperature_mix" -> ((s, dir) =>
      // multilingual-style alpha-sampling: per-source quota out of 100k
      // rows at temperature alpha=0.5 — corpus collapses to one count row
      // per source before any arithmetic
      Sampling.temperatureQuotas(t(s, dir, "documents"), "source", 0.5,
        100000L).orderBy("source")),
    "q111_pit_join" -> ((s, dir) => {
      // point-in-time lookup against the q104 dim: each lineitem reads its
      // customer's order-status as of ship date; changelog pre-compacted
      // to one change per (custkey, ts) so dim versions are unique per
      // (key, valid_from) — the pointInTime contract
      val chg = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_micros(cast(o_orderdate as timestamp))").as("ts_us"),
          col("o_orderkey"), col("o_orderstatus"))
        .groupBy("o_custkey", "ts_us")
        .agg(max(struct(col("o_orderkey"), col("o_orderstatus")))
          .getField("o_orderstatus").as("o_orderstatus"))
      val dim = Warehouse.scd2(chg, Seq("o_custkey"), Seq("ts_us"),
        Seq("o_orderstatus"))
      val fact = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          expr("unix_micros(cast(l_shipdate as timestamp))").as("ts_us"))
      Warehouse.pointInTime(fact, dim, "o_custkey", "ts_us",
          Seq("o_orderstatus"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("ts_us"), col("asof_o_orderstatus").as("status_at_ship"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q112_interval_coalesce" -> ((s, dir) => {
      // gaps-and-islands over per-user activity: each event opens a 5-min
      // [ts, ts+300s) window, overlapping/touching windows merge into
      // islands — microsecond grain (the q72/q105 convention)
      val iv = t(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("ivl_start"),
        expr("ts div 1000 + 300000000").as("ivl_end"))
      Intervals.coalesce(iv, Seq("user_id"), "ivl_start", "ivl_end")
        .orderBy("user_id", "island_start")
    }),
    "q115_psi_drift" -> ((s, dir) => {
      // corpus drift between the mid-month load and the full month: PSI
      // per feature over a categorical (event_type) and a binned numeric
      // (value div 25) marginal, stacked into one observation frame
      val ev = t(s, dir, "events").select(col("event_type"), col("value"),
        expr("ts div 1000").as("ts_us"))
      def obs(d: DataFrame) =
        d.select(lit("event_type").as("feature"),
            col("event_type").as("bucket"))
          .unionByName(d.select(lit("value_bin").as("feature"),
            format_string("b%02d", expr("cast(floor(value / 25.0d) as int)"))
              .as("bucket")))
      val cut = 1705363200000000L // 2024-01-16T00:00Z in epoch us (q105)
      Drift.psiReport(obs(ev.filter(col("ts_us") < cut)), obs(ev))
        .orderBy("feature")
    }),
    "q116_dq_audit" -> ((s, dir) => {
      // load-gate constraint report across the warehouse tables: nullness,
      // key uniqueness (one clean, one violated on purpose), referential
      // integrity, and two range policies with real violations
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      Dq.audit(Seq(
        Dq.notNull(cust, "c_name"),
        Dq.uniqueKey(orders, Seq("o_orderkey")),
        Dq.uniqueKey(cust, Seq("c_nationkey")),
        Dq.foreignKey(li, "l_orderkey", orders, "o_orderkey"),
        Dq.foreignKey(orders, "o_custkey", cust, "c_custkey"),
        Dq.inRange(li, "l_discount", 0.0, 0.05),
        Dq.inRange(li, "l_quantity", 1.0, 25.0)))
        .orderBy("constraint")
    }),
    "q192_balance" -> ((s, dir) =>
      // mixture-dimension balance: per-column Shannon entropy over the
      // documents' lang and source marginals
      Dq.balanceReport(t(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("column")),
    "q189_clustering_coeff" -> ((s, dir) => {
      // community-vs-chain diagnostic on the near-dup graph: per-node
      // fraction of neighbor pairs that are themselves connected
      val pairs = Dedup.ngramJaccardPairs(tp(s, dir, "documents"), 3, 0.5)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      Graph.clusteringCoefficient(pairs).orderBy("node")
    }),
    "q190_copurchase" -> ((s, dir) =>
      // "bought X also bought Y": Apriori-pruned item-pair Jaccard/cosine
      // over order baskets
      Association.itemPairSimilarity(t(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minSupport = 2).orderBy("item_a", "item_b")),
    "q191_rfm" -> ((s, dir) =>
      // RFM quintile segmentation of customers from their orders
      Warehouse.rfm(t(s, dir, "orders")
          .withColumn("ots",
            unix_micros(col("o_orderdate").cast("timestamp"))),
        "o_custkey", "ots", "o_totalprice").orderBy("entity")),
    "q187_canonical_pick" -> ((s, dir) => {
      // the keep-rule that keeps the BEST cluster member, not an arbitrary
      // one: CC labels + quality score -> per-cluster argmax
      graft.util.Checkpoints.ensureDir(s)
      val docs = tp(s, dir, "documents")
      val cc = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, 3, 0.5).select("a_id", "b_id"))
      Dedup.canonicalPick(cc,
        docs.withColumn("q", TextAnalysis.qualityScore(col("text"))), "q")
        .orderBy("rep_id")
    }),
    "q188_ndcg" -> ((s, dir) => {
      // ranking quality of BM25 against graded term-coverage relevance:
      // NDCG@10 pays log-discounted attention to ORDER, which q90's
      // recall cannot see
      val docs = tp(s, dir, "documents")
      val res = Retrieval.bm25TopK(docs, Bm25Terms, 20)
        .select(lit("q0").as("qid"), col("doc_id").as("item"), col("rank"))
      val rel = Bm25Terms.map(t =>
        when(array_contains(split(col("text"), " "), t), 1L).otherwise(0L))
        .reduce(_ + _)
      val lab = docs.select(col("doc_id").as("item"), rel.as("rel"))
        .filter(col("rel") > 0).withColumn("qid", lit("q0"))
      Retrieval.ndcgAtK(res, lab, 10).orderBy("qid")
    }),
    "q183_skew_report" -> ((s, dir) =>
      // pre-flight skew diagnostic for a prospective join key: heavy
      // hitters + count quantiles + the salt factor for 32 reducers
      Layout.skewReport(t(s, dir, "lineitem"), Seq("l_suppkey"), parts = 32)
        .orderBy("rank")),
    "q184_reshard_plan" -> ((s, dir) =>
      // grow 8 -> 12 shards: mod layout vs range-stable unit-hash layout,
      // measured rows moved each way
      Layout.reshardPlan(t(s, dir, "documents"), "doc_id", 8, 12)
        .orderBy("strategy")),
    "q185_fertility" -> ((s, dir) =>
      // tokenizer fertility per language: subword-per-word ratio from the
      // q58 subword regex — the data-card line that flags a language the
      // tokenizer fragments
      tp(s, dir, "documents").groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("tokens"),
          sum(TextAnalysis.subwordCount(col("text"))).as("subwords"))
        .select(col("lang"), col("n_docs"), col("tokens"), col("subwords"),
          round(col("subwords").cast("double") / col("tokens").cast("double"), 6)
            .as("fertility"))
        .orderBy("lang")),
    "q186_lsh_plan" -> ((s, dir) =>
      // the minhashLshPairs parameter table: S-curve FP/FN areas for every
      // (bands, rows) split of the 64-hash signature at the 0.35 default
      Dedup.lshPlan(s, signatureSize = 64, threshold = 0.35)
        .orderBy("bands")),
    "q179_bradley_terry" -> ((s, dir) => {
      // preference ranking from pairwise outcomes: adjacent event pairs as
      // synthetic "A beat B" comparisons (higher value wins, type asc tie
      // rule), then 5 MM rounds -> per-type strength + share
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value"))
      val nxt = ev.select((col("event_id") - 1).as("event_id"),
        col("event_type").as("t2"), col("value").as("v2"))
      val win = col("value") > col("v2") ||
        (col("value") === col("v2") && col("event_type") < col("t2"))
      val m = ev.join(nxt, "event_id")
        .filter(col("event_type") =!= col("t2"))
        .select(when(win, col("event_type")).otherwise(col("t2")).as("winner"),
          when(win, col("t2")).otherwise(col("event_type")).as("loser"))
      Experiment.bradleyTerry(m).orderBy("item")
    }),
    "q180_fs_linkage" -> ((s, dir) => {
      // Fellegi-Sunter match weights over blocked customer pairs: three
      // field agreements weighed by plan-time log2(m/u) literals, then the
      // two-threshold match/possible/non_match rule
      val c = t(s, dir, "customer")
      def side(p: String) = c.select(col("c_custkey").as(s"${p}_id"),
        col("c_nationkey").as(s"${p}_nk"), col("c_mktsegment").as(s"${p}_seg"),
        col("c_acctbal").as(s"${p}_bal"), col("c_name").as(s"${p}_name"))
      val pairs = side("a").join(side("b"),
        col("a_nk") === col("b_nk") && col("a_seg") === col("b_seg") &&
          col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (floor(col("a_bal") / 1000.0) === floor(col("b_bal") / 1000.0))
            .as("balbucket"),
          ((col("a_bal") >= 0) === (col("b_bal") >= 0)).as("balsign"),
          (substring(col("a_name"), -1, 1) === substring(col("b_name"), -1, 1))
            .as("name1"))
      Linkage.fsScore(pairs, FsFields, upper = 4.0, lower = 0.0)
        .withColumn("fs_score", col("fs_score").cast("double"))
        .orderBy("a_id", "b_id")
    }),
    "q181_quantile_norm" -> ((s, dir) =>
      // align per-type score distributions onto the global one: midpoint
      // within-group percentile -> interpolated global histogram quantile
      Stats.quantileNormalize(t(s, dir, "events"), "event_type", "value",
        "event_id", 10.0).orderBy("event_id")),
    "q182_interarrival" -> ((s, dir) =>
      // ingest burstiness per type: exponential rate from exact ns gap
      // sums + the KS distance of observed gaps from that fit
      TimeSeries.interarrivalKs(t(s, dir, "events"), "event_type", "ts",
        "event_id").orderBy("key")),
    "q175_link_predict" -> ((s, dir) => {
      // link prediction on the weak-affinity graph (share ≥2 rare shingles,
      // below the 0.5 near-dup bar — the near-dup graph itself is clique-
      // structured / transitively closed, so it has NO open wedge and link
      // prediction on it is vacuously empty): non-adjacent doc pairs
      // sharing a neighbor, scored by common-neighbor count, Adamic-Adar,
      // and neighborhood Jaccard — the "pairs the similarity join missed"
      // review queue
      // maxGramDocs pinned at the old default: the oracle mirrors this
      // cap, and the fixture's gram-df distribution is known (bounded by
      // the corpus size) — the operator's production default is 1000
      val pairs = Dedup.affinityPairs(tp(s, dir, "documents"), 3,
          minCommon = 2, maxJaccard = 0.5, maxGramDocs = 10000)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      Graph.linkPrediction(pairs).orderBy("u", "v")
    }),
    "q176_readability" -> ((s, dir) =>
      // Flesch-Kincaid complexity gate: vowel-run syllable heuristic,
      // [.!?]+ sentence runs, two fixed-formula round-6 ratios
      TextAnalysis.readability(tp(s, dir, "documents")).orderBy("doc_id")),
    "q177_zipf" -> ((s, dir) =>
      // corpus-health one-liner: OLS of ln(freq) on ln(rank) over the top
      // vocabulary — natural text sits near slope -1
      TextAnalysis.zipfFit(tp(s, dir, "documents"))),
    "q178_changepoint" -> ((s, dir) =>
      // per-type level-shift detector: integer-exact CUSUM argmax over the
      // (ts, event_id) total order, then before/after means
      TimeSeries.changepoint(t(s, dir, "events"), "event_type", "ts",
        "value", "event_id").orderBy("key")),
    "q174_dedup_savings" -> ((s, dir) => {
      // the dedup business case: cluster-size histogram + bytes removable
      // if only each near-dup cluster's representative is kept — the
      // number a data card quotes before anyone runs the removal
      graft.util.Checkpoints.ensureDir(s)
      val docs = tp(s, dir, "documents")
      val cc = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, 3, 0.5).select("a_id", "b_id"))
      val sizes = cc.groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .join(sizes, "rep_id")
        .groupBy("cluster_size")
        .agg(countDistinct(col("rep_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("rep_id"), col("n_chars"))
            .otherwise(0L)).as("bytes_removable"))
        .orderBy("cluster_size")
    }),
    "q173_abc" -> ((s, dir) =>
      // Pareto / ABC contribution: which parts carry the revenue mass —
      // head (A) to 80% cumulative share, B to 95%, tail C
      Warehouse.abcAnalysis(t(s, dir, "lineitem"), "l_partkey",
        "l_extendedprice").orderBy("entity")),
    "q172_profile" -> ((s, dir) =>
      // the table summary a warehouse publishes: per-column counts, nulls,
      // exact distincts, range, mean — one melt + one aggregate
      Dq.numericProfile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("column")),
    "q171_corr_matrix" -> ((s, dir) =>
      // feature-redundancy profile: pairwise Pearson correlations over the
      // money columns from one melt + one exact-decimal aggregate
      Stats.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount")).orderBy("pair")),
    "q170_join_size" -> ((s, dir) => {
      // CBO-style join cardinality estimate BEFORE running the join: CMS
      // inner product (AMS identity) of the click side vs the purchase
      // side on user_id, exact Sum(na*nb) alongside for grading
      val ev = t(s, dir, "events")
      Sketches.joinSizeEstimate(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), "user_id")
    }),
    "q169_token_budget" -> ((s, dir) =>
      // pretraining mixture plan: exact per-source token counts vs target
      // weights under a 1M-token budget — the epochs/repetition table a
      // data card publishes
      Sampling.tokenBudgetMixture(tp(s, dir, "documents"), "source", "text",
        Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
        budgetTokens = 1000000L).orderBy("source")),
    "q168_kn_score" -> ((s, dir) =>
      // Kneser-Ney perplexity filter: the continuation-probability
      // smoothing real LM filters use, next to q65's add-one baseline
      LangModel.kneserNeyNll(tp(s, dir, "documents")).orderBy("doc_id")),
    "q215_ccnet_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail: q168's KN scores cut at EXACT nll
      // tertiles (ceil-rank order statistics), the quality tiering the
      // LLaMA-1 web recipe used. Oracle replays the KN CTEs plus the two
      // rank-located thresholds.
      LangModel.perplexityBuckets(tp(s, dir, "documents"))
        .orderBy("doc_id")),
    "q216_proto_prune" -> ((s, dir) => {
      // Prototypicality pruning (Sorscher et al. 2022): per-cluster
      // cosine-to-centroid difficulty over a materialized IVF quantizer
      // (its OWN tree path — q42's tree must not be rebuilt mid-verify or
      // the Lloyd last-ulp could shift under q42's already-dumped rows);
      // keep the 20 hardest per cluster. Oracle replays assignment +
      // per-cluster cut from the same stored doubles.
      val emb = t(s, dir, "embeddings")
      val path = ivfProtoIndexPath(dir)
      Similarity.writeIvfIndex(emb, path, nlist = 16)
      graft.operators.Selection.prototypicalityPrune(s, path, emb, 20)
        .orderBy("cid", "rank")
    }),
    "q167_image_ahash" -> ((s, dir) => {
      // perceptual hashes over REAL decoded containers (BMP/PPM pixel
      // reads): the codec materializes the grayscale frame as a parquet
      // fixture, then the aHash evaluates with Column arithmetic only —
      // the oracle replays grid sample + bit pack from the same fixture,
      // so only the byte decode itself stays spec-gated (MultimodalSpec
      // pins aHashFromPixels == the JVM imageHashes loop)
      val path = grayPixelsPath(dir)
      Multimodal.grayPixels(s,
          Multimodal.synthMedia(s, tp(s, dir, "documents")))
        .write.mode("overwrite").parquet(path)
      Multimodal.aHashFromPixels(s.read.parquet(path)).orderBy("doc_id")
    }),
    "q193_image_pairs" -> ((s, dir) => {
      // the pigeonhole Hamming pair join over the fixture-derived hashes;
      // the oracle runs the brute-force all-pairs bit_count(xor) from the
      // same pixel frame, so a green hash proves the chunk join loses no
      // pairs (the q129 exact-mirror convention)
      val path = grayPixelsPath(dir) + "_pairs"
      Multimodal.grayPixels(s,
          Multimodal.synthMedia(s, tp(s, dir, "documents")))
        .write.mode("overwrite").parquet(path)
      Multimodal.imageNearDupPairs(
          Multimodal.aHashFromPixels(s.read.parquet(path)), maxDist = 6)
        .orderBy("a_id", "b_id")
    }),
    "q166_neyman" -> ((s, dir) =>
      // sampling-design step: Neyman-optimal budget split across sources
      // (alloc ∝ N_h·σ_h of doc length) for a 1000-doc audit sample
      Sampling.neymanAllocation(t(s, dir, "documents"), "source", "n_chars",
        budget = 1000).orderBy("stratum")),
    "q165_seasonal_anomaly" -> ((s, dir) =>
      // calendar-aware anomaly flags: each event scored against its own
      // (type, hour-of-day) mean ± 3σ baseline, not a global band
      TimeSeries.seasonalAnomaly(t(s, dir, "events"), "event_type", "ts",
        "value", "event_id").orderBy("event_id")),
    "q164_retention_fit" -> ((s, dir) =>
      // retention half-life: per-offset active-user curve folded across
      // daily cohorts, log-linear fit over the bounded offset table
      Funnel.retentionHalfLife(t(s, dir, "events"), "user_id", "ts",
        bucketSize = 86400000000000L, maxOffset = 10)),
    "q163_user_paths" -> ((s, dir) =>
      // journey mining: the 10 most common 3-step event paths across all
      // users — funnel discovery before funnel measurement
      Funnel.pathNgrams(t(s, dir, "events"), "user_id", "event_type", "ts",
        "event_id", n = 3, k = 10)),
    "q162_time_to_convert" -> ((s, dir) =>
      // funnel latency: signup -> first purchase delay in whole hours,
      // exact p50/p90 via the q138 bucket-refinement selection (no global
      // sort), with the conversion rate alongside
      Funnel.timeToConvert(t(s, dir, "events"), "user_id", "event_type",
        "ts", "signup", "purchase", Seq(0.5, 0.9)).orderBy("p")),
    "q161_label_noise" -> ((s, dir) =>
      // confident-learning-lite review queue: docs whose NB-predicted
      // language confidently disagrees with the stored lang tag, most
      // suspicious first
      Classify.labelNoiseReport(
        tp(s, dir, "documents").select(col("doc_id"),
          col("lang").as("label"), col("text")), numSlots = 512)
        .orderBy(col("margin").desc, col("doc_id").asc)),
    "q160_srm" -> ((s, dir) =>
      // sample-ratio-mismatch guardrail: distinct users hashed into three
      // arms vs the designed 1/3 shares — Pearson goodness-of-fit
      Experiment.srmCheck(
        t(s, dir, "events").select(col("user_id")).distinct()
          .withColumn("arm", col("user_id") % 3),
        "arm", Seq("0" -> (1.0 / 3.0), "1" -> (1.0 / 3.0), "2" -> (1.0 / 3.0)))),
    "q159_gini" -> ((s, dir) => {
      // activity concentration: Gini over per-user total value within each
      // event type — the power-law health check on the source mix
      val per = t(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(col("event_type").as("grp"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("x"))
      Stats.giniPerGroup(per, "grp", "x").orderBy("grp")
    }),
    "q158_did" -> ((s, dir) =>
      // difference-in-differences: even vs odd users across the q105 cut,
      // 2x2 cell means + interaction effect in one conditional aggregate
      Experiment.diffInDiff(t(s, dir, "events")
          .withColumn("treat", col("user_id") % 2 === 0),
        "treat", "ts", "value", cutTs = 1705363200000000000L)),
    "q157_cuped" -> ((s, dir) =>
      // CUPED variance reduction: pre-period per-user value predicts the
      // experiment-period metric; theta and the variance cut from five
      // exact-decimal cross-moments
      Experiment.cuped(t(s, dir, "events"), "user_id", "ts", "value",
        cutTs = 1705363200000000000L)),
    "q156_winsorize" -> ((s, dir) =>
      // robust-mean gate: clip event values at exact per-type [p5, p95]
      // ceil-rank bounds, report raw vs winsorized means
      Stats.winsorizedMeans(t(s, dir, "events"), "event_type", "value",
        pLo = 5, pHi = 95).orderBy("grp")),
    "q155_attribution" -> ((s, dir) =>
      // conversion attribution: purchases credit the click/view touches in
      // the prior 72 h — last-touch and linear models side by side, with
      // untouched conversions in "(none)"
      Experiment.attribution(t(s, dir, "events"), "user_id", "event_type",
        "ts", "event_id", "purchase", Seq("click", "view"),
        lookback = 259200000000000L).orderBy("channel")),
    "q154_emb_outliers" -> ((s, dir) => {
      // embedding quality gate: vectors below their cell's 5th-percentile
      // cosine-to-centroid are flagged (cluster-distance outlier filter);
      // threshold = exact per-cell ceil-rank percentile off the stored
      // cell layout (own sibling path, q66 convention)
      val emb = t(s, dir, "embeddings")
      val path = outIndexPath(dir)
      Similarity.writeIvfIndex(emb, path, nlist = 16)
      Similarity.centroidOutliers(s, path, pPct = 5).orderBy("vec_id")
    }),
    "q153_conformal" -> ((s, dir) =>
      // distribution-free prediction intervals per event type: calibrate
      // |v − mean| on a deterministic half split, pick the exact conformal
      // rank, report held-out coverage (sits at/above 90%)
      Classify.conformalReport(t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", "event_id", "value", calFrac = 0.5, alphaPct = 10)
        .orderBy("grp")),
    "q152_sq8" -> ((s, dir) =>
      // int8-range scalar quantization audit: per-dimension affine params
      // and the exact reconstruction error switching ANN serving to SQ8
      // would cost — 4x compression, no codebook
      Pq.sq8Report(t(s, dir, "embeddings"), "embedding").orderBy("i")),
    "q151_textrank" -> ((s, dir) =>
      // unsupervised keyword extraction: PageRank over the window-2 word
      // co-occurrence graph (TextRank), 5 integer fixed-point rounds,
      // global top-20 by rank
      TextAnalysis.textRankKeywords(tp(s, dir, "documents"), window = 2, k = 20)
        .orderBy(col("rank").desc, col("word").asc)),
    "q150_markov" -> ((s, dir) =>
      // next-action model: first-order transition matrix over each user's
      // time-ordered events, absorbing "(end)" state, row-normalized
      Funnel.markovTransitions(t(s, dir, "events"), "user_id", "event_type",
        "ts", "event_id").orderBy("from_state", "to_state")),
    "q149_trending" -> ((s, dir) =>
      // trending users per event type: half-life-decayed activity counts
      // (168 h), bounded top-10 per type — recency-weighted leaderboard
      TimeSeries.decayedTopK(t(s, dir, "events"), "event_type", "user_id",
        "ts", halfLifeHours = 168, k = 10).orderBy("event_type", "rank")),
    "q148_benford" -> ((s, dir) =>
      // first-digit conformance of line-item amounts per return flag: the
      // synthetic-data / tampering smell test (Benford's law)
      Dq.benfordReport(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .orderBy("grp", "digit")),
    "q147_chi2" -> ((s, dir) =>
      // is document source independent of language? Pearson chi-square +
      // Cramér's V off ONE corpus aggregate (cell counts)
      Stats.chiSquareIndependence(t(s, dir, "documents"), "source", "lang")),
    "q146_welch" -> ((s, dir) =>
      // continuous-metric A/B readout: Welch unequal-variance t between
      // click and purchase event values, sufficient statistics only
      Stats.welchTTest(t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase")),
        "event_type", "value")),
    "q145_stump" -> ((s, dir) =>
      // depth-1 CART split search: which single threshold on length or
      // token count best separates English docs — bucketized candidates,
      // exact Gini from integer counts
      Classify.decisionStump(
        t(s, dir, "documents")
          .withColumn("y", (col("lang") === "en").cast("long"))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
        "y", Seq(("n_chars", 200.0), ("n_tokens", 10.0)))
        .orderBy("feature")),
    "q144_pca" -> ((s, dir) =>
      // top principal component of the embedding table by power iteration
      // — X^T(Xv) streaming passes, never materializing the covariance;
      // anisotropy gauge (eigval share of total variance) alongside
      Pca.pcaTopComponent(t(s, dir, "embeddings"), "embedding", dim = 64,
        iters = 3)),
    "q143_ols" -> ((s, dir) =>
      // per-slice closed-form regression: extended price explained by
      // quantity and discount within each return flag — nine exact-decimal
      // sufficient statistics per group in ONE pass, Cramer solve after
      Stats.ols2(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity", "l_discount").orderBy("l_returnflag")),
    "q142_keyness" -> ((s, dir) =>
      // slice characterization: which words mark the English slice vs the
      // rest of the corpus — Monroe et al. weighted log-odds with an
      // informative Dirichlet prior, shrunk so rare words can't dominate
      TextAnalysis.keyness(tp(s, dir, "documents"), col("lang") === "en")
        .orderBy("word")),
    "q141_cube" -> ((s, dir) => {
      // the OLAP cube surface: revenue and row counts at every
      // (priority × flag) granularity in ONE scan — Spark's Expand emits
      // all four grouping sets without re-reading, grouping_id labels the
      // stratum; money math in exact DECIMAL (the q01 discipline)
      val j = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          col("l_returnflag").as("flag"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
            .as("rev"))
      j.cube(col("priority"), col("flag"))
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n_rows"),
          sum(col("rev")).cast("double").as("revenue"))
        .orderBy("gid", "priority", "flag")
    }),
    "q140_hits" -> ((s, dir) => {
      // hubs & authorities on the directed customer->supplier order graph
      // (Kleinberg HITS, 2 unnormalized integer rounds): authorities =
      // suppliers many well-connected customers buy from, hubs = customers
      // whose purchases concentrate on authoritative suppliers — exact
      // long sums, every round mirrored by the oracle's unrolled joins
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      Graph.hits(e, iters = 2).orderBy("node")
    }),
    "q139_bfs_hops" -> ((s, dir) => {
      // trusted-radius gate: minimum directed hop count from the
      // Brand#11 seed parts over the urgent-order part-chain graph
      // (frontier BFS, exact within 8 hops) — the discrete complement of
      // q85's TrustRank proximity score
      val li = t(s, dir, "lineitem").join(
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
      val e = li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").cast("long").as("src"))
        .withColumn("dst", lead("src", 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("src"))
        .select("src", "dst")
      val seeds = t(s, dir, "part").filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").cast("long").as("node"))
      Graph.shortestHops(e, seeds, maxHops = 8).orderBy("node")
    }),
    "q138_exact_quantiles" -> ((s, dir) =>
      // exact p50/p90/p99 of the event values with NO global sort: bucket
      // counts locate each target rank, a filtered second pass ranks only
      // the targeted buckets — the exact complement to q75's sketch. The
      // oracle computes the same order statistics off a plain global rank
      Stats.exactQuantiles(t(s, dir, "events"), "value",
        Seq(0.5, 0.9, 0.99)).orderBy("p")),
    "q137_ab_test" -> ((s, dir) =>
      // experiment readout: success-rate difference between the even-user
      // (control) and odd-user (treatment) cohorts, two-proportion pooled
      // z-test — four integers and one fixed formula
      Stats.twoProportionZTest(
        t(s, dir, "events").select(
          when(col("user_id") % 2 === 0, "control").otherwise("treatment")
            .as("grp"),
          (col("event_type") =!= "error").cast("long").as("ok")),
        "grp", "ok")),
    "q136_bootstrap_ci" -> ((s, dir) =>
      // uncertainty for a corpus statistic without a resample pass: the
      // Poisson bootstrap — 24 deterministic hash-weighted replicas of
      // mean(value) in ONE aggregate row, 90% CI from the replica order
      // statistics
      Sampling.bootstrapMeanCI(t(s, dir, "events"), "event_id", "value")),
    "q135_survival" -> ((s, dir) => {
      // churn curve: per-user activity span in hours; a user whose last
      // event is > 6 hours before the corpus cutoff has churned (event),
      // later ones are censored — Kaplan-Meier product-limit over the
      // distinct event times. (6 h, not the classic 7 d: the events
      // fixture spans ~30 days but per-user trailing gaps top out around
      // 2 days, so a day-scale threshold never fires and the KM chain
      // would be oracle-checked on zero rows — at 6 h a real majority
      // churns and the rest stay censored, exercising both branches.)
      val ev = t(s, dir, "events")
      val per = ev.groupBy("user_id")
        .agg(min("ts").as("first"), max("ts").as("last"))
      val subj = per.crossJoin(ev.agg(max("ts").as("tend")))
        .select(expr("(last - first) div 3600000000000").as("dur"),
          when(col("tend") - col("last") > 21600000000000L, 1L)
            .otherwise(0L).as("churned"))
      Survival.kaplanMeier(subj, "dur", "churned").orderBy("t")
    }),
    "q134_logreg" -> ((s, dir) =>
      // language detector trained as pure DataFrame aggregates: 3
      // full-batch GD iterations of binary logistic regression on hashed
      // binary unigrams (is the doc English?) — the trainable complement
      // to q103's closed-form NB; the whole weight trajectory replays in
      // the oracle as an unrolled CTE chain
      Classify.logisticTrain(
        tp(s, dir, "documents").select(col("doc_id"), col("text"),
          (col("lang") === "en").cast("long").as("is_en")),
        "is_en", dim = 64, iters = 3, lr = 0.5).orderBy("slot")),
    "q133_hilbert" -> ((s, dir) =>
      // Hilbert index over the q77 dimensions: the stronger-locality
      // at-rest layout key (consecutive indices are always adjacent
      // cells); 10 chained integer-bit projections, codegen'd
      ZOrder.withHilbert(
        t(s, dir, "events").select(col("event_id"),
          (col("user_id") % 1024).as("x"),
          expr("(ts div 3600000000000) % 1024").as("y")),
        "x", "y", order = 10, out = "h")
        .select(col("event_id"), col("x"), col("y"), col("h"))
        .orderBy("event_id")),
    "q132_calibration" -> ((s, dir) => {
      // probability quality for the q126 ranking score: min-max-normalized
      // first embedding component as the predicted probability, reliability
      // diagram per decile + corpus Brier score (exact subquery min/max —
      // no libm in the normalization)
      val emb = t(s, dir, "embeddings")
      val x = element_at(col("embedding"), 1).cast("double")
      val bounds = emb.agg(min(x).as("mn"), max(x).as("mx"))
      val scored = emb.crossJoin(bounds)
        .select(((x - col("mn")) / (col("mx") - col("mn"))).as("score"),
          when(col("label") < 5, 1L).otherwise(0L).as("lab"))
      Classify.calibrationReport(scored, "score", "lab").orderBy("bucket")
    }),
    "q131_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 top-20 (lexical) fused with exact-cosine
      // top-20 of query vector 1 (semantic) by reciprocal-rank fusion —
      // rank-only combination, no score calibration; doc_id/vec_id share
      // the fixture's id space
      val lex = Retrieval.bm25TopK(tp(s, dir, "documents"), Bm25Terms, 20)
        .select(col("doc_id").as("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(
          t(s, dir, "embeddings").filter(col("vec_id") === 1),
          t(s, dir, "embeddings"), 20)
        .select(col("vec_id").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, sem), 10).orderBy("rank")
    }),
    "q130_woe_iv" -> ((s, dir) => {
      // scorecard feature diagnostic: per-bucket Weight-of-Evidence and
      // per-feature Information Value of two stacked features against the
      // error label — which features separate bad events, and how much
      val ev = t(s, dir, "events")
      def lab = (col("event_type") === "error").cast("long").as("label")
      val f1 = ev.select(lit("value_decade").as("feature"),
        floor(col("value") / 10).cast("long").cast("string").as("bucket"), lab)
      val f2 = ev.select(lit("hour_of_day").as("feature"),
        (expr("ts div 3600000000000") % 24).cast("string").as("bucket"), lab)
      Drift.woeReport(f1.unionByName(f2)).orderBy("feature", "bucket")
    }),
    "q129_tfidf_cosine_join" -> ((s, dir) =>
      // weighted all-pairs similarity: every doc pair with TF-IDF cosine
      // >= 0.85 via Bayardo prefix filtering (q101's exact-prefix story,
      // weighted); the oracle runs the PLAIN quadratic postings join, so
      // the green hash proves the prefix bounds lose no pair. The corpus
      // is 1-in-5 sampled: the synthetic vocabulary is UNIFORM (every
      // token mid-frequency), the documented worst case where prefix
      // filtering degrades toward the quadratic join — the operator's
      // sparsity lever needs the Zipfian head/tail real corpora have
      Similarity.tfidfCosinePairs(
        tp(s, dir, "documents").filter(col("doc_id") % 5 === 0), 0.85)
        .orderBy("a_id", "b_id")),
    "q128_golden_record" -> ((s, dir) => {
      // entity resolution end-to-end: fuzzy-match part descriptions
      // (edit distance <= 1 via the q109 filter stack) -> cluster the
      // match graph (CC) -> survivorship: one golden row per entity with
      // the canonical (min-id) record and the member count
      val strs = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("id"),
        concat_ws(" ", col("p_name"), col("p_type")).as("s"))
      val pairs = EditDistance.editDistancePairs(strs, "id", "s", maxDist = 1)
        .select("a_id", "b_id")
      val labels = Dedup.connectedComponents(pairs)
      val members = strs.join(labels, strs("id") === labels("doc_id"), "left")
        .select(coalesce(col("rep_id"), col("id")).as("entity_id"))
        .groupBy("entity_id").agg(count(lit(1)).as("n_members"))
      members.join(strs, col("entity_id") === col("id"))
        .select(col("entity_id"), col("n_members"), col("s").as("canonical"))
        .orderBy("entity_id")
    }),
    "q127_skyline" -> ((s, dir) =>
      // multi-objective shortlist: the cheapest-AND-smallest Pareto
      // frontier of the part catalog via the prefix-min rewrite — the
      // oracle runs the plain quadratic NOT EXISTS dominance test, so the
      // green hash proves the rewrite is exact
      Skyline.skyline2D(t(s, dir, "part").select(col("p_partkey"),
          col("p_retailprice").cast("double").as("price"),
          col("p_size").cast("double").as("size")),
        "p_partkey", "price", "size").orderBy("p_partkey")),
    "q126_auc" -> ((s, dir) =>
      // classifier-quality readout: exact tie-averaged Mann-Whitney AUC of
      // the first embedding component against a binarized label — doubled
      // integer rank units, one double division at the end
      Stats.aucExact(t(s, dir, "embeddings")
        .select(element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") < 5, 1L).otherwise(0L).as("lab")),
        "score", "lab")),
    "q125_negative_samples" -> ((s, dir) =>
      // contrastive-pair mining: 4 deterministic pseudo-random negatives
      // per embedding via hash-bucket argmin — no RNG, no cross join;
      // rerun/partitioning-stable by construction
      Sampling.negativeSamples(
        t(s, dir, "embeddings").select(col("vec_id").as("a_id")),
        t(s, dir, "embeddings").select(col("vec_id").as("c_id")),
        k = 4, buckets = 256).orderBy("a_id", "draw")),
    "q124_cluster_split" -> ((s, dir) => {
      // leakage-safe train/valid/test split: q53's near-dup clusters are
      // the atomic unit — every member rides on ONE unitHash(rep_id) draw,
      // so near-duplicates can never straddle splits (the train/test
      // contamination failure measured by Lee ACL'22)
      val docs = tp(s, dir, "documents")
      val labels = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, 3, 0.5).select("a_id", "b_id"))
      Sampling.leakageSafeSplit(docs, labels).orderBy("doc_id")
    }),
    "q123_kmv_setops" -> ((s, dir) =>
      // cross-source universe overlap from bottom-k sketches alone: KMV
      // union/intersection/Jaccard estimates per source pair (Beyer
      // SIGMOD'07), exact hashed-universe counts alongside — the set-op
      // complement to q70's HLL and q83's MinHash signature overlap
      Sketches.kmvSetOps(tp(s, dir, "documents")).orderBy("src_a", "src_b")),
    "q122_geo_pairs" -> ((s, dir) => {
      // co-located transmitter discovery: all pairs of distinct tx SITES
      // (unique locators — the raw spot table is ~9x position-duplicated,
      // which would square into the pair count) within 250 km, via the
      // grid-cell-bucketed spatial self-join (3x(2*span+1) neighbor cells
      // + polar cap — never a cross join). The oracle runs the PLAIN
      // quadratic haversine predicate, so the green hash proves the
      // bucketing loses no pair
      val pts = spotsFan(s, dir).groupBy(col("Grid"))
        .agg(min(col("Spotnum")).cast("long").as("id"))
        .select(col("id"),
          graft.functions.Geo.locLat(col("Grid")).as("lat"),
          graft.functions.Geo.locLon(col("Grid")).as("lon"))
      Spatial.withinDistancePairs(pts, 250.0)
        .select(col("a_id"), col("b_id"),
          format_string("%.3f", col("dist_km")).as("dist_km"))
        .orderBy("a_id", "b_id")
    }),
    "q121_scc" -> ((s, dir) => {
      // supply-chain cycle structure: parts chained by consecutive line
      // numbers within urgent orders form a directed graph; EXACT strongly
      // connected components via trim + forward/backward min-label peeling
      // (run to fixpoint — the directed-cycle complement to q97's
      // undirected components). The oracle computes SCCs by transitive
      // closure, so the green hash proves the peeling loses no node
      val li = t(s, dir, "lineitem").join(
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
      val e = li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").cast("long").as("src"))
        .withColumn("dst", lead("src", 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("src"))
        .select("src", "dst")
      Graph.stronglyConnectedComponents(e).orderBy("node")
    }),
    "q120_resample_anomaly" -> ((s, dir) => {
      // per-user activity watchdog: 6-hour grid, latest-wins resample,
      // forward fill, then a trailing-8-bucket z-score (decimal moments,
      // one fixed double formula, round-6) flagging |z| > 3
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("value"))
      val grid = TimeSeries.resampleFFill(ev, Seq("user_id"), "ts",
        "value", 21600000000000L)
      TimeSeries.rollingAnomaly(grid, Seq("user_id"), "bucket", "v", 8)
        .orderBy("user_id", "bucket")
    }),
    "q119_bloom_join" -> ((s, dir) => {
      // urgent-order revenue by ship month, with the lineitem side
      // Bloom-pruned before the join: the runtime-filter pattern that
      // keeps a selective fact⋈dim join from shuffling the fact table.
      // The oracle runs the PLAIN join — the filter must be invisible
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      RuntimeFilter.bloomPrunedJoin(t(s, dir, "lineitem"), "l_orderkey",
          dim, "o_orderkey")
        .groupBy(substring(col("l_shipdate").cast("string"), 1, 7).as("ship_month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("revenue"))
        .orderBy("ship_month")
    }),
    "q118_kcore" -> ((s, dir) => {
      // dense heart of the customer–supplier order graph: 4 peel rounds
      // at k=20 drop thin relationships, then the cascade strands
      // customers whose suppliers left — survivors with in-core degree
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      Graph.kCore(e, k = 20, rounds = 4).orderBy("node")
    }),
    "q117_assoc_rules" -> ((s, dir) =>
      // basket affinity over order contents: Apriori-pruned frequent
      // part pairs -> association rules ranked by lift; every output an
      // exact integer (supports + ppm ratios) so the oracle hash-matches
      Association.associationRules(t(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minSupport = 3L, k = 50)),
    "q91_semantic_clusters" -> ((s, dir) =>
      // the kNN graph's payoff: mutual-kNN edges (each endpoint in the
      // other's top-3 — the high-precision link rule) -> connected
      // components -> a semantic cluster label per vector
      Similarity.mutualKnnClusters(t(s, dir, "embeddings"), k = 3,
          bands = 4, planesPerBand = 8, dim = 64)
        .orderBy("vec_id")),
    "q87_random_projection" -> ((s, dir) =>
      // JL dimensionality reduction 64 -> 8: deterministic plane matrix
      // derived arithmetically (no randomness to ship), narrow codegen
      // math; components exploded to rows for the value-level compare
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.functions.ArrayMath.randomProject(col("embedding"), 8, 64)))
        .select(col("vec_id"), col("pos").cast("long").as("j"), col("col").as("comp"))
        .orderBy("vec_id", "j")),
    "q86_triangles" -> ((s, dir) => {
      // cohesion of the near-dup graph: a triangle means three documents
      // pairwise-similar (a real clique-shaped cluster, not a chain that
      // transitively merged) — degree-ordered wedge enumeration, each
      // triangle found once at its lowest-rank apex
      val pairs = Dedup.ngramJaccardPairs(tp(s, dir, "documents"), 3, 0.5)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      Graph.trianglesPerNode(pairs).orderBy("node")
    }),
    "q85_trustrank" -> ((s, dir) => {
      // trust propagation from a seed set (every 10th supplier): the
      // personalized walk's teleport mass lands only on seeds, so rank
      // reads as proximity-to-trusted — same fixed-point integer rounds
      val base = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") % 10 === 0)
        .select((col("s_suppkey") * 2 + 1).cast("long").as("node"))
      Graph.personalizedPageRank(Graph.symmetrize(base), seeds, 5).orderBy("node")
    }),
    "q84_trend" -> ((s, dir) =>
      // per-type value drift: OLS slope/intercept/correlation of value
      // (cents) against time (hours) from six exact integer sums per group
      Stats.trendPerGroup(
        t(s, dir, "events")
          .select(col("event_type"), expr("ts div 3600000000000").as("xh"),
            round(col("value") * 100.0, 0).as("yc")),
        "event_type", "xh", "yc")
        .orderBy("event_type")),
    "q83_source_overlap" -> ((s, dir) =>
      // corpus-overlap matrix: MinHash-estimated Jaccard between every
      // source pair's distinct 3-gram sets, exact Jaccard alongside —
      // signature exchange is one row per source at any corpus size
      Sketches.minhashOverlap(tp(s, dir, "documents"))
        .orderBy("src_a", "src_b")),
    "q82_datacard" -> ((s, dir) => {
      // the capstone composition: a per-source corpus "data card" — doc and
      // token volume, decimal-mean quality, PII incidence, exact-dup count,
      // dominant predicted language — every metric built from the audited
      // operator fragments and replayed verbatim by the oracle
      val (emails, phones) = TextAnalysis.piiCounts(col("text"))
      val base = tp(s, dir, "documents").select(col("source"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("nt"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        ((emails + phones) > 0L).as("pii"),
        TextAnalysis.langPredict(col("text")).as("lang"))
      val agg = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        round(sum(col("q").cast("decimal(38,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_quality"),
        sum(when(col("pii"), 1L).otherwise(0L)).as("pii_docs"),
        (count(lit(1)) - count_distinct(col("text"))).as("dup_docs"))
      val topLang = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(max(struct(col("c"), col("lang"))).as("b"))
        .select(col("source"), col("b.lang").as("top_lang"))
      agg.join(topLang, "source").orderBy("source")
    }),
    "q81_sim_topk_ivfpq" -> ((s, dir) => {
      // the production ANN composition: IVF cells prune (nprobe/nlist of
      // the corpus), PQ codes compress (ADC scoring, no raw vectors) —
      // both artifact trees materialized, both replayed by the oracle
      val emb = t(s, dir, "embeddings")
      val path = ivfPqIndexPath(dir)
      Pq.writeIvfPqIndex(emb, path, nlist = 16, m = 8, ksub = 16, dim = 64)
      Pq.ivfPqTopK(s, path, emb.filter(col("vec_id") < 5), 10, nprobe = 4)
        .orderBy("q_id", "rank")
    }),
    "q80_cdc_compact" -> ((s, dir) => {
      // changelog compaction: each user's latest event wins (version =
      // (ts, event_id)); an 'error'-typed latest event reads as a delete —
      // one partial-combining aggregate, never a per-key history sort
      val c = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), col("value"),
        when(col("event_type") === "error", "d").otherwise("u").as("op"))
      Cdc.applyChangelog(c, Seq("user_id"), Seq("ts", "event_id"), "op")
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    }),
    "q78_pmi_collocations" -> ((s, dir) =>
      // corpus phrase detection: top-20 bigrams by pointwise mutual
      // information over bigram positions, hapax pairs gated out
      LangModel.collocationsTopK(tp(s, dir, "documents"), k = 20, minCount = 5)
        .orderBy("rank")),
    "q79_token_diversity" -> ((s, dir) =>
      // lexical-diversity curation signal: per-doc type-token ratio and
      // token entropy (decimal-summed c*ln c terms)
      TextAnalysis.tokenDiversity(tp(s, dir, "documents")).orderBy("doc_id")),
    "q77_zorder" -> ((s, dir) =>
      // Morton z-values over (user bucket, hour bucket): the multi-dim
      // at-rest layout key — pure integer bit interleave, codegen'd
      t(s, dir, "events").select(col("event_id"),
          (col("user_id") % 1024).as("x"),
          expr("(ts div 3600000000000) % 1024").as("y"))
        .select(col("event_id"), col("x"), col("y"),
          ZOrder.zValue(col("x"), col("y"), 10).as("z"))
        .orderBy("event_id")),
    "q76_weighted_sample" -> ((s, dir) =>
      // length-weighted sampling without replacement, 25 docs per source
      // (A-ES exponential keys off the deterministic unit hash): inclusion
      // probability proportional to n_chars, identical on every rerun
      Sampling.weightedPerGroup(t(s, dir, "documents"), "source", "doc_id",
        "n_chars", 25).orderBy("source", "rank")),
    "q75_hist_quantiles" -> ((s, dir) =>
      // mergeable quantile sketch: per-type value percentiles from a
      // fixed-width histogram (sketch-sized shuffle), the exact rank
      // quantile alongside as the verification baseline
      Sketches.histQuantiles(t(s, dir, "events"), "event_type", "value",
        binWidth = 5.0, percents = Seq(25, 50, 75, 90, 99))
        .orderBy("event_type", "p")),
    "q74_sim_topk_pq" -> ((s, dir) => {
      // compressed ANN: train/encode the PQ index at rest, then answer via
      // ADC — approximate cosine from code lookups only, original vectors
      // never read at query time. The oracle replays ADC off the SAME
      // codebook/codes parquet (the q42 materialized-index contract).
      val emb = t(s, dir, "embeddings")
      val path = pqIndexPath(dir)
      Pq.writePqIndex(emb, path, m = 8, ksub = 16, dim = 64)
      Pq.pqTopKIndexed(s, path, emb.filter(col("vec_id") < 5), 10, m = 8, dim = 64)
        .orderBy("q_id", "rank")
    }),
    "q73_bloom_filter" -> ((s, dir) => {
      // blocklist membership through a Bloom filter (every 10th doc is the
      // blocklist): zero false negatives by construction, false positives
      // decided by the same bit arithmetic on both engines; exact
      // membership alongside makes any FP visible in the output
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val block = docs.filter(col("doc_id") % 10 === 0).select(col("text"))
      val grid = Sketches.bloomBuild(block, "text")
      val exact = block.distinct().withColumn("exact_member", lit(true))
      Sketches.bloomContains(grid, docs, "text")
        .join(exact, Seq("text"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("exact_member"), lit(false)).as("exact_member"))
        .orderBy("doc_id")
    }),
    "q72_range_join" -> ((s, dir) => {
      // events within deterministic maintenance windows (every 100th event
      // opens a 1..7-hour window): the bucketized range join — an equi join
      // on hour buckets, never a nested loop — then per-window stats
      val ev = t(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("t_us"), col("value"))
      val iv = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id").as("interval_id"), col("t_us").as("start_us"),
          (col("t_us") + (col("event_id") % 7 + 1) * lit(3600000000L)).as("end_us"))
      RangeJoin.pointInInterval(ev, "t_us", iv, "start_us", "end_us", 3600000000L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .orderBy("interval_id")
    }),
    // ---- extension: multimodal --------------------------------------------
    // Real encode→decode round trip: synthMedia builds actual BMP / P6-PPM
    // containers sized by document fields; decodeMeta recovers the metadata
    // by PARSING the bytes, and the oracle computes the expected values from
    // the same fields — the parser is wrong unless the whole trip agrees.
    "q41_multimodal_meta" -> ((s, dir) =>
      Multimodal.decodeMeta(s, Multimodal.synthMedia(s, t(s, dir, "documents")))
        .toDF().orderBy("doc_id"))
  )

  /** Bench-only twins of the LSH queries running the NATIVE codegen hash
    * families — the library defaults (seeded xxhash64 signatures,
    * HyperplaneSignature buckets) that production uses. The oracle-verified
    * forms in [[queries]] substitute the portable families so DuckDB can
    * replay them bit-for-bit; these entries exist so the production path
    * has a tracked timing too (value agreement between the families is
    * spec-covered: DedupSpec / VectorExprSpec). NOT part of the correctness
    * contract — graft.Verify never runs them. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x32_minhash_native" -> ((s, dir) =>
      Dedup.minhashLshPairs(tp(s, dir, "documents"))
        .orderBy("a_id", "b_id")),
    "x33_simhash_native" -> ((s, dir) =>
      Dedup.simhashPairs(tp(s, dir, "documents"))
        .orderBy("a_id", "b_id")),
    "x36_lsh_topk_native" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, 10)
        .orderBy("q_id", "rank")
    }),
    "x45_embed_lsh_native" -> ((s, dir) =>
      Dedup.embeddingNearDupPairsLsh(t(s, dir, "embeddings"), 0.4)
        .orderBy("a_id", "b_id")),
    // q42 measured end-to-end (index build + probe) — these twins split the
    // one-time index-build cost from the steady-state probe cost, which is
    // the number that matters at serving time (the index is built once per
    // corpus version, probed per query batch).
    "x42_ivf_build" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.writeIvfIndex(emb, ivfIndexPath(dir), nlist = 16)
      s.read.parquet(s"${ivfIndexPath(dir)}/centroids").orderBy("cid")
    }),
    "x42_ivf_probe" -> ((s, dir) => {
      // assumes the index exists (x42_ivf_build sorts first alphabetically,
      // and q42 also writes it)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKIndexed(s, ivfIndexPath(dir),
          emb.filter(col("vec_id") < 5), 10, nprobe = 4)
        .orderBy("q_id", "rank")
    }),
    // q62 end-to-end rebuilds the index every run; this twin isolates the
    // steady-state cost — the per-batch probe against an existing index
    // (q62 runs earlier in the bench and leaves the index in place)
    "x62_lsh_probe" -> ((s, dir) =>
      Dedup.minhashLshAgainstIndex(s, lshIndexPath(dir),
          tp(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          gramHashes = PortableHashes.minhashGramHashes,
          bandBucket = PortableHashes.minhashBandBucket)
        .orderBy("a_id", "b_id")),
    // q102's build/probe split: the inverted index is built once per corpus
    // version; the directory-pruned BM25 probe is the steady-state serving
    // cost (q102 runs earlier in the bench and leaves the index)
    "x102_bm25_probe" -> ((s, dir) =>
      Retrieval.bm25TopKIndexed(s, invIndexPath(dir), Bm25IndexedTerms, 15)
        .orderBy("rank")),
    // q81's build/probe split, same rationale as x42: the composed index is
    // built once per corpus version; the pruned ADC probe is the
    // steady-state serving cost (q81 runs earlier and leaves the index)
    "x81_ivfpq_probe" -> ((s, dir) =>
      Pq.ivfPqTopK(s, ivfPqIndexPath(dir),
          t(s, dir, "embeddings").filter(col("vec_id") < 5), 10, nprobe = 4)
        .orderBy("q_id", "rank")),
    // q92 end-to-end rebuilds its index every run; the serving-time number
    // is this twin: ADC prune + exact re-rank against the existing index
    // (q92 runs earlier in the bench and leaves it in place)
    "x92_two_stage_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Pq.ivfPqTopKRefined(s, ivfPq2IndexPath(dir),
          emb.filter(col("vec_id") < 5), emb, k = 10, kCoarse = 50, nprobe = 4)
        .orderBy("q_id", "rank")
    })
  )

  /** DuckDB oracles; keys must match [[queries]]. Every approximate op is
    * fully mirrored: q32 MinHash, q33 SimHash, q36/q45 hyperplane LSH and
    * q46 feature hashing plug in the portable hash families
    * (graft.functions.PortableHashes) so the oracle replays signatures,
    * banding, bucketing and exact verification bit-for-bit in SQL; q42 (IVF)
    * routes through the materialized index, so the oracle reads the SAME
    * stored centroid/cell parquet and replays probe-selection + exact
    * re-rank — the Lloyd iteration happens before the oracle boundary.
    * IvfSpec additionally pins nprobe=nlist ⇒ exact. */
  def oracleSql: Map[String, String] = {
    import OracleSql._
    Map(
      "q01_pricing" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
          |  CAST(count(*) AS BIGINT) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q02_top1" ->
        s"""$spotsWith SELECT "Spotnum", "Reporter", "CallSign", "MHz"
           |FROM spots ORDER BY "Spotnum" DESC LIMIT 1""".stripMargin,
      "q03_cursor_filter" ->
        s"""$spotsWith SELECT "Spotnum", "CallSign", "MHz" FROM spots
           |WHERE "Spotnum" > (SELECT max("Spotnum") - 500 FROM spots)
           |ORDER BY "Spotnum"""".stripMargin,
      "q04_batch_stats" ->
        s"""$spotsWith SELECT CAST(count(*) AS BIGINT) AS n_spots,
           |  min("Spotnum") AS first_spotnum, max("Spotnum") AS last_spotnum,
           |  CAST(count(DISTINCT "Date") AS BIGINT) AS n_cycles FROM spots""".stripMargin,
      "q05_gap_audit" ->
        """WITH ids AS (SELECT event_id AS id FROM events WHERE event_type <> 'error'),
          |g AS (SELECT id - lag(id) OVER (ORDER BY id) - 1 AS miss FROM ids)
          |SELECT CAST(count(*) AS BIGINT) AS total_gaps,
          |  CAST(coalesce(sum(miss), 0) AS BIGINT) AS total_missing,
          |  CAST(coalesce(max(miss), 0) AS BIGINT) AS max_gap
          |FROM g WHERE miss > 0""".stripMargin,
      "q06_gap_details" ->
        """WITH ids AS (SELECT event_id AS id FROM events WHERE event_type <> 'error'),
          |g AS (SELECT lag(id) OVER (ORDER BY id) AS gap_after, id AS next_present,
          |             id - lag(id) OVER (ORDER BY id) - 1 AS missing FROM ids)
          |SELECT gap_after, next_present, missing FROM g WHERE missing > 0
          |ORDER BY gap_after""".stripMargin,
      "q07_dedup_union" ->
        s"""$spotsWith, u AS (
           |  SELECT DISTINCT "Spotnum" FROM (
           |    SELECT "Spotnum" FROM spots WHERE "Spotnum" % 3 <> 0
           |    UNION ALL SELECT "Spotnum" FROM spots WHERE "Spotnum" % 2 <> 0))
           |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum("Spotnum") AS BIGINT) AS sum_id,
           |  min("Spotnum") AS min_id, max("Spotnum") AS max_id FROM u""".stripMargin,
      "q08_wd_time" ->
        s"""$spotsWith SELECT "Spotnum", ${wdTime("\"Date\"")} AS wd_time
           |FROM spots ORDER BY "Spotnum"""".stripMargin,
      "q09_locator" ->
        s"""$spotsWith SELECT "Spotnum", "Grid", "ReporterGrid",
           |  ${fmt3(locLat("\"Grid\""))} AS tx_lat,
           |  ${fmt3(locLon("\"Grid\""))} AS tx_lon,
           |  ${fmt3(locLat("\"ReporterGrid\""))} AS rx_lat,
           |  ${fmt3(locLon("\"ReporterGrid\""))} AS rx_lon
           |FROM spots ORDER BY "Spotnum"""".stripMargin,
      "q10_azimuth" ->
        s"""$enrichedWith SELECT "Spotnum",
           |  CAST(round(rx_azi) AS BIGINT) AS wd_rx_az,
           |  CAST(round(tx_azi) AS BIGINT) AS wd_tx_az
           |FROM vx ORDER BY "Spotnum"""".stripMargin,
      "q11_vertex" ->
        s"""$enrichedWith SELECT "Spotnum",
           |  ${fmt3("v_lat")} AS wd_v_lat, ${fmt3("v_lon")} AS wd_v_lon
           |FROM vx ORDER BY "Spotnum"""".stripMargin,
      "q12_band" ->
        s"""$spotsWith SELECT DISTINCT "MHz", CAST(${bandSql("\"MHz\"")} AS INT) AS wd_band
           |FROM spots ORDER BY "MHz"""".stripMargin,
      "q13_enrich" ->
        s"""$enrichedWith SELECT ${wdTime("\"Date\"")} AS wd_time,
           |  "Spotnum", "Date", "Reporter", "ReporterGrid", "dB", "MHz", "CallSign",
           |  "Grid", "Power", "Drift", "distance", "azimuth", "Band", "version", "code",
           |  CAST(${bandSql("\"MHz\"")} AS INT) AS wd_band,
           |  '-999.9' AS wd_c2_noise, '-999.9' AS wd_rms_noise,
           |  CAST(round(rx_azi) AS INT) AS wd_rx_az,
           |  ${fmt3("rx_lat")} AS wd_rx_lat, ${fmt3("rx_lon")} AS wd_rx_lon,
           |  CAST(round(tx_azi) AS INT) AS wd_tx_az,
           |  ${fmt3("tx_lat")} AS wd_tx_lat, ${fmt3("tx_lon")} AS wd_tx_lon,
           |  ${fmt3("v_lat")} AS wd_v_lat, ${fmt3("v_lon")} AS wd_v_lon
           |FROM vx ORDER BY "Spotnum"""".stripMargin,
      "q14_reconcile" ->
        s"""$spotsWith SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_raw,
           |  (SELECT CAST(count(*) AS BIGINT) FROM spots) AS n_parsed,
           |  (SELECT CAST(count(*) AS BIGINT) FROM spots
           |     WHERE ${bandSql("\"MHz\"")} <> 9999) AS n_known_band""".stripMargin,
      "q20_join_agg" ->
        """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
      "q21_window_topk" ->
        """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank
          |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          |        row_number() OVER (PARTITION BY o_custkey
          |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
          |      FROM orders) _r
          |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
      "q22_time_window" ->
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
      "q50_histogram" ->
        """SELECT event_type, CAST(floor(value / 5.0e0) AS BIGINT) AS bucket,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_sum
          |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
      "q51_vocab" ->
        """WITH tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tok AS (SELECT * FROM tok0 WHERE token <> ''),
          |v AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          |             CAST(count(*) AS BIGINT) AS tf
          |      FROM tok GROUP BY token),
          |r AS (SELECT *, row_number() OVER (ORDER BY df DESC, tf DESC, token ASC) AS rank FROM v)
          |SELECT token, df, tf, CAST(rank AS BIGINT) AS rank FROM r
          |WHERE rank <= 50 ORDER BY rank""".stripMargin,
      "q49_sample_split" -> {
        val u0 = graft.operators.Sampling.unitHashSql("event_id", salt = 0)
        val u1 = graft.operators.Sampling.unitHashSql("event_id", salt = 1)
        s"""WITH h AS (SELECT event_id, event_type, $u0 AS u0, $u1 AS u1 FROM events),
           |f AS (SELECT *, CASE event_type WHEN 'click' THEN 0.1e0 WHEN 'error' THEN 1.0e0
           |  WHEN 'purchase' THEN 0.5e0 WHEN 'signup' THEN 0.25e0 WHEN 'view' THEN 0.05e0
           |  ELSE 0.0e0 END AS frac FROM h)
           |SELECT event_type,
           |  CASE WHEN u1 < 0.8e0 THEN 'train' WHEN u1 < 0.9e0 THEN 'val' ELSE 'test' END AS split,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(event_id) AS BIGINT) AS id_checksum
           |FROM f WHERE u0 < frac GROUP BY 1, 2 ORDER BY event_type, split""".stripMargin
      },
      "q47_asof_join" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_sec, value FROM events),
          |upd AS (SELECT user_id, ts_sec, max(value) AS profile_value
          |        FROM ev WHERE event_id % 10 = 0 GROUP BY 1, 2),
          |l AS (SELECT * FROM ev WHERE event_id % 10 <> 0)
          |SELECT l.event_id, l.user_id, l.ts_sec, u.profile_value AS asof_profile_value
          |FROM l ASOF LEFT JOIN upd u ON l.user_id = u.user_id AND l.ts_sec >= u.ts_sec
          |ORDER BY event_id""".stripMargin,
      "q29_setops" ->
        s"""$spotsWith, sp AS (SELECT "Spotnum", "CallSign" FROM spots),
           |e AS (SELECT * FROM sp WHERE "Spotnum" % 2 = 0),
           |t3 AS (SELECT * FROM sp WHERE "Spotnum" % 3 = 0)
           |SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM e INTERSECT SELECT * FROM t3)) AS n_intersect,
           |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM e EXCEPT SELECT * FROM t3)) AS n_except,
           |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM e UNION SELECT * FROM t3)) AS n_union""".stripMargin,
      "q27_pivot" ->
        """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
          |  CAST(count(*) AS BIGINT) AS n_total,
          |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
          |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
          |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
          |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
          |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
          |FROM events GROUP BY day ORDER BY day""".stripMargin,
      "q28_quantiles" ->
        """SELECT event_type,
          |  round(quantile_cont(value, 0.5e0), 4) AS p50,
          |  round(quantile_cont(value, 0.9e0), 4) AS p90,
          |  min(value) AS vmin, max(value) AS vmax
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q24_semi_anti" ->
        """SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
          |     WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
          |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
          |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders""".stripMargin,
      "q25_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |  coalesce(l_linestatus, 'ALL') AS linestatus,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY returnflag, linestatus""".stripMargin,
      "q26_above_cust_avg" ->
        """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
          |  SELECT o_orderkey, o_custkey, o_totalprice,
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |           OVER (PARTITION BY o_custkey) AS DOUBLE)
          |      / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
          |  FROM orders) _w
          |WHERE o_totalprice > cust_avg ORDER BY o_orderkey""".stripMargin,
      "q23_sessionize" ->
        """WITH ev AS (SELECT user_id, epoch_us(ts) // 1000000 AS ts_sec, value FROM events),
          |f AS (SELECT *,
          |    CASE WHEN lag(ts_sec) OVER w IS NULL
          |           OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
          |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
          |g AS (SELECT *, sum(new_session) OVER
          |    (PARTITION BY user_id ORDER BY ts_sec ROWS UNBOUNDED PRECEDING) AS session_idx
          |  FROM f)
          |SELECT user_id, min(ts_sec) AS session_start, max(ts_sec) AS session_end,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM g GROUP BY user_id, session_idx
          |ORDER BY user_id, session_start""".stripMargin,
      "q30_dedup_exact" ->
        """SELECT array_to_string((string_split(text, ' '))[1:5], ' ') AS dup_key,
          |  min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
          |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY dup_key""".stripMargin,
      "q31_dedup_ngram" -> {
        s"""$ngramPairsWith
           |SELECT a_id, b_id, common,
           |  round(CAST(common AS DOUBLE) / (a_n + b_n - common), 6) AS jaccard
           |FROM pairs WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0
           |ORDER BY a_id, b_id""".stripMargin
      },
      "q48_curation" ->
        s"""$ngramPairsWith,
           |dup_b AS (SELECT DISTINCT b_id FROM pairs
           |          WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.8e0),
           |rep AS (SELECT doc_id,
           |        CASE WHEN len(grams) > 0
           |             THEN round(1.0e0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
           |             ELSE 0.0e0 END AS r
           |        FROM (SELECT doc_id, ${grams3All("text")} AS grams FROM documents))
           |SELECT doc_id, $nTokens AS n_tokens, $qualitySql AS quality
           |FROM documents
           |WHERE $qualitySql >= 0.55e0
           |  AND doc_id IN (SELECT doc_id FROM rep WHERE r < 0.05e0)
           |  AND doc_id NOT IN (SELECT b_id FROM dup_b)
           |ORDER BY doc_id""".stripMargin,
      "q32_dedup_minhash" -> // full mirror of the portable-hash MinHash-LSH pipeline
        s"""WITH g AS (SELECT doc_id, unnest(${grams3("text")}) AS gram FROM documents),
           |gh AS (SELECT doc_id, gram, ${polyHashSql("gram")} AS ph FROM g),
           |sigs AS (SELECT doc_id, r.i AS i,
           |         min((ph * (2*r.i + 3) + r.i) % 2147483647) AS s
           |         FROM gh CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
           |bands AS (SELECT doc_id, i // 4 AS band,
           |          list_reduce(list_prepend(CAST(0 AS BIGINT), list(s ORDER BY i)),
           |                      (acc, x) -> (acc * 131 + x) % 2147483647) AS bucket
           |          FROM sigs GROUP BY doc_id, i // 4),
           |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |         FROM bands x JOIN bands y
           |         ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
           |cm AS (SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS common
           |       FROM cand c JOIN g ga ON ga.doc_id = c.a_id
           |       JOIN g gb ON gb.doc_id = c.b_id AND gb.gram = ga.gram
           |       GROUP BY 1, 2)
           |SELECT cm.a_id, cm.b_id, cm.common,
           |  round(CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common), 6) AS jaccard
           |FROM cm JOIN sizes sa ON sa.doc_id = cm.a_id JOIN sizes sb ON sb.doc_id = cm.b_id
           |WHERE CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) >= 0.35e0
           |ORDER BY a_id, b_id""".stripMargin,
      "q33_dedup_simhash" -> // full mirror of the portable-hash SimHash pipeline
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |th AS (SELECT doc_id, ${polyHashSql("token")} AS h FROM tok),
           |votes AS (SELECT doc_id, r.b AS b,
           |          sum(CASE WHEN ((h * (2*r.b + 3)) % 2147483647) % 2 = 1 THEN 1 ELSE -1 END) AS v
           |          FROM th CROSS JOIN range(0, 64) r(b) GROUP BY 1, 2),
           |bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
           |ham AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
           |        CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INT) AS hamming
           |        FROM bits x JOIN bits y ON x.b = y.b AND x.doc_id < y.doc_id
           |        GROUP BY 1, 2)
           |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
           |ORDER BY a_id, b_id""".stripMargin,
      "q45_dedup_embed_lsh" -> // full mirror of the portable hyperplane-LSH bucketing
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |bk AS (SELECT vec_id, emb, ${lshBucketSql("emb")} AS bucket FROM v),
           |scored AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |           ${cosineSql("a.emb", "b.emb")} AS cos
           |           FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
           |SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.4e0
           |ORDER BY a_id, b_id""".stripMargin,
      "q36_sim_topk_lsh" -> // full mirror: portable buckets + exact rerank
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |bk AS (SELECT vec_id, emb, ${lshBucketSql("emb")} AS bucket FROM v),
           |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket FROM bk WHERE vec_id < 5),
           |scored AS (SELECT q.q_id, c.vec_id, ${cosineSql("q.q_emb", "c.emb")} AS cos
           |           FROM bk c JOIN q ON c.bucket = q.bucket AND q.q_id <> c.vec_id),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |             ORDER BY cos DESC, vec_id ASC) AS rank FROM scored)
           |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM ranked
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
      "q46_text_hash_neardup" -> // full mirror: poly_hash vectorizer + exact cosine pairs
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |tf AS (SELECT doc_id, ${polyHashSql("token")} % 64 AS idx, CAST(count(*) AS BIGINT) AS c
           |       FROM tok WHERE token <> '' GROUP BY 1, 2),
           |slots AS (SELECT d.doc_id, r.i AS i, CAST(coalesce(tf.c, 0) AS DOUBLE) AS v
           |          FROM documents d CROSS JOIN range(0, 64) r(i)
           |          LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.idx = r.i),
           |vecs AS (SELECT doc_id, list(v ORDER BY i) AS emb FROM slots GROUP BY doc_id),
           |scored AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |           ${cosineSql("a.emb", "b.emb")} AS cos
           |           FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id)
           |SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.95e0
           |ORDER BY a_id, b_id""".stripMargin,
      "q34_dedup_embed" ->
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |  ${cosineSql("a.embedding", "b.embedding")} AS cos
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4e0
           |ORDER BY a_id, b_id""".stripMargin,
      "q42_sim_topk_ivf" -> {
        // Reads the index q42's query materialized (same scale factor: the
        // path is pinned by Verify via -Dgraft.ivf.path at dump time, so the
        // SQL always points at the index built from the verified sfDir).
        // Probe selection and re-rank mirror ivfTopKIndexed exactly; both
        // sides rank by round(cos, 6) computed from the SAME stored doubles
        // with the same sequential fold, so rankings cannot diverge.
        val p = sys.props.getOrElse("graft.ivf.path",
          ivfIndexPath("/root/testdata/sf0.01"))
        s"""WITH cent AS (SELECT cid, center FROM read_parquet('$p/centroids/*.parquet')),
           |vec AS (SELECT CAST(cid AS BIGINT) AS cid, vec_id, embedding::DOUBLE[] AS emb
           |        FROM read_parquet('$p/vectors/*/*.parquet', hive_partitioning=1)),
           |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
           |      FROM embeddings WHERE vec_id < 5),
           |probes AS (SELECT q_id, q_emb, cid FROM (
           |    SELECT q.q_id, q.q_emb, c.cid,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${cosineSql("q.q_emb", "c.center")} DESC, c.cid ASC) AS prn
           |    FROM q CROSS JOIN cent c) _p WHERE prn <= 4),
           |scored AS (SELECT p.q_id, v.vec_id, ${cosineSql("p.q_emb", "v.emb")} AS cos
           |           FROM vec v JOIN probes p ON v.cid = p.cid AND p.q_id <> v.vec_id),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |             ORDER BY cos DESC, vec_id ASC) AS rank FROM scored)
           |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM ranked
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      },
      "q44_sim_topk_agg" -> // identical contract to q35, different physical op
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
           |scored AS (SELECT q.q_id, c.vec_id, ${cosineSql("q.q_emb", "c.embedding")} AS cos
           |  FROM embeddings c JOIN q ON q.q_id <> c.vec_id),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM ranked
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
      "q35_sim_topk" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
           |scored AS (SELECT q.q_id, c.vec_id, ${cosineSql("q.q_emb", "c.embedding")} AS cos
           |  FROM embeddings c JOIN q ON q.q_id <> c.vec_id),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM ranked
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
      "q37_text_stats" ->
        s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum($nTokens) AS BIGINT) AS total_tokens,
           |  CAST(sum(CAST($qualitySql AS DECIMAL(12,6))) AS DOUBLE) AS sum_quality
           |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      "q38_text_quality" ->
        s"""SELECT doc_id, $nTokens AS n_tokens, $nDistinct AS n_distinct,
           |  $nStopwords AS n_stopwords, $qualitySql AS quality
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q39_text_langid" ->
        s"""SELECT doc_id, $langPredictSql AS lang_pred FROM documents ORDER BY doc_id""",
      "q40_text_fingerprint" ->
        s"""SELECT doc_id, $fingerprintSql AS fp FROM documents ORDER BY doc_id""",
      "q52_text_repetition" ->
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |            FROM documents WHERE doc_id < 500),
           |tc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
           |top AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6)
           |               AS top_token_ratio FROM tc GROUP BY doc_id),
           |gr AS (SELECT doc_id, ${grams3All("text")} AS grams
           |       FROM documents WHERE doc_id < 500),
           |rep AS (SELECT doc_id,
           |        CASE WHEN len(grams) > 0
           |             THEN round(1.0e0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
           |             ELSE 0.0e0 END AS ngram_repetition FROM gr)
           |SELECT r.doc_id, r.ngram_repetition, t.top_token_ratio
           |FROM rep r JOIN top t ON r.doc_id = t.doc_id ORDER BY r.doc_id""".stripMargin,
      "q53_dedup_clusters" -> // recursive min-label reachability = the CC fixpoint
        s"""${ngramPairsWith.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |pe AS (SELECT a_id, b_id FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |e AS (SELECT a_id AS s, b_id AS d FROM pe
           |      UNION ALL SELECT b_id, a_id FROM pe),
           |nodes AS (SELECT DISTINCT s AS id FROM e),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id)
           |SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id
           |ORDER BY doc_id""".stripMargin,
      "q54_decontaminate" ->
        s"""WITH tg AS (SELECT doc_id, unnest(${gramsN("text", 5)}) AS gram
           |            FROM documents WHERE doc_id % 10 <> 0),
           |eg AS (SELECT DISTINCT gram FROM (
           |        SELECT unnest(${gramsN("text", 5)}) AS gram
           |        FROM documents WHERE doc_id % 10 = 0))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
           |FROM tg JOIN eg USING (gram) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q55_quota_sample" -> {
        val u = graft.operators.Sampling.unitHashSql("doc_id", salt = 0)
        s"""WITH h AS (SELECT source, doc_id, $u AS u FROM documents),
           |r AS (SELECT source, doc_id, row_number() OVER (
           |        PARTITION BY source ORDER BY u, doc_id) AS rank FROM h)
           |SELECT source, doc_id, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 30 ORDER BY source, rank""".stripMargin
      },
      "q62_dedup_incremental" -> {
        // Batch side: the q32 portable MinHash pipeline restricted to the
        // incoming docs. Corpus side: read DIRECTLY from the materialized
        // index parquet (bands/grams/sizes) the query wrote — the oracle
        // never re-hashes the corpus either, so it verifies the stored
        // index end-to-end (path pinned by Verify via -Dgraft.lsh.path).
        val p = sys.props.getOrElse("graft.lsh.path",
          lshIndexPath("/root/testdata/sf0.01"))
        s"""WITH g AS (SELECT doc_id, unnest(${grams3("text")}) AS gram
           |           FROM documents WHERE doc_id % 10 = 0),
           |gh AS (SELECT doc_id, gram, ${polyHashSql("gram")} AS ph FROM g),
           |sigs AS (SELECT doc_id, r.i AS i,
           |         min((ph * (2*r.i + 3) + r.i) % 2147483647) AS s
           |         FROM gh CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
           |nb AS (SELECT doc_id, i // 4 AS band,
           |       list_reduce(list_prepend(CAST(0 AS BIGINT), list(s ORDER BY i)),
           |                   (acc, x) -> (acc * 131 + x) % 2147483647) AS bucket
           |       FROM sigs GROUP BY doc_id, i // 4),
           |sn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
           |-- '**' mirrors the probe's recursiveFileLookup: an index holding
           |-- appendToLshIndex batch-<id> subdirectories alongside the base
           |-- build's flat files is verified in FULL, not against a subset
           |ob AS (SELECT doc_id, band, bucket FROM read_parquet('$p/bands/**/*.parquet')),
           |og AS (SELECT doc_id, gram FROM read_parquet('$p/grams/**/*.parquet')),
           |os AS (SELECT doc_id, n_grams FROM read_parquet('$p/sizes/**/*.parquet')),
           |cand AS (SELECT DISTINCT nb.doc_id AS a_id, ob.doc_id AS b_id
           |         FROM nb JOIN ob ON nb.band = ob.band AND nb.bucket = ob.bucket
           |          AND nb.doc_id <> ob.doc_id),
           |cm AS (SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS common
           |       FROM cand c JOIN g ON g.doc_id = c.a_id
           |       JOIN og ON og.doc_id = c.b_id AND og.gram = g.gram
           |       GROUP BY 1, 2)
           |SELECT cm.a_id, cm.b_id, cm.common,
           |       round(CAST(cm.common AS DOUBLE) / (sn.n + os.n_grams - cm.common), 6) AS jaccard
           |FROM cm JOIN sn ON sn.doc_id = cm.a_id JOIN os ON os.doc_id = cm.b_id
           |WHERE CAST(cm.common AS DOUBLE) / (sn.n + os.n_grams - cm.common) >= 0.35e0
           |ORDER BY a_id, b_id""".stripMargin
      },
      "q61_chunk" -> // same slicing: DuckDB lists are 1-based inclusive, so
        // window start i (0-based, multiples of 48) covers toks[i+1 : i+64]
        """SELECT doc_id, CAST(r.cid AS BIGINT) AS chunk_id, r.txt AS chunk,
          |       CAST(r.n AS BIGINT) AS n_tokens
          |FROM (SELECT doc_id,
          |        unnest([struct_pack(cid := i // 48,
          |                            txt := array_to_string(toks[i+1:i+64], ' '),
          |                            n := len(toks[i+1:i+64]))
          |                for i in range(0, len(toks), 48)]) AS r
          |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
          |            FROM documents))
          |ORDER BY doc_id, chunk_id""".stripMargin,
      "q63_tfidf" -> // tfidfTopK's window-form cross-check; identical
        // smoothing, identical 6-decimal rounding before ranking
        """WITH tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tok AS (SELECT * FROM tok0 WHERE token <> ''),
          |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          |       FROM tok GROUP BY 1, 2),
          |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |s AS (SELECT tf.doc_id, tf.token, tf.tf,
          |             round(tf.tf * ln((n.n + 1.0e0) / (df.df + 1.0e0)), 6) AS score
          |      FROM tf JOIN df USING (token) CROSS JOIN n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, token ASC) AS rank FROM s)
          |SELECT doc_id, token, tf, score, CAST(rank AS BIGINT) AS rank FROM r
          |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
      "q64_bm25" -> {
        // Every IEEE step mirrors Retrieval.bm25TopK's exact
        // parenthesization; corpus constants are recomputed in SQL with the
        // same integer aggregates + one division the Spark driver folded
        // into literals. Per-term scores round to 6 decimals and sum as
        // DECIMAL(38,6) on both sides (order-independent).
        val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |consts AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sdl FROM documents),
           |qt AS (SELECT * FROM tok WHERE token IN ($terms)),
           |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY 1, 2),
           |dfr AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY 1),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
           |s AS (SELECT tf.doc_id,
           |      round((ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
           |                / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
           |             * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0)))
           |            / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0)
           |               + 0.75e0 * (CAST(dl AS DOUBLE)
           |                           / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))), 6) AS ts
           |      FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN consts),
           |sc AS (SELECT doc_id, CAST(sum(CAST(ts AS DECIMAL(38,6))) AS DOUBLE) AS score
           |       FROM s GROUP BY doc_id),
           |r AS (SELECT doc_id, score,
           |      row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 20 ORDER BY rank""".stripMargin
      },
      "q65_lm_score" -> // LangModel.bigramNll's exact arithmetic: per-position
        // ln p rounds to 6 decimals, sums as DECIMAL(38,6); range(1, len)
        // yields positions 1..len-1 (empty when len < 2, like the filter)
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |u AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
          |bg AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
          |       FROM u),
          |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
          |c1 AS (SELECT unnest(string_split(text, ' ')) AS w1 FROM documents),
          |c1c AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM c1 GROUP BY 1),
          |v AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM c1),
          |p AS (SELECT doc_id,
          |      round(ln((CAST(c12 AS DOUBLE) + 1.0e0)
          |               / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))), 6) AS lnp
          |      FROM bg JOIN c12 USING (w1, w2) JOIN c1c USING (w1) CROSS JOIN v)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |       round(-(CAST(sum(CAST(lnp AS DECIMAL(38,6))) AS DOUBLE))
          |             / CAST(count(*) AS DOUBLE), 6) AS nll
          |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q66_semdedup" -> {
        // Pairing + cosine replayed off the SAME stored cell layout the
        // query materialized (q42's read pattern, sibling path)
        val p = sys.props.getOrElse("graft.ivf.path",
          ivfIndexPath("/root/testdata/sf0.01")) + "_sem"
        s"""WITH v AS (SELECT CAST(cid AS BIGINT) AS cid, vec_id, embedding::DOUBLE[] AS emb
           |           FROM read_parquet('$p/vectors/*/*.parquet', hive_partitioning=1)),
           |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cid AS cid,
           |       ${cosineSql("a.emb", "b.emb")} AS cos
           |       FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id)
           |SELECT a_id, b_id, cid, cos FROM pr WHERE cos >= 0.4e0
           |ORDER BY a_id, b_id""".stripMargin
      },
      "q67_cms_topk" -> // Sketches.cmsTopK's grid replayed with the portable
        // row-hash family (the q62 band formula): h_i = (poly*(2i+3)+i) mod p,
        // cell = h_i mod width; estimate = min over the token's 4 cells
        s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
           |th AS (SELECT token, ${polyHashSql("token")} AS ph FROM tok),
           |cells AS (SELECT r.i AS hr, ((ph * (2*r.i + 3) + r.i) % 2147483647) % 1024 AS hb
           |          FROM th CROSS JOIN range(0, 4) r(i)),
           |sketch AS (SELECT hr, hb, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
           |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY 1),
           |probe AS (SELECT token, exact, r.i AS hr,
           |          ((${polyHashSql("token")} * (2*r.i + 3) + r.i) % 2147483647) % 1024 AS hb
           |          FROM ex CROSS JOIN range(0, 4) r(i)),
           |est AS (SELECT token, exact, min(cnt) AS est
           |        FROM probe JOIN sketch USING (hr, hb) GROUP BY 1, 2),
           |rk AS (SELECT token, est, exact,
           |       row_number() OVER (ORDER BY est DESC, token) AS rank FROM est)
           |SELECT token, est, exact, CAST(rank AS BIGINT) AS rank FROM rk
           |WHERE rank <= 20 ORDER BY rank""".stripMargin,
      "q68_dup_windows" -> // positional 8-token windows; dup iff the window
        // text occurs more than once corpus-wide; exact integer ppm
        s"""WITH w AS (SELECT doc_id, unnest(${gramsNAll("text", 8)}) AS win FROM documents),
           |cc AS (SELECT win, CAST(count(*) AS BIGINT) AS total FROM w GROUP BY 1),
           |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           |      CAST(sum(CASE WHEN total > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
           |      FROM w JOIN cc USING (win) GROUP BY 1)
           |SELECT doc_id, n_windows, n_dup_windows,
           |       CAST((n_dup_windows * 1000000) // n_windows AS BIGINT) AS dup_ppm
           |FROM d ORDER BY doc_id""".stripMargin,
      "q69_pagerank" -> {
        // Graph.pageRank unrolled: one CTE per power-iteration round, each
        // mirroring the Spark round's exact FIXED-POINT steps — rank as a
        // BIGINT count of 1e-15 units, per-edge contribution = ru // deg
        // (integer floor, both engines), exact integer SUM, damping as
        // (85*sc)//100 plus the floored (1-d)/N base. Zero IEEE rounding
        // until the single final units/1e15 division. The bipartite node
        // ids (2*custkey / 2*suppkey+1) keep the two key spaces disjoint;
        // UNION (dedup) mirrors Graph.symmetrize.
        val iterCtes = (1 to 5).map { k =>
          s"""r$k AS (SELECT e.dst AS node, d.deg,
             |  CAST((15 * 1000000000000000) // (100 * n.n)
             |       + (85 * sum(p.ru // p.deg)) // 100 AS BIGINT) AS ru
             |  FROM e JOIN r${k - 1} p ON e.src = p.node
             |         JOIN deg d ON e.dst = d.node CROSS JOIN n
             |  GROUP BY e.dst, d.deg, n.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
           |                            CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT node, deg, CAST(1000000000000000 // n.n AS BIGINT) AS ru
           |       FROM deg CROSS JOIN n),
           |$iterCtes
           |SELECT node, deg, CAST(ru AS DOUBLE) / 1.0e15 AS rank FROM r5 ORDER BY node""".stripMargin
      },
      "q71_span_removal" -> // Dedup.removeDupSpans replayed positionally:
        // canonical occurrence = row_number 1 by (doc_id, pos) per window
        // text (same order as Spark's min(struct)); covered positions via
        // a range cross join; survivors reassembled with an ordered
        // string_agg. NOT EXISTS mirrors the left_anti join.
        """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |t0 AS (SELECT doc_id, unnest([struct_pack(p := i - 1, tok := toks[i])
          |                              for i in range(1, len(toks) + 1)]) AS s FROM tk),
          |tok AS (SELECT doc_id, s.p AS pos, s.tok AS token FROM t0),
          |w0 AS (SELECT doc_id, unnest([struct_pack(p := i - 1,
          |                                          win := array_to_string(toks[i:i+7], ' '))
          |                              for i in range(1, len(toks) - 6)]) AS s FROM tk),
          |w AS (SELECT doc_id, s.p AS pos, s.win AS win FROM w0),
          |wr AS (SELECT doc_id, pos,
          |       count(*) OVER (PARTITION BY win) AS total,
          |       row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
          |cov AS (SELECT DISTINCT doc_id, pos + r.i AS cpos
          |        FROM wr CROSS JOIN range(0, 8) r(i) WHERE total > 1 AND rn > 1),
          |kept AS (SELECT tok.doc_id, tok.pos, tok.token FROM tok
          |         WHERE NOT EXISTS (SELECT 1 FROM cov
          |           WHERE cov.doc_id = tok.doc_id AND cov.cpos = tok.pos)),
          |rb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
          |       CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
          |base AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |         FROM documents)
          |SELECT base.doc_id, coalesce(clean_text, '') AS clean_text,
          |       coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
          |       n_tokens - coalesce(n_kept, CAST(0 AS BIGINT)) AS n_removed
          |FROM base LEFT JOIN rb USING (doc_id) ORDER BY base.doc_id""".stripMargin,
      "q70_hll_distinct" -> {
        // Sketches.hllDistinct's register file replayed bit-for-bit: the
        // portable poly hash splits into bucket (mod 64) and a 25-bit rank
        // field; 2^-r terms are exact (1.0 / (1 << r)), so the register sum
        // is exact and order-independent on both engines; the bias constant
        // and linear-counting branch are the same IEEE expression Spark
        // constant-folds.
        val rho = (1 to 25)
          .map(j => s"WHEN (ph // 64) >= ${1L << (25 - j)} THEN $j").mkString(" ")
        s"""WITH g AS (SELECT source AS grp, unnest(${gramsN("text", 3)}) AS gram FROM documents),
           |h AS (SELECT grp, ${polyHashSql("gram")} AS ph FROM g),
           |hb AS (SELECT grp, ph % 64 AS bucket, (CASE $rho ELSE 26 END) AS rho FROM h),
           |reg AS (SELECT grp, bucket, max(rho) AS r FROM hb GROUP BY 1, 2),
           |pg AS (SELECT grp,
           |       sum(1.0e0 / CAST(CAST(1 AS BIGINT) << r AS DOUBLE)) AS sip,
           |       count(*) AS present FROM reg GROUP BY 1),
           |es AS (SELECT grp,
           |  ((0.7213e0 / (1.0e0 + 1.079e0 / 64.0e0)) * 64.0e0 * 64.0e0)
           |    / (sip + (64.0e0 - CAST(present AS DOUBLE))) AS raw,
           |  64 - present AS zeros FROM pg),
           |ex AS (SELECT grp, CAST(count(DISTINCT gram) AS BIGINT) AS exact_distinct
           |       FROM g GROUP BY 1)
           |SELECT es.grp AS source,
           |  round(CASE WHEN raw <= 2.5e0 * 64.0e0 AND zeros > 0
           |             THEN 64.0e0 * ln(64.0e0 / CAST(zeros AS DOUBLE)) ELSE raw END, 4)
           |    AS est_distinct,
           |  exact_distinct
           |FROM es JOIN ex USING (grp) ORDER BY source""".stripMargin
      },
      "q88_knn_graph" -> // Similarity.knnGraph replayed: 4 independent
        // 8-plane band buckets per vector, band-local candidate join,
        // (a_id, b_id) min-dedup, rounded-cosine ranking, rank <= 3
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |bk AS (SELECT vec_id, emb, g.band,
           |       ${lshBandBucketSql("emb", "g.band")} AS bucket
           |       FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g),
           |scored AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |           ${cosineSql("a.emb", "b.emb")} AS cos
           |           FROM bk a JOIN bk b
           |           ON a.band = b.band AND a.bucket = b.bucket
           |              AND a.vec_id <> b.vec_id),
           |uniq AS (SELECT a_id, b_id, min(cos) AS cos FROM scored
           |         GROUP BY 1, 2),
           |r AS (SELECT a_id, b_id, cos, row_number() OVER (
           |      PARTITION BY a_id ORDER BY cos DESC, b_id) AS rank FROM uniq)
           |SELECT a_id, b_id, cos, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 3 ORDER BY a_id, rank""".stripMargin,
      "q89_pipeline" -> { // the composed pipeline, every stage its own
        // oracle's fragment chained through CTEs: q48 gates -> q30 exact
        // keep -> q32 MinHash keep (portable family) -> q54 decontaminate
        // -> q59 mixture -> q61 chunk -> q56 pack recursion
        val u = graft.operators.Sampling.unitHashSql("doc_id", salt = 0)
        s"""WITH RECURSIVE
           |rep AS (SELECT doc_id,
           |        CASE WHEN len(grams) > 0
           |             THEN round(1.0e0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
           |             ELSE 0.0e0 END AS r
           |        FROM (SELECT doc_id, ${grams3All("text")} AS grams FROM documents)),
           |gated AS (SELECT doc_id, source, text FROM documents
           |          WHERE $qualitySql >= 0.55e0
           |            AND doc_id IN (SELECT doc_id FROM rep WHERE r < 0.05e0)),
           |ex AS (SELECT doc_id, source, text,
           |       array_to_string((string_split(text, ' '))[1:5], ' ') AS dup_key
           |       FROM gated),
           |exkeep AS (SELECT dup_key, min(doc_id) AS keep_id FROM ex GROUP BY 1),
           |surv1 AS (SELECT e.doc_id, e.source, e.text FROM ex e
           |          JOIN exkeep k ON e.dup_key = k.dup_key AND e.doc_id = k.keep_id),
           |g AS (SELECT doc_id, unnest(${grams3("text")}) AS gram FROM surv1),
           |gh AS (SELECT doc_id, gram, ${polyHashSql("gram")} AS ph FROM g),
           |sigs AS (SELECT doc_id, r.i AS i,
           |         min((ph * (2*r.i + 3) + r.i) % 2147483647) AS s
           |         FROM gh CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
           |bands AS (SELECT doc_id, i // 4 AS band,
           |          list_reduce(list_prepend(CAST(0 AS BIGINT), list(s ORDER BY i)),
           |                      (acc, x) -> (acc * 131 + x) % 2147483647) AS bucket
           |          FROM sigs GROUP BY doc_id, i // 4),
           |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |         FROM bands x JOIN bands y
           |         ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
           |cm AS (SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS common
           |       FROM cand c JOIN g ga ON ga.doc_id = c.a_id
           |       JOIN g gb ON gb.doc_id = c.b_id AND gb.gram = ga.gram
           |       GROUP BY 1, 2),
           |mdrop AS (SELECT DISTINCT cm.b_id FROM cm
           |          JOIN sizes sa ON sa.doc_id = cm.a_id
           |          JOIN sizes sb ON sb.doc_id = cm.b_id
           |          WHERE CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common) >= 0.35e0),
           |surv2 AS (SELECT * FROM surv1 WHERE doc_id NOT IN (SELECT b_id FROM mdrop)),
           |tg AS (SELECT doc_id, unnest(${gramsN("text", 5)}) AS gram
           |       FROM surv2 WHERE doc_id % 10 <> 0),
           |eg AS (SELECT DISTINCT gram FROM (
           |        SELECT unnest(${gramsN("text", 5)}) AS gram
           |        FROM documents WHERE doc_id % 10 = 0)),
           |cont AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (gram)),
           |surv3 AS (SELECT * FROM surv2
           |          WHERE doc_id % 10 <> 0
           |            AND doc_id NOT IN (SELECT doc_id FROM cont)),
           |h AS (SELECT source, doc_id, $u AS u FROM surv3
           |      WHERE source IN ('src0', 'src1', 'src2', 'src3')),
           |rr AS (SELECT source, doc_id, row_number() OVER (
           |        PARTITION BY source ORDER BY u, doc_id) AS rank FROM h),
           |samp AS (SELECT doc_id FROM rr
           |         WHERE rank <= CASE source WHEN 'src0' THEN 16 WHEN 'src1' THEN 12
           |                                   WHEN 'src2' THEN 8 WHEN 'src3' THEN 4
           |                                   ELSE 0 END),
           |sd AS (SELECT s3.doc_id, s3.source, s3.text
           |       FROM surv3 s3 JOIN samp USING (doc_id)),
           |ch AS (SELECT doc_id, source, CAST(r.cid AS BIGINT) AS chunk_id,
           |              CAST(r.n AS BIGINT) AS n_tokens
           |       FROM (SELECT doc_id, source,
           |               unnest([struct_pack(cid := i // 48,
           |                                   n := len(toks[i+1:i+64]))
           |                       for i in range(0, len(toks), 48)]) AS r
           |             FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
           |                   FROM sd))),
           |d AS (SELECT source AS pack_group,
           |             doc_id * 1000 + chunk_id AS seq_id, n_tokens,
           |             row_number() OVER (PARTITION BY source
           |               ORDER BY doc_id * 1000 + chunk_id) AS rn
           |      FROM ch),
           |pack(pack_group, seq_id, n_tokens, rn, bin_id, used) AS (
           |  SELECT pack_group, seq_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
           |  FROM d WHERE rn = 1
           |  UNION ALL
           |  SELECT d.pack_group, d.seq_id, d.n_tokens, d.rn,
           |         CASE WHEN p.used + d.n_tokens > 512 THEN p.bin_id + 1 ELSE p.bin_id END,
           |         CASE WHEN p.used + d.n_tokens > 512 THEN d.n_tokens ELSE p.used + d.n_tokens END
           |  FROM d JOIN pack p ON d.pack_group = p.pack_group AND d.rn = p.rn + 1)
           |SELECT pack_group, seq_id // 1000 AS doc_id, seq_id % 1000 AS chunk_id,
           |       n_tokens, bin_id
           |FROM pack ORDER BY pack_group, doc_id, chunk_id""".stripMargin
      },
      "q90_ann_recall" -> // the q35 brute mirror joined against the q36 LSH
        // mirror on a 20-query sample, per-query hit count, integer ppm
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < 20),
           |bscored AS (SELECT q.q_id, c.vec_id, ${cosineSql("q.q_emb", "c.emb")} AS cos
           |            FROM v c JOIN q ON q.q_id <> c.vec_id),
           |truth AS (SELECT q_id, vec_id FROM (
           |            SELECT *, row_number() OVER (PARTITION BY q_id
           |              ORDER BY cos DESC, vec_id ASC) AS rank FROM bscored)
           |          WHERE rank <= 10),
           |bk AS (SELECT vec_id, emb, ${lshBucketSql("emb")} AS bucket FROM v),
           |qb AS (SELECT vec_id AS q_id, emb AS q_emb, bucket FROM bk WHERE vec_id < 20),
           |ascored AS (SELECT qb.q_id, c.vec_id, ${cosineSql("qb.q_emb", "c.emb")} AS cos
           |            FROM bk c JOIN qb ON c.bucket = qb.bucket AND qb.q_id <> c.vec_id),
           |approx AS (SELECT q_id, vec_id FROM (
           |             SELECT *, row_number() OVER (PARTITION BY q_id
           |               ORDER BY cos DESC, vec_id ASC) AS rank FROM ascored)
           |           WHERE rank <= 10)
           |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
           |       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_hits,
           |       CAST((sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
           |         // count(*) AS BIGINT) AS recall_ppm
           |FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.vec_id = t.vec_id
           |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin,
      "q92_two_stage_search" -> {
        // the q81 residual-ADC mirror truncated at kCoarse=50, then the
        // candidates re-scored by exact cosine off the raw embeddings and
        // re-ranked — the oracle proves the returned scores are the exact
        // ones (cos, not cos_pq)
        val p = sys.props.getOrElse("graft.ivfpq2.path",
          ivfPq2IndexPath("/root/testdata/sf0.01"))
        s"""WITH cent AS (SELECT cid, center::DOUBLE[] AS center
           |              FROM read_parquet('$p/centroids/*.parquet')),
           |books AS (SELECT sub, cid AS code, center::DOUBLE[] AS center
           |          FROM read_parquet('$p/codebooks/*.parquet')),
           |codes AS (SELECT CAST(cid AS BIGINT) AS cell, vec_id, sub, code
           |          FROM read_parquet('$p/codes/*/*.parquet', hive_partitioning=1)),
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < 5),
           |probes AS (SELECT q_id, cell, qcdot FROM (
           |    SELECT q.q_id, cent.cid AS cell,
           |           CAST(round(list_dot_product(q.q_emb, cent.center), 12)
           |                AS DECIMAL(38,12)) AS qcdot,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${cosineSql("q.q_emb", "cent.center")} DESC, cent.cid) AS pr
           |    FROM q CROSS JOIN cent) WHERE pr <= 4),
           |part AS (SELECT q_id, sub, code,
           |  CAST(round(list_dot_product(
           |         q_emb[CAST(sub*8+1 AS INTEGER):CAST(sub*8+8 AS INTEGER)], center), 12)
           |       AS DECIMAL(38,12)) AS qpart,
           |  CAST(round(list_dot_product(center, center), 12)
           |       AS DECIMAL(38,12)) AS cpart
           |  FROM q CROSS JOIN books),
           |cn AS (SELECT cid AS cell,
           |       CAST(round(list_dot_product(center, center), 12)
           |            AS DECIMAL(38,12)) AS cn2 FROM cent),
           |xt AS (SELECT cent.cid AS cell, books.sub, books.code,
           |       CAST(round(list_dot_product(
           |              cent.center[CAST(books.sub*8+1 AS INTEGER):CAST(books.sub*8+8 AS INTEGER)],
           |              books.center), 12) AS DECIMAL(38,12)) AS xterm
           |       FROM cent CROSS JOIN books),
           |bn AS (SELECT sub, code,
           |       CAST(round(list_dot_product(center, center), 12)
           |            AS DECIMAL(38,12)) AS bpart FROM books),
           |rv AS (SELECT codes.vec_id, codes.cell,
           |       sum(xterm) AS xsum, sum(bpart) AS rn2
           |       FROM codes JOIN xt ON xt.cell = codes.cell AND xt.sub = codes.sub
           |                          AND xt.code = codes.code
           |                  JOIN bn ON bn.sub = codes.sub AND bn.code = codes.code
           |       GROUP BY 1, 2),
           |vno AS (SELECT rv.vec_id, cn.cn2 + rv.xsum + rv.xsum + rv.rn2 AS rnorm2
           |        FROM rv JOIN cn ON cn.cell = rv.cell),
           |qn AS (SELECT q_id, sqrt(list_dot_product(q_emb, q_emb)) AS qnorm FROM q),
           |sc AS (SELECT pr.q_id, codes.vec_id,
           |       max(pr.qcdot) AS qcdot, sum(qpart) AS rdots
           |       FROM probes pr JOIN codes ON codes.cell = pr.cell
           |            JOIN part ON part.q_id = pr.q_id AND part.sub = codes.sub
           |                     AND part.code = codes.code
           |       GROUP BY 1, 2),
           |co AS (SELECT sc.q_id, sc.vec_id,
           |       round((CAST(qcdot AS DOUBLE) + CAST(rdots AS DOUBLE)) /
           |             (qnorm * sqrt(CAST(rnorm2 AS DOUBLE))), 6) AS cos_pq
           |       FROM sc JOIN vno ON vno.vec_id = sc.vec_id
           |               JOIN qn ON qn.q_id = sc.q_id WHERE sc.q_id <> sc.vec_id),
           |cand AS (SELECT q_id, vec_id FROM (
           |           SELECT q_id, vec_id, row_number() OVER (
           |             PARTITION BY q_id ORDER BY cos_pq DESC, vec_id) AS rank FROM co)
           |         WHERE rank <= 50),
           |ex AS (SELECT c.q_id, c.vec_id,
           |       ${cosineSql("q.q_emb", "v.emb")} AS cos
           |       FROM cand c JOIN v ON v.vec_id = c.vec_id
           |                   JOIN q ON q.q_id = c.q_id),
           |r AS (SELECT q_id, vec_id, cos, row_number() OVER (
           |      PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM ex)
           |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      },
      "q95_novelty" -> // distinct 3-grams, corpus doc frequency, per-doc
        // unique-share in exact integer ppm
        s"""WITH g AS (SELECT doc_id, unnest(${grams3("text")}) AS gram FROM documents),
           |df AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           |       CAST((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000) // count(*)
           |         AS BIGINT) AS novelty_ppm
           |FROM g JOIN df USING (gram)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q99_shard_assign" -> {
        // both unit-hash streams replayed via unitHashSql; floor(u*8) is
        // exact (power-of-two scale on identical doubles), row_number over
        // (u1, doc_id) mirrors the window sort
        val u0 = graft.operators.Sampling.unitHashSql("doc_id", salt = 0)
        val u1 = graft.operators.Sampling.unitHashSql("doc_id", salt = 1)
        s"""WITH h AS (SELECT doc_id,
           |  CAST(floor($u0 * 8) AS BIGINT) AS shard, $u1 AS u FROM documents)
           |SELECT doc_id, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY u, doc_id)
           |       AS BIGINT) AS pos
           |FROM h ORDER BY doc_id""".stripMargin
      },
      "q100_importance_select" -> {
        // full DSIR mirror: poly-hash token slots, add-one smoothed per-slot
        // ln ratio (each ln rounded to 6 decimals, differenced and summed in
        // DECIMAL(38,6) — order-independent), top-100 by (logw DESC, doc_id)
        val slot = s"(${polyHashSql("tok")} % 512)"
        s"""WITH tt AS (SELECT $slot AS slot FROM (
           |        SELECT unnest(string_split(text, ' ')) AS tok
           |        FROM documents WHERE source = 'src0')),
           |rt AS (SELECT doc_id, $slot AS slot FROM (
           |        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |        FROM documents WHERE source <> 'src0')),
           |ct AS (SELECT slot, count(*) AS ct FROM tt GROUP BY 1),
           |cr AS (SELECT slot, count(*) AS cr FROM rt GROUP BY 1),
           |nn AS (SELECT (SELECT count(*) FROM tt) AS nt,
           |              (SELECT count(*) FROM rt) AS nr),
           |lr AS (SELECT cr.slot,
           |         CAST(round(ln((COALESCE(ct.ct, 0) + 1.0e0) / (nn.nt + 512.0e0)), 6)
           |              AS DECIMAL(38,6))
           |       - CAST(round(ln((cr.cr + 1.0e0) / (nn.nr + 512.0e0)), 6)
           |              AS DECIMAL(38,6)) AS lr
           |       FROM cr LEFT JOIN ct USING (slot) CROSS JOIN nn),
           |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           |             CAST(sum(lr) AS DOUBLE) AS logw
           |      FROM rt JOIN lr USING (slot) GROUP BY doc_id)
           |SELECT doc_id, n_toks, logw,
           |       CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS BIGINT) AS rank
           |FROM d ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin
      },
      "q101_prefix_jaccard" -> // full prefix-filter mirror: df-ascending
        // rank per doc, prefix slice, prefix self-join candidates with the
        // size + first-shared-gram position prunes, exact list_intersect
        // verification on candidate pairs only
        s"""WITH gs AS (SELECT doc_id, ${grams3("text")} AS grams,
           |              CAST(len(${grams3("text")}) AS BIGINT) AS n_grams
           |            FROM documents WHERE len(${grams3("text")}) > 0),
           |g AS (SELECT doc_id, n_grams, unnest(grams) AS gram FROM gs),
           |df AS (SELECT gram, count(*) AS gdf FROM g GROUP BY 1),
           |rk AS (SELECT g.doc_id, g.gram, g.n_grams,
           |         row_number() OVER (PARTITION BY g.doc_id
           |                            ORDER BY df.gdf, g.gram) AS r
           |       FROM g JOIN df USING (gram)),
           |px AS (SELECT doc_id, gram, r, n_grams FROM rk
           |       WHERE r <= n_grams - ceil(0.5e0 * n_grams) + 1),
           |cr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.r AS ra, b.r AS rb,
           |              a.n_grams AS a_n, b.n_grams AS b_n
           |       FROM px a JOIN px b ON a.gram = b.gram AND a.doc_id < b.doc_id
           |       WHERE a.n_grams * 0.5e0 <= b.n_grams + 1e-9
           |         AND b.n_grams * 0.5e0 <= a.n_grams + 1e-9),
           |cand AS (SELECT a_id, b_id FROM cr GROUP BY a_id, b_id, a_n, b_n
           |         HAVING CAST(1 + least(a_n - min(ra), b_n - min(rb)) AS DOUBLE)
           |                * 1.5e0 >= 0.5e0 * (a_n + b_n) - 1e-9),
           |v AS (SELECT c.a_id, c.b_id,
           |        CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS common,
           |        ga.n_grams AS a_n, gb.n_grams AS b_n
           |      FROM cand c JOIN gs ga ON ga.doc_id = c.a_id
           |                  JOIN gs gb ON gb.doc_id = c.b_id)
           |SELECT a_id, b_id, common,
           |       round(CAST(common AS DOUBLE) / (a_n + b_n - common), 6) AS jaccard
           |FROM v WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0
           |ORDER BY a_id, b_id""".stripMargin,
      "q102_bm25_indexed" -> {
        // the q64 mirror with q102's terms/k: the oracle recomputes BM25
        // from `documents` directly, so a green hash proves the
        // index-served path returns exactly the from-scratch scores
        val terms = Bm25IndexedTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |consts AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sdl FROM documents),
           |qt AS (SELECT * FROM tok WHERE token IN ($terms)),
           |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY 1, 2),
           |dfr AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY 1),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
           |s AS (SELECT tf.doc_id,
           |      round((ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
           |                / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
           |             * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0)))
           |            / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0)
           |               + 0.75e0 * (CAST(dl AS DOUBLE)
           |                           / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))), 6) AS ts
           |      FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN consts),
           |sc AS (SELECT doc_id, CAST(sum(CAST(ts AS DECIMAL(38,6))) AS DOUBLE) AS score
           |       FROM s GROUP BY doc_id),
           |r AS (SELECT doc_id, score,
           |      row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 15 ORDER BY rank""".stripMargin
      },
      "q103_nb_classify" -> {
        // full NB mirror: poly-hash slots, add-one smoothed per-(label,
        // slot) ln rounded to 6 decimals on the DENSE label x slot grid,
        // DECIMAL(38,6) sums + prior, argmax ties by label ascending
        val slot = s"(${polyHashSql("tok")} % 512)"
        s"""WITH tr AS (SELECT doc_id, source AS label, text FROM documents WHERE doc_id % 10 <> 0),
           |te AS (SELECT doc_id, source AS actual, text FROM documents WHERE doc_id % 10 = 0),
           |trt AS (SELECT label, $slot AS slot FROM (
           |         SELECT label, unnest(string_split(text, ' ')) AS tok FROM tr)),
           |ct AS (SELECT label, slot, count(*) AS ct FROM trt GROUP BY 1, 2),
           |tot AS (SELECT label, count(*) AS total FROM trt GROUP BY 1),
           |nd AS (SELECT label, count(*) AS n_docs FROM tr GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM tr),
           |grid AS (SELECT tot.label, total, n_docs, gs.slot
           |         FROM tot JOIN nd USING (label)
           |         CROSS JOIN (SELECT unnest(range(0, 512)) AS slot) gs),
           |model AS (SELECT grid.label, grid.slot,
           |            CAST(round(ln((COALESCE(ct.ct, 0) + 1.0e0)
           |                          / (grid.total + 512.0e0)), 6)
           |                 AS DECIMAL(38,6)) AS lp,
           |            CAST(round(ln(grid.n_docs / CAST(n.n AS DOUBLE)), 6)
           |                 AS DECIMAL(38,6)) AS prior
           |          FROM grid LEFT JOIN ct
           |            ON ct.label = grid.label AND ct.slot = grid.slot
           |          CROSS JOIN n),
           |tet AS (SELECT doc_id, $slot AS slot FROM (
           |         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM te)),
           |sc AS (SELECT doc_id, label,
           |         CAST(min(prior) + sum(lp) AS DOUBLE) AS logp
           |       FROM tet JOIN model USING (slot) GROUP BY 1, 2),
           |p AS (SELECT doc_id, label AS pred, logp,
           |        row_number() OVER (PARTITION BY doc_id
           |                           ORDER BY logp DESC, label) AS rn FROM sc)
           |SELECT p.doc_id, pred, actual, (pred = actual) AS correct, logp
           |FROM p JOIN te USING (doc_id) WHERE rn = 1 ORDER BY doc_id""".stripMargin
      },
      "q98_phrase_hits" -> // sliding windows per phrase length, IN-filtered
        // to the screen list, counted per (doc, phrase) — hits only
        """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |w2 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
          |                              for i in range(1, len(toks))]) AS phrase FROM tk),
          |w3 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
          |                              for i in range(1, len(toks) - 1)]) AS phrase FROM tk),
          |hits AS (SELECT doc_id, phrase FROM w2
          |         WHERE phrase IN ('table part', 'value fast')
          |         UNION ALL
          |         SELECT doc_id, phrase FROM w3
          |         WHERE phrase IN ('big order scan', 'group slow spark'))
          |SELECT doc_id, phrase, CAST(count(*) AS BIGINT) AS n_hits
          |FROM hits GROUP BY doc_id, phrase ORDER BY doc_id, phrase""".stripMargin,
      "q97_cc_incremental" -> // the incremental fold lands on the exact
        // one-shot labels (min-rep is a unique fixpoint), so the oracle is
        // the same recursive min-label reachability as q53 over ALL pairs —
        // only a correct init→insert composition reproduces it
        s"""${ngramPairsWith.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |pe AS (SELECT a_id, b_id FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |e AS (SELECT a_id AS s, b_id AS d FROM pe
           |      UNION ALL SELECT b_id, a_id FROM pe),
           |nodes AS (SELECT DISTINCT s AS id FROM e),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id)
           |SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id
           |ORDER BY doc_id""".stripMargin,
      "q96_pagerank_incremental" -> {
        // Graph.rankInit + 5 rounds on the 90% base graph, then rankInsert
        // of the 10% batch + 2 warm rounds — BOTH phases unrolled in the
        // q69 fixed-point arithmetic. The warm-start rows (w0) keep the
        // base trajectory's r5 units and only new nodes take the uniform
        // share over the GROWN node count; the two warm rounds then use the
        // merged edges and grown degrees.
        def round(k: Int, prev: String, e: String, deg: String, n: String) =
          s"""w$k AS (SELECT e.dst AS node, d.deg,
             |  CAST((15 * 1000000000000000) // (100 * $n.n)
             |       + (85 * sum(p.ru // p.deg)) // 100 AS BIGINT) AS ru
             |  FROM $e e JOIN $prev p ON e.src = p.node
             |         JOIN $deg d ON e.dst = d.node CROSS JOIN $n
             |  GROUP BY e.dst, d.deg, $n.n)""".stripMargin
        val baseRounds = (1 to 5)
          .map(k => round(k, s"w${k - 1}", "eb", "degb", "nb")).mkString(",\n")
        val warmRounds = Seq(round(6, "ws", "em", "degm", "nm"),
          round(7, "w6", "em", "degm", "nm")).mkString(",\n")
        s"""WITH b0 AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
           |                            CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |            WHERE o_orderkey % 10 <> 0),
           |c0 AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
           |                       CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |       WHERE o_orderkey % 10 = 0),
           |eb AS (SELECT src, dst FROM b0 UNION SELECT dst, src FROM b0),
           |ec AS (SELECT src, dst FROM c0 UNION SELECT dst, src FROM c0),
           |degb AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           |         FROM eb GROUP BY 1),
           |nb AS (SELECT count(*) AS n FROM degb),
           |w0 AS (SELECT node, deg, CAST(1000000000000000 // nb.n AS BIGINT) AS ru
           |       FROM degb CROSS JOIN nb),
           |$baseRounds,
           |em AS (SELECT src, dst FROM eb UNION SELECT src, dst FROM ec),
           |degm AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           |         FROM em GROUP BY 1),
           |nm AS (SELECT count(*) AS n FROM degm),
           |ws AS (SELECT d.node, d.deg,
           |         CAST(coalesce(r.ru, 1000000000000000 // nm.n) AS BIGINT) AS ru
           |       FROM degm d CROSS JOIN nm LEFT JOIN w5 r ON d.node = r.node),
           |$warmRounds
           |SELECT node, deg, CAST(ru AS DOUBLE) / 1.0e15 AS rank
           |FROM w7 ORDER BY node""".stripMargin
      },
      "q94_contamination_report" -> // q54's gram join grouped by the EVAL
        // side, with the distinct-train-doc count alongside the pair volume
        s"""WITH tg AS (SELECT doc_id, unnest(${gramsN("text", 5)}) AS gram
           |            FROM documents WHERE doc_id % 10 <> 0),
           |eg AS (SELECT doc_id AS eval_doc_id, unnest(${gramsN("text", 5)}) AS gram
           |       FROM documents WHERE doc_id % 10 = 0)
           |SELECT eval_doc_id,
           |       CAST(count(DISTINCT tg.doc_id) AS BIGINT) AS n_train_docs,
           |       CAST(count(*) AS BIGINT) AS n_shared
           |FROM tg JOIN eg USING (gram)
           |GROUP BY eval_doc_id ORDER BY eval_doc_id""".stripMargin,
      "q93_quantile_gate" -> // exact ceil-rank quantile thresholds per
        // source (the q75 target formula), then the bounds-join gate
        s"""WITH l AS (SELECT doc_id, source, $nTokens AS n_tokens FROM documents),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY source
           |         ORDER BY n_tokens, doc_id) AS rn FROM l),
           |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY 1),
           |t AS (SELECT source, (n * 10 + 99) // 100 AS tlo,
           |             (n * 90 + 99) // 100 AS thi FROM n),
           |b AS (SELECT rk.source,
           |      min(CASE WHEN rn = tlo THEN n_tokens END) AS lo,
           |      max(CASE WHEN rn = thi THEN n_tokens END) AS hi
           |      FROM rk JOIN t ON rk.source = t.source
           |      WHERE rn = tlo OR rn = thi GROUP BY 1)
           |SELECT l.doc_id, l.source, l.n_tokens
           |FROM l JOIN b ON l.source = b.source
           |WHERE l.n_tokens >= b.lo AND l.n_tokens <= b.hi
           |ORDER BY doc_id""".stripMargin,
      "q104_scd2" -> // Warehouse.scd2 replayed: lag over the FULL changelog
        // marks change rows (status non-null, so <> mirrors the null-safe
        // struct compare), lead over the CHANGE rows chains the intervals;
        // both windows share (key, (ts, orderkey)) exactly like the Spark
        // plan's single sort
        """WITH c AS (SELECT o_custkey, epoch_us(o_orderdate) AS ts_us,
          |             o_orderkey, o_orderstatus FROM orders),
          |f AS (SELECT *, lag(o_orderstatus) OVER
          |        (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey) AS prev
          |      FROM c),
          |ch AS (SELECT * FROM f WHERE prev IS NULL OR prev <> o_orderstatus),
          |iv AS (SELECT o_custkey, o_orderstatus, ts_us AS valid_from,
          |         lead(ts_us) OVER
          |           (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey) AS valid_to
          |       FROM ch)
          |SELECT o_custkey, o_orderstatus, valid_from, valid_to,
          |       (valid_to IS NULL) AS is_current
          |FROM iv ORDER BY o_custkey, valid_from,
          |  coalesce(valid_to, 9223372036854775807), o_orderstatus""".stripMargin,
      "q105_snapshot_diff" -> // Cdc.latestPerKey on both sides of the cutoff
        // ((ts, event_id) is unique per key, so row_number mirrors the max
        // struct), then Warehouse.snapshotDiff's full-outer classification
        """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
          |              event_id, value FROM events),
          |os AS (SELECT user_id, event_type, ts_us, value FROM (
          |         SELECT *, row_number() OVER (PARTITION BY user_id, event_type
          |             ORDER BY ts_us DESC, event_id DESC) AS rn
          |         FROM ev WHERE ts_us < 1705363200000000) WHERE rn = 1),
          |ns AS (SELECT user_id, event_type, ts_us, value FROM (
          |         SELECT *, row_number() OVER (PARTITION BY user_id, event_type
          |             ORDER BY ts_us DESC, event_id DESC) AS rn
          |         FROM ev) WHERE rn = 1)
          |SELECT coalesce(os.user_id, ns.user_id) AS user_id,
          |       coalesce(os.event_type, ns.event_type) AS event_type,
          |       CASE WHEN os.user_id IS NULL THEN 'added'
          |            WHEN ns.user_id IS NULL THEN 'removed'
          |            WHEN os.ts_us = ns.ts_us AND os.value = ns.value
          |              THEN 'unchanged'
          |            ELSE 'changed' END AS status,
          |       os.ts_us AS old_ts_us, os.value AS old_value,
          |       ns.ts_us AS new_ts_us, ns.value AS new_value
          |FROM os FULL OUTER JOIN ns
          |  ON os.user_id = ns.user_id AND os.event_type = ns.event_type
          |ORDER BY user_id, event_type""".stripMargin,
      "q106_funnel" -> // chained conditional-min aggregates, one CTE per
        // step: step k's anchor is the min ts strictly after step k-1's
        """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
          |s0 AS (SELECT user_id, min(ts) AS t FROM ev
          |       WHERE event_type = 'signup' GROUP BY 1),
          |s1 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev
          |       JOIN s0 ON ev.user_id = s0.user_id AND ev.ts > s0.t
          |       WHERE ev.event_type = 'view' GROUP BY 1),
          |s2 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev
          |       JOIN s1 ON ev.user_id = s1.user_id AND ev.ts > s1.t
          |       WHERE ev.event_type = 'click' GROUP BY 1),
          |s3 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev
          |       JOIN s2 ON ev.user_id = s2.user_id AND ev.ts > s2.t
          |       WHERE ev.event_type = 'purchase' GROUP BY 1)
          |SELECT * FROM (
          |  SELECT 0 AS step, 'signup' AS step_name,
          |         CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
          |  UNION ALL SELECT 1, 'view', CAST((SELECT count(*) FROM s1) AS BIGINT)
          |  UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
          |  UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
          |) ORDER BY step""".stripMargin,
      "q107_retention" -> // integer ns-to-day buckets, first-seen cohort,
        // distinct (user, day) activity joined back — the exact mirror of
        // Funnel.retentionCohorts' two aggregates
        """WITH b AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS b FROM events),
          |c AS (SELECT user_id, min(b) AS cohort FROM b GROUP BY 1),
          |d AS (SELECT DISTINCT user_id, b FROM b)
          |SELECT cohort, d.b - cohort AS "offset", CAST(count(*) AS BIGINT) AS n_users
          |FROM d JOIN c USING (user_id)
          |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin,
      "q205_gopher_gate" -> // every rule measure as exact integer ratios
        // rounded at 6; the conjunction with the identical thresholds
        """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |            FROM documents),
          |pt AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
          |       FROM tk GROUP BY 1, 2),
          |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
          |         CAST(max(c) AS BIGINT) AS top_c FROM pt GROUP BY 1),
          |ln AS (SELECT doc_id, CAST(sum(len(t)) AS BIGINT) AS chars,
          |         CAST(sum(CASE WHEN regexp_matches(t, '[A-Za-z]')
          |                  THEN 1 ELSE 0 END) AS BIGINT) AS alpha,
          |         CAST(sum(CASE WHEN t IN ('the', 'a') THEN 1 ELSE 0 END)
          |              AS BIGINT) AS stop_hits
          |       FROM tk GROUP BY 1),
          |m AS (SELECT pd.doc_id, n_words,
          |        round(CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
          |          AS mean_word_len,
          |        round(CAST(alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
          |          AS alpha_ratio,
          |        stop_hits,
          |        round(CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
          |          AS top_token_share
          |      FROM pd JOIN ln ON ln.doc_id = pd.doc_id)
          |SELECT *, (n_words >= 40 AND n_words <= 100000
          |  AND mean_word_len >= 3.0e0 AND mean_word_len <= 10.0e0
          |  AND alpha_ratio >= 0.8e0 AND stop_hits >= 2
          |  AND top_token_share <= 0.2e0) AS pass
          |FROM m ORDER BY doc_id""".stripMargin,
      "q204_topk_exec" -> // the plain window form — the heap execs must
        // reproduce its rows and ranks bit-for-bit
        """SELECT event_type, event_id, value, CAST(rn AS INTEGER) AS rn FROM (
          |  SELECT event_type, event_id, value, row_number() OVER
          |    (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
          |  FROM (SELECT event_type, event_id, CAST(value AS DOUBLE) AS value
          |        FROM events WHERE value IS NOT NULL))
          |WHERE rn <= 10 ORDER BY event_type, rn""".stripMargin,
      "q202_equidepth" -> // boundaries by the same driver-side ceil((i/k)·n)
        // targets as exact order statistics, then lowest-admitting-bucket
        // assignment over the distinct-value table
        """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
          |           WHERE l_extendedprice IS NOT NULL),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
          |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rw FROM v),
          |b AS (SELECT CAST(i.i AS BIGINT) AS bucket, r.v AS hi
          |      FROM range(1, 9) i(i) CROSS JOIN n
          |      JOIN r ON r.rw = CAST(ceil((CAST(i.i AS DOUBLE) / 8.0e0)
          |                               * CAST(n AS DOUBLE)) AS BIGINT)),
          |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY v),
          |a AS (SELECT vc.v, max(vc.cnt) AS cnt, min(b.bucket) AS bucket
          |      FROM vc JOIN b ON vc.v <= b.hi GROUP BY vc.v),
          |c AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_rows
          |      FROM a GROUP BY 1)
          |SELECT b.bucket, b.hi, coalesce(c.n_rows, CAST(0 AS BIGINT)) AS n_rows
          |FROM b LEFT JOIN c ON c.bucket = b.bucket ORDER BY b.bucket""".stripMargin,
      "q203_robust_outliers" -> // the q197 median/MAD CTEs, then the
        // round-6 modified z-score filter at 3.5
        """WITH v AS (SELECT CAST(event_type AS VARCHAR) AS grp, event_id AS id,
          |    CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
          |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
          |r AS (SELECT grp, v, row_number() OVER (
          |        PARTITION BY grp ORDER BY v) AS rw FROM v),
          |med AS (SELECT r.grp, r.v AS median FROM r JOIN n ON n.grp = r.grp
          |        WHERE r.rw = CAST(ceil(0.5e0 * n) AS BIGINT)),
          |d AS (SELECT v.grp, abs(v.v - med.median) AS v
          |      FROM v JOIN med ON med.grp = v.grp),
          |rd AS (SELECT grp, v, row_number() OVER (
          |         PARTITION BY grp ORDER BY v) AS rw FROM d),
          |mad AS (SELECT rd.grp, rd.v AS mad FROM rd JOIN n ON n.grp = rd.grp
          |        WHERE rd.rw = CAST(ceil(0.5e0 * n) AS BIGINT)),
          |sc AS (SELECT v.grp, v.id, v.v, med.median, mad.mad,
          |         round(0.6745e0 * (v.v - med.median) / mad.mad, 6) AS mz
          |       FROM v JOIN med ON med.grp = v.grp
          |              JOIN mad ON mad.grp = v.grp
          |       WHERE mad.mad > 0.0e0)
          |SELECT grp, id, v, median, mad, mz FROM sc
          |WHERE abs(mz) > 3.5e0 ORDER BY grp, id""".stripMargin,
      "q200_cube" -> // the same lattice via GROUP BY CUBE; grouping() bit
        // order (leftmost = MSB) matches Spark's grouping_id()
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "q201_pivot" -> // conditional aggregation is exactly what the pivot
        // lowers to
        """SELECT source,
          |  CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
          |  CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
          |  CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
          |  CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
          |  CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      "q199_bm25_incremental" -> {
        // the q102 from-scratch mirror over ALL documents with q199's
        // terms: a green hash proves base-build + batch append serves the
        // identical scores a full rebuild would
        val terms = Seq("scan", "vector", "stream").map(t => s"'$t'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |consts AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sdl FROM documents),
           |qt AS (SELECT * FROM tok WHERE token IN ($terms)),
           |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY 1, 2),
           |dfr AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY 1),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
           |s AS (SELECT tf.doc_id,
           |      round((ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
           |                / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
           |             * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0)))
           |            / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0)
           |               + 0.75e0 * (CAST(dl AS DOUBLE)
           |                           / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))), 6) AS ts
           |      FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN consts),
           |sc AS (SELECT doc_id, CAST(sum(CAST(ts AS DECIMAL(38,6))) AS DOUBLE) AS score
           |       FROM s GROUP BY doc_id),
           |r AS (SELECT doc_id, score,
           |      row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 15 ORDER BY rank""".stripMargin
      },
      "q195_containment" -> // containmentPairs replayed off the shared
        // inverted-index pair-count CTE: only the ratio differs from q31
        s"""$ngramPairsWith
           |SELECT a_id, b_id, common,
           |       round(CAST(common AS DOUBLE) / least(a_n, b_n), 6)
           |         AS containment
           |FROM pairs
           |WHERE CAST(common AS DOUBLE) / least(a_n, b_n) >= 0.8e0
           |ORDER BY a_id, b_id""".stripMargin,
      "q196_group_quantiles" -> // the oracle never sees the buckets: the
        // per-group ceil-rank order statistic by a plain per-group
        // row_number (the q138 convention, grouped)
        """WITH v AS (SELECT CAST(source AS VARCHAR) AS grp,
          |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS v FROM documents),
          |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
          |t AS (SELECT grp, n, p FROM n
          |      CROSS JOIN (VALUES (0.25e0), (0.5e0), (0.9e0)) pv(p)),
          |k AS (SELECT grp, p, CAST(ceil(p * n) AS BIGINT) AS k FROM t),
          |r AS (SELECT grp, v, CAST(row_number() OVER (
          |        PARTITION BY grp ORDER BY v) AS BIGINT) AS rw FROM v)
          |SELECT k.grp, k.p, k.k AS rank, r.v AS value
          |FROM k JOIN r ON r.grp = k.grp AND r.rw = k.k
          |ORDER BY k.grp, k.p""".stripMargin,
      "q197_mad" -> // median and MAD by the same ceil-rank rule, the
        // deviation pass off the joined median
        """WITH v AS (SELECT CAST(event_type AS VARCHAR) AS grp,
          |    CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
          |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
          |r AS (SELECT grp, v, row_number() OVER (
          |        PARTITION BY grp ORDER BY v) AS rw FROM v),
          |med AS (SELECT r.grp, r.v AS median FROM r JOIN n ON n.grp = r.grp
          |        WHERE r.rw = CAST(ceil(0.5e0 * n) AS BIGINT)),
          |d AS (SELECT v.grp, abs(v.v - med.median) AS v
          |      FROM v JOIN med ON med.grp = v.grp),
          |rd AS (SELECT grp, v, row_number() OVER (
          |         PARTITION BY grp ORDER BY v) AS rw FROM d),
          |mad AS (SELECT rd.grp, rd.v AS mad FROM rd JOIN n ON n.grp = rd.grp
          |        WHERE rd.rw = CAST(ceil(0.5e0 * n) AS BIGINT))
          |SELECT n.grp, n.n, med.median, mad.mad
          |FROM n JOIN med ON med.grp = n.grp JOIN mad ON mad.grp = n.grp
          |ORDER BY n.grp""".stripMargin,
      "q198_self_bleu" -> {
        // bleuPairs replayed: exact clipped counts per order, round-6
        // precisions, the round-6-libm ln/exp chain, brevity penalty
        def side(c: String, out: String): String =
          s"""SELECT pid, n, gram, CAST(count(*) AS BIGINT) AS $out FROM (
             |  SELECT pid, 1 AS n, unnest(${gramsNAll(c, 1)}) AS gram FROM pr
             |  UNION ALL
             |  SELECT pid, 2 AS n, unnest(${gramsNAll(c, 2)}) AS gram FROM pr)
             |GROUP BY 1, 2, 3""".stripMargin
        s"""WITH pr AS (SELECT a.doc_id AS pid, a.text AS cand, b.text AS ref
           |      FROM documents a JOIN documents b
           |        ON a.source = b.source AND b.doc_id = a.doc_id + 20),
           |cc AS (${side("cand", "cc")}),
           |rc AS (${side("ref", "rc")}),
           |pn AS (SELECT cc.pid, cc.n,
           |         sum(least(cc, coalesce(rc, 0))) AS clipped,
           |         sum(cc) AS total
           |       FROM cc LEFT JOIN rc ON rc.pid = cc.pid AND rc.n = cc.n
           |                           AND rc.gram = cc.gram
           |       GROUP BY 1, 2),
           |p AS (SELECT pid, n, round(CAST(clipped AS DOUBLE)
           |        / CAST(total AS DOUBLE), 6) AS p FROM pn),
           |pp AS (SELECT pid, max(CASE WHEN n = 1 THEN p END) AS p1,
           |         max(CASE WHEN n = 2 THEN p END) AS p2,
           |         min(p) AS pmin,
           |         sum(CASE WHEN p > 0.0e0 THEN round(ln(p), 6) END) AS slog,
           |         CAST(count(*) AS BIGINT) AS kn
           |       FROM p GROUP BY 1),
           |lens AS (SELECT pid,
           |           CAST(len(string_split(cand, ' ')) AS BIGINT) AS cand_len,
           |           CAST(len(string_split(ref, ' ')) AS BIGINT) AS ref_len
           |         FROM pr)
           |SELECT l.pid AS pair_id, cand_len, ref_len,
           |       coalesce(p1, 0.0e0) AS p1, coalesce(p2, 0.0e0) AS p2,
           |       coalesce(CASE WHEN pmin > 0.0e0 AND kn = 2 THEN
           |         round((CASE WHEN cand_len >= ref_len THEN 1.0e0
           |                ELSE round(exp(1.0e0 - CAST(ref_len AS DOUBLE)
           |                  / CAST(cand_len AS DOUBLE)), 6) END)
           |           * round(exp(slog / 2), 6), 6)
           |         ELSE 0.0e0 END, 0.0e0) AS bleu
           |FROM lens l LEFT JOIN pp ON pp.pid = l.pid
           |ORDER BY pair_id""".stripMargin
      },
      "q194_lp_incremental" -> {
        // lpInit(5 rounds on the base graph) → lpInsert(late batch, 2 warm
        // rounds) unrolled: the q108 vote/arg-max CTE pair per round, first
        // over the base edge set, then over the merged one with new nodes
        // entering self-labeled and settled nodes keeping their l5 label
        def voteRounds(k0: Int, n: Int, edges: String, prev: String): String =
          (1 to n).map { i =>
            val k = k0 + i
            val p = if (i == 1) prev else s"l${k - 1}"
            s"""v$k AS (SELECT e.dst AS node, p.label, count(*) AS cnt
               |  FROM $edges e JOIN $p p ON e.src = p.node GROUP BY 1, 2),
               |w$k AS (SELECT node, label FROM (
               |  SELECT node, label, row_number() OVER
               |    (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v$k)
               |  WHERE rn = 1),
               |l$k AS (SELECT l.node, coalesce(w$k.label, l.label) AS label
               |  FROM $p l LEFT JOIN w$k ON l.node = w$k.node)""".stripMargin
          }.mkString(",\n")
        s"""WITH d AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
           |             CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst,
           |             (o_orderkey % 10 = 0) AS late
           |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |b0 AS (SELECT DISTINCT src, dst FROM d WHERE NOT late),
           |eb AS (SELECT src, dst FROM b0 UNION SELECT dst, src FROM b0),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM eb),
           |${voteRounds(0, 5, "eb", "l0")},
           |m0 AS (SELECT DISTINCT src, dst FROM d),
           |em AS (SELECT src, dst FROM m0 UNION SELECT dst, src FROM m0),
           |lw AS (SELECT n.node, coalesce(l5.label, n.node) AS label
           |       FROM (SELECT DISTINCT src AS node FROM em) n
           |       LEFT JOIN l5 ON l5.node = n.node),
           |${voteRounds(5, 2, "em", "lw")}
           |SELECT node, label FROM l7 ORDER BY node""".stripMargin
      },
      "q108_label_prop" -> { // Graph.labelPropagation unrolled: one CTE pair
        // per round — per-(node, label) vote counts over the symmetrized
        // edge set, then the (cnt DESC, label ASC) arg-max; the left join +
        // coalesce mirrors the keep-own-label rule
        val rounds = (1 to 5).map { k =>
          s"""v$k AS (SELECT e.dst AS node, p.label, count(*) AS cnt
             |  FROM e JOIN l${k - 1} p ON e.src = p.node GROUP BY 1, 2),
             |w$k AS (SELECT node, label FROM (
             |  SELECT node, label, row_number() OVER
             |    (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v$k)
             |  WHERE rn = 1),
             |l$k AS (SELECT l.node, coalesce(w$k.label, l.label) AS label
             |  FROM l${k - 1} l LEFT JOIN w$k ON l.node = w$k.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
           |                            CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
           |$rounds
           |SELECT node, label FROM l5 ORDER BY node""".stripMargin
      },
      "q109_editdist_join" -> // plain brute force with only the length
        // filter: a green hash proves the Spark side's q-gram prefix stack
        // (and its short-string routing) loses no pair
        """WITH s AS (SELECT CAST(p_partkey AS BIGINT) AS id,
          |             p_name || ' ' || p_type AS s,
          |             len(p_name || ' ' || p_type) AS l FROM part)
          |SELECT a.id AS a_id, b.id AS b_id,
          |       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
          |FROM s a JOIN s b ON a.id < b.id AND abs(a.l - b.l) <= 1
          |WHERE levenshtein(a.s, b.s) <= 1
          |ORDER BY a_id, b_id""".stripMargin,
      "q110_temperature_mix" -> // per-source counts, sqrt(p) weights
        // (alpha = 1/2: sqrt is correctly rounded in IEEE — bit-identical
        // across engines, unlike pow), 6-decimal rounds, DECIMAL weight sum
        """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
          |           FROM documents GROUP BY 1),
          |t AS (SELECT sum(n) AS nn FROM c),
          |w AS (SELECT source, n,
          |        CAST(round(sqrt(CAST(n AS DOUBLE) / nn), 6)
          |             AS DECIMAL(38,6)) AS w
          |      FROM c CROSS JOIN t),
          |sw AS (SELECT sum(w) AS sw FROM w),
          |sh AS (SELECT source, n,
          |         round(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS share
          |       FROM w CROSS JOIN sw)
          |SELECT source, n, share,
          |       CAST(floor(share * 100000 + 1e-9) AS BIGINT) AS quota
          |FROM sh ORDER BY source""".stripMargin,
      "q111_pit_join" -> // the q104 scd2 replay off the (custkey, ts)-
        // compacted changelog (max_by = the struct-max tie-break), then
        // DuckDB's native ASOF LEFT JOIN on valid_from — valid under
        // scd2's gapless-interval invariant, exactly like the Spark side
        """WITH chg AS (SELECT o_custkey, epoch_us(o_orderdate) AS ts_us,
          |               max_by(o_orderstatus, o_orderkey) AS o_orderstatus
          |             FROM orders GROUP BY 1, 2),
          |f AS (SELECT *, lag(o_orderstatus) OVER
          |        (PARTITION BY o_custkey ORDER BY ts_us) AS prev FROM chg),
          |dim AS (SELECT o_custkey, ts_us AS valid_from, o_orderstatus
          |        FROM f WHERE prev IS NULL OR prev <> o_orderstatus),
          |fact AS (SELECT l_orderkey, l_linenumber, o_custkey,
          |           epoch_us(l_shipdate) AS ts_us
          |         FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
          |SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.ts_us,
          |       d.o_orderstatus AS status_at_ship
          |FROM fact f ASOF LEFT JOIN dim d
          |  ON f.o_custkey = d.o_custkey AND f.ts_us >= d.valid_from
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "q112_interval_coalesce" -> // the same two-window island build:
        // running max(end) over strictly-preceding ROWS marks splits, a
        // running flag sum numbers islands, one group-by per island
        """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
          |              epoch_us(ts) + 300000000 AS e FROM events),
          |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS me
          |      FROM iv),
          |fl AS (SELECT *, CASE WHEN me IS NULL OR s > me THEN 1 ELSE 0 END
          |         AS nf FROM m),
          |isl AS (SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY s, e
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
          |        FROM fl)
          |SELECT user_id, min(s) AS island_start, max(e) AS island_end,
          |       CAST(count(*) AS BIGINT) AS n_merged
          |FROM isl GROUP BY user_id, isle
          |ORDER BY user_id, island_start""".stripMargin,
      "q115_psi_drift" -> // Drift.psiReport replayed: full-outer bucket
        // merge, add-half smoothing over the union bucket set, per-ln
        // 6-decimal rounds into DECIMAL(18,6) factors, DECIMAL(38,12)
        // term sums — the q100 portability convention
        """WITH ev AS (SELECT event_type, value, epoch_us(ts) AS ts_us
          |            FROM events),
          |oo AS (SELECT 'event_type' AS feature, event_type AS bucket
          |       FROM ev WHERE ts_us < 1705363200000000
          |       UNION ALL
          |       SELECT 'value_bin',
          |              printf('b%02d', CAST(floor(value / 25.0) AS INT))
          |       FROM ev WHERE ts_us < 1705363200000000),
          |nn AS (SELECT 'event_type' AS feature, event_type AS bucket FROM ev
          |       UNION ALL
          |       SELECT 'value_bin',
          |              printf('b%02d', CAST(floor(value / 25.0) AS INT))
          |       FROM ev),
          |co AS (SELECT feature, bucket, CAST(count(*) AS BIGINT) AS n_old
          |       FROM oo GROUP BY 1, 2),
          |cn AS (SELECT feature, bucket, CAST(count(*) AS BIGINT) AS n_new
          |       FROM nn GROUP BY 1, 2),
          |m AS (SELECT coalesce(co.feature, cn.feature) AS feature,
          |        coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
          |      FROM co FULL OUTER JOIN cn
          |        ON co.feature = cn.feature AND co.bucket = cn.bucket),
          |t AS (SELECT feature, CAST(sum(n_old) AS BIGINT) AS tot_old,
          |        CAST(sum(n_new) AS BIGINT) AS tot_new,
          |        CAST(count(*) AS BIGINT) AS nb FROM m GROUP BY 1),
          |j AS (SELECT m.feature, n_old, n_new, tot_old, tot_new, nb,
          |        (CAST(n_old AS DOUBLE) + 0.5)
          |          / (CAST(tot_old AS DOUBLE) + 0.5 * nb) AS p_old,
          |        (CAST(n_new AS DOUBLE) + 0.5)
          |          / (CAST(tot_new AS DOUBLE) + 0.5 * nb) AS p_new
          |      FROM m JOIN t ON m.feature = t.feature),
          |terms AS (SELECT feature, nb, tot_old, tot_new,
          |        CAST(CAST(round(p_new - p_old, 6) AS DECIMAL(12,6))
          |          * (CAST(round(ln(p_new), 6) AS DECIMAL(12,6))
          |             - CAST(round(ln(p_old), 6) AS DECIMAL(12,6)))
          |          AS DECIMAL(38,12)) AS term
          |      FROM j)
          |SELECT feature, nb AS n_buckets, tot_old AS n_old,
          |       tot_new AS n_new,
          |       round(CAST(sum(term) AS DOUBLE), 6) AS psi
          |FROM terms GROUP BY 1, 2, 3, 4 ORDER BY feature""".stripMargin,
      "q192_balance" -> // balanceReport replayed: melt, value counts,
        // round-6 -p*ln(p) terms as DECIMAL sums, H/ln(k) normalization
        """WITH m AS (
          |  SELECT 'lang' AS col0, CAST(lang AS VARCHAR) AS value
          |  FROM documents WHERE lang IS NOT NULL
          |  UNION ALL
          |  SELECT 'source', CAST(source AS VARCHAR) FROM documents
          |  WHERE source IS NOT NULL),
          |c AS (SELECT col0, value, CAST(count(*) AS BIGINT) AS ct
          |      FROM m GROUP BY 1, 2),
          |t AS (SELECT col0, CAST(sum(ct) AS BIGINT) AS n_rows,
          |      CAST(count(*) AS BIGINT) AS n_values,
          |      CAST(max(ct) AS BIGINT) AS top_ct FROM c GROUP BY 1),
          |h AS (SELECT c.col0, t.n_rows, t.n_values, t.top_ct,
          |  CAST(sum(CAST(round(-(CAST(ct AS DOUBLE) / CAST(n_rows AS DOUBLE))
          |    * ln(CAST(ct AS DOUBLE) / CAST(n_rows AS DOUBLE)), 6)
          |    AS DECIMAL(38,6))) AS DOUBLE) AS h
          |  FROM c JOIN t ON c.col0 = t.col0 GROUP BY 1, 2, 3, 4)
          |SELECT col0 AS "column", n_rows, n_values,
          |  round(CAST(top_ct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
          |    AS top_share,
          |  round(h, 6) AS entropy,
          |  CASE WHEN n_values > 1
          |       THEN round(h / ln(CAST(n_values AS DOUBLE)), 6)
          |       ELSE 0.0e0 END AS norm_entropy
          |FROM h ORDER BY col0""".stripMargin,
      "q189_clustering_coeff" -> // the q86 triangle chain + a degree left
        // join; coeff = one fixed round-6 formula over exact integers
        s"""$ngramPairsWith,
           |ed AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           |        FROM ed WHERE src <> dst),
           |degt AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |         SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
           |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
           |                  THEN u ELSE v END AS s,
           |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
           |                  THEN v ELSE u END AS t,
           |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
           |                  THEN db.deg ELSE da.deg END AS dt
           |      FROM und JOIN degt da ON da.node = und.u
           |               JOIN degt db ON db.node = und.v),
           |w AS (SELECT a.s AS apex, a.t AS t1, b.t AS t2 FROM o a JOIN o b
           |      ON a.s = b.s AND (a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t))),
           |tri AS (SELECT apex, t1, t2 FROM w JOIN o ON o.s = w.t1 AND o.t = w.t2),
           |n AS (SELECT unnest([apex, t1, t2]) AS node FROM tri),
           |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM n
           |       GROUP BY 1)
           |SELECT degt.node, degt.deg,
           |  COALESCE(tc.n_triangles, 0) AS n_triangles,
           |  round(2.0e0 * CAST(COALESCE(tc.n_triangles, 0) AS DOUBLE)
           |    / CAST(degt.deg * (degt.deg - 1) AS DOUBLE), 6) AS coeff
           |FROM degt LEFT JOIN tc ON degt.node = tc.node
           |WHERE degt.deg >= 2 ORDER BY degt.node""".stripMargin,
      "q190_copurchase" -> // itemPairSimilarity replayed: Apriori prune at
        // sup>=2, per-basket pair join, fixed round-6 ratio formulas
        """WITH p AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
          |           FROM lineitem),
          |fi AS (SELECT item, CAST(count(*) AS BIGINT) AS sup FROM p
          |       GROUP BY 1 HAVING count(*) >= 2),
          |pr AS (SELECT a.item AS item_a, b.item AS item_b,
          |       CAST(count(*) AS BIGINT) AS sup_ab
          |       FROM p a JOIN p b ON a.basket = b.basket AND a.item < b.item
          |       WHERE a.item IN (SELECT item FROM fi)
          |         AND b.item IN (SELECT item FROM fi)
          |       GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT item_a, item_b, fa.sup AS sup_a, fb.sup AS sup_b, sup_ab,
          |  round(CAST(sup_ab AS DOUBLE)
          |    / CAST(fa.sup + fb.sup - sup_ab AS DOUBLE), 6) AS jaccard,
          |  round(CAST(sup_ab AS DOUBLE)
          |    / sqrt(CAST(fa.sup * fb.sup AS DOUBLE)), 6) AS cosine
          |FROM pr JOIN fi fa ON fa.item = pr.item_a
          |        JOIN fi fb ON fb.item = pr.item_b
          |ORDER BY item_a, item_b""".stripMargin,
      "q191_rfm" -> // rfm replayed: one rollup + three deterministic ntile
        // windows over (metric asc, entity asc)
        """WITH per AS (SELECT CAST(o_custkey AS VARCHAR) AS entity,
          |  CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS recency_ts,
          |  CAST(count(*) AS BIGINT) AS frequency,
          |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
          |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
          |sc AS (SELECT entity, recency_ts, frequency,
          |  CAST(m AS DOUBLE) AS monetary,
          |  CAST(ntile(5) OVER (ORDER BY recency_ts ASC, entity ASC)
          |    AS BIGINT) AS r_score,
          |  CAST(ntile(5) OVER (ORDER BY frequency ASC, entity ASC)
          |    AS BIGINT) AS f_score,
          |  CAST(ntile(5) OVER (ORDER BY m ASC, entity ASC)
          |    AS BIGINT) AS m_score
          |  FROM per)
          |SELECT entity, recency_ts, frequency, monetary, r_score, f_score,
          |  m_score, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
          |    || CAST(m_score AS VARCHAR) AS segment
          |FROM sc ORDER BY entity""".stripMargin,
      "q187_canonical_pick" -> // the q174 recursive-CC fixpoint + the q37
        // quality formula: per-cluster (score desc, id asc) argmax
        s"""${ngramPairsWith.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |pe AS (SELECT a_id, b_id FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |e AS (SELECT a_id AS s, b_id AS d FROM pe
           |      UNION ALL SELECT b_id, a_id FROM pe),
           |nodes AS (SELECT DISTINCT s AS id FROM e),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id),
           |cc AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id),
           |m AS (SELECT cc.doc_id, cc.rep_id, $qualitySql AS sc
           |      FROM cc JOIN documents d ON d.doc_id = cc.doc_id),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY rep_id
           |       ORDER BY sc DESC, doc_id ASC) AS rn FROM m)
           |SELECT rep_id,
           |  min(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  max(round(sc, 6)) AS best_score,
           |  CAST(sum(CAST(round(sc, 6) AS DECIMAL(18,6))) AS DOUBLE)
           |    AS total_score
           |FROM rk GROUP BY rep_id ORDER BY rep_id""".stripMargin,
      "q188_ndcg" -> {
        // the q64 BM25 chain at rank<=10 scored by NDCG against graded
        // term-coverage relevance, every term round-6 and DECIMAL-summed
        val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
        val relSql = Bm25Terms.map(t =>
          s"(CASE WHEN list_contains(string_split(text, ' '), '$t') " +
            s"THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |consts AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sdl FROM documents),
           |qt AS (SELECT * FROM tok WHERE token IN ($terms)),
           |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY 1, 2),
           |dfr AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY 1),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
           |s AS (SELECT tf.doc_id,
           |      round((ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
           |                / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
           |             * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0)))
           |            / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0)
           |               + 0.75e0 * (CAST(dl AS DOUBLE)
           |                           / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))), 6) AS ts
           |      FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN consts),
           |sc AS (SELECT doc_id, CAST(sum(CAST(ts AS DECIMAL(38,6))) AS DOUBLE) AS score
           |       FROM s GROUP BY doc_id),
           |r AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc),
           |lab AS (SELECT * FROM (SELECT doc_id AS item,
           |        CAST($relSql AS BIGINT) AS rel FROM documents)
           |        WHERE rel > 0),
           |dcgt AS (SELECT CAST(count(*) AS BIGINT) AS n_results,
           |  CAST(sum(CAST(round((pow(2.0e0, CAST(COALESCE(l.rel, 0) AS DOUBLE)) - 1.0e0)
           |    / log2(CAST(r.rank AS DOUBLE) + 1.0e0), 6) AS DECIMAL(38,6))) AS DOUBLE) AS dcg
           |  FROM r LEFT JOIN lab l ON r.doc_id = l.item WHERE r.rank <= 10),
           |ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, item ASC) AS pos FROM lab),
           |idcgt AS (SELECT CAST(sum(CAST(round((pow(2.0e0, CAST(rel AS DOUBLE)) - 1.0e0)
           |  / log2(CAST(pos AS DOUBLE) + 1.0e0), 6) AS DECIMAL(38,6))) AS DOUBLE) AS idcg
           |  FROM ideal WHERE pos <= 10)
           |SELECT 'q0' AS qid, n_results, round(dcg, 6) AS dcg,
           |  round(COALESCE(idcg, 0), 6) AS idcg,
           |  CASE WHEN COALESCE(idcg, 0) > 0 THEN round(dcg / idcg, 6)
           |       ELSE 0.0e0 END AS ndcg
           |FROM dcgt CROSS JOIN idcgt""".stripMargin
      },
      "q183_skew_report" -> // skewReport replayed: ascending rank for the
        // integer target-rank quantiles, descending for the top-10, salt
        // from the same ceil-division
        """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
          |           CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
          |rk AS (SELECT key, cnt, CAST(row_number() OVER (ORDER BY cnt ASC,
          |       key ASC) AS BIGINT) AS rn FROM c),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |        CAST(sum(cnt) AS BIGINT) AS n_rows,
          |        CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
          |q50 AS (SELECT cnt AS p50_cnt FROM rk CROSS JOIN tot
          |        WHERE rn = (n_keys * 50 + 99) // 100),
          |q90 AS (SELECT cnt AS p90_cnt FROM rk CROSS JOIN tot
          |        WHERE rn = (n_keys * 90 + 99) // 100),
          |q99 AS (SELECT cnt AS p99_cnt FROM rk CROSS JOIN tot
          |        WHERE rn = (n_keys * 99 + 99) // 100),
          |st AS (SELECT n_keys, n_rows, max_cnt, p50_cnt, p90_cnt, p99_cnt,
          |       CAST(greatest(1, (max_cnt * 32 + n_rows - 1) // n_rows)
          |         AS BIGINT) AS salt_rec
          |       FROM tot CROSS JOIN q50 CROSS JOIN q90 CROSS JOIN q99),
          |top AS (SELECT key, cnt, CAST(row_number() OVER (ORDER BY cnt DESC,
          |        key ASC) AS BIGINT) AS rank FROM c QUALIFY rank <= 10)
          |SELECT rank, key, cnt,
          |  round(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share,
          |  n_rows, n_keys, p50_cnt, p90_cnt, p99_cnt, max_cnt, salt_rec
          |FROM top CROSS JOIN st ORDER BY rank""".stripMargin,
      "q184_reshard_plan" -> // reshardPlan replayed: the same unit-hash
        // token ring, argmin as a (d, shard) rank window
        s"""WITH r AS (SELECT doc_id AS rid,
           |           ${Sampling.unitHashSql("doc_id")} AS u FROM documents),
           |tk AS (SELECT i % 8 AS shard,
           |              ${Sampling.unitHashSql("(i % 8) * 131071 + i // 8")}
           |                AS pos, 'old' AS era
           |       FROM (SELECT unnest(range(0, 128)) AS i)
           |       UNION ALL
           |       SELECT i % 12,
           |              ${Sampling.unitHashSql("(i % 12) * 131071 + i // 12")},
           |              'new'
           |       FROM (SELECT unnest(range(0, 192)) AS i)),
           |x AS (SELECT rid, era, shard,
           |      CASE WHEN pos >= u THEN pos - u
           |           ELSE pos - u + 1.0e0 END AS d
           |      FROM r CROSS JOIN tk),
           |rk AS (SELECT rid, era, shard, row_number() OVER (
           |       PARTITION BY rid, era ORDER BY d, shard) AS rn FROM x),
           |asg AS (SELECT rid,
           |        max(CASE WHEN era = 'old' AND rn = 1 THEN shard END)
           |          AS old_shard,
           |        max(CASE WHEN era = 'new' AND rn = 1 THEN shard END)
           |          AS new_shard
           |        FROM rk GROUP BY rid),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |      CAST(sum(CASE WHEN rid % 8 <> rid % 12 THEN 1 ELSE 0 END)
           |        AS BIGINT) AS modm,
           |      CAST(sum(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END)
           |        AS BIGINT) AS rngm
           |      FROM asg)
           |SELECT 'mod' AS strategy, n_rows, modm AS n_moved,
           |  round(CAST(modm AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
           |    AS moved_share FROM a
           |UNION ALL
           |SELECT 'ring', n_rows, rngm,
           |  round(CAST(rngm AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) FROM a
           |ORDER BY strategy""".stripMargin,
      "q185_fertility" -> // fertility replayed: space-split words, the q58
        // subword regex, round-6 ratio
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
           |  CAST(sum(len(regexp_extract_all(lower(text),
           |    '${TextAnalysis.SubwordPattern}'))) AS BIGINT) AS subwords,
           |  round(CAST(sum(len(regexp_extract_all(lower(text),
           |      '${TextAnalysis.SubwordPattern}'))) AS DOUBLE)
           |    / CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 6)
           |    AS fertility
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "q186_lsh_plan" -> // lshPlan replayed: divisor splits of 64, midpoint
        // S-curve grid, round-6 terms as DECIMAL sums, min-(err, bands) pick
        """WITH sp AS (SELECT b AS bands, 64 // b AS rows_per_band
          |  FROM (SELECT unnest(range(1, 65)) AS b) WHERE 64 % b = 0),
          |g AS (SELECT bands, rows_per_band,
          |      (CAST(i AS DOUBLE) - 0.5e0) / 100 AS s
          |      FROM sp CROSS JOIN (SELECT unnest(range(1, 101)) AS i)),
          |pt AS (SELECT bands, rows_per_band, s,
          |  round(1.0e0 - pow(1.0e0 - pow(s, CAST(rows_per_band AS DOUBLE)),
          |    CAST(bands AS DOUBLE)), 6) AS p FROM g),
          |ar AS (SELECT bands, rows_per_band,
          |  CAST(sum(CASE WHEN s < 0.35e0 THEN CAST(p AS DECIMAL(38,6))
          |    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) / 100 AS fp_raw,
          |  CAST(sum(CASE WHEN s >= 0.35e0 THEN CAST(1.0e0 - p AS DECIMAL(38,6))
          |    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) / 100 AS fn_raw
          |  FROM pt GROUP BY 1, 2),
          |sc AS (SELECT CAST(bands AS BIGINT) AS bands,
          |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
          |  round(pow(1.0e0 / CAST(bands AS DOUBLE),
          |    1.0e0 / CAST(rows_per_band AS DOUBLE)), 6) AS s50,
          |  round(fp_raw, 6) AS fp_area, round(fn_raw, 6) AS fn_area,
          |  round(fp_raw + fn_raw, 6) AS total_err FROM ar),
          |best AS (SELECT total_err AS best_err, bands AS best_bands
          |         FROM sc ORDER BY total_err, bands LIMIT 1)
          |SELECT bands, rows_per_band, s50, fp_area, fn_area, total_err,
          |  (total_err = best_err AND bands = best_bands) AS chosen
          |FROM sc CROSS JOIN best ORDER BY bands""".stripMargin,
      "q207_ivf_incremental" -> {
        // The q199 incremental==rebuild contract for the vector index:
        // the oracle reads ONLY the stored centroid table (trained on the
        // 90% base) and recomputes the cell assignment for EVERY vector
        // from the embeddings TABLE — never the folded tree the Spark
        // side serves from — so a green hash proves the LSM-folded cells
        // hold exactly what a full re-assignment would produce, each
        // vector once. Assignment ties mirror assignToCentroids'
        // max(struct(cos, cid)): cos DESC then cid DESC; probe-selection
        // ties mirror the probe window: cos DESC then cid ASC.
        val p = sys.props.getOrElse("graft.ivf.path",
          ivfIndexPath("/root/testdata/sf0.01")) + "_inc"
        s"""WITH cent AS (SELECT cid, center FROM read_parquet('$p/centroids/*.parquet')),
           |vec AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |asg AS (SELECT vec_id, emb, cid FROM (
           |    SELECT v.vec_id, v.emb, c.cid,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY ${cosineSql("v.emb", "c.center")} DESC, c.cid DESC) AS arn
           |    FROM vec v CROSS JOIN cent c) _a WHERE arn = 1),
           |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
           |      FROM embeddings WHERE vec_id < 5),
           |probes AS (SELECT q_id, q_emb, cid FROM (
           |    SELECT q.q_id, q.q_emb, c.cid,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${cosineSql("q.q_emb", "c.center")} DESC, c.cid ASC) AS prn
           |    FROM q CROSS JOIN cent c) _p WHERE prn <= 4),
           |scored AS (SELECT p.q_id, a.vec_id, ${cosineSql("p.q_emb", "a.emb")} AS cos
           |           FROM asg a JOIN probes p ON a.cid = p.cid AND p.q_id <> a.vec_id),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |             ORDER BY cos DESC, vec_id ASC) AS rank FROM scored)
           |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM ranked
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      },
      "q208_emb_dedup_gate" -> {
        // Full algorithm mirror of the vector admission gate: the oracle
        // rebuilds the batch (novel + re-delivered + two plant families),
        // recomputes every base vector's stored cell from the centroid
        // parquet (assignment ties cos DESC, cid DESC — the
        // assignToCentroids convention), each batch vector's nprobe=2
        // probe cells (ties cid ASC — the probe-window convention), the
        // cell-local candidate pairs with the 6-decimal cosine verify,
        // the drop-the-higher within-batch rule, and the
        // redelivered > within > index > admitted precedence.
        val p = sys.props.getOrElse("graft.ivf.path",
          ivfIndexPath("/root/testdata/sf0.01")) + "_gate"
        s"""WITH cent AS (SELECT cid, center FROM read_parquet('$p/centroids/*.parquet')),
           |base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           |         WHERE vec_id % 10 <> 0),
           |batch AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id % 10 = 0
           |  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 10 = 1
           |  UNION ALL SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 10 = 3
           |  UNION ALL SELECT vec_id + 200000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 10 = 0),
           |asg AS (SELECT vec_id, emb, cid FROM (
           |    SELECT v.vec_id, v.emb, c.cid,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY ${cosineSql("v.emb", "c.center")} DESC, c.cid DESC) AS arn
           |    FROM base v CROSS JOIN cent c) _a WHERE arn = 1),
           |probes AS (SELECT vec_id, emb, cid FROM (
           |    SELECT b.vec_id, b.emb, c.cid,
           |           row_number() OVER (PARTITION BY b.vec_id
           |             ORDER BY ${cosineSql("b.emb", "c.center")} DESC, c.cid ASC) AS prn
           |    FROM batch b CROSS JOIN cent c) _p WHERE prn <= 2),
           |within AS (SELECT DISTINCT p2.vec_id FROM probes p1
           |           JOIN probes p2 ON p1.cid = p2.cid AND p1.vec_id < p2.vec_id
           |           WHERE ${cosineSql("p1.emb", "p2.emb")} >= 0.95e0),
           |vsidx AS (SELECT DISTINCT p.vec_id FROM probes p
           |          JOIN asg a ON p.cid = a.cid AND p.vec_id <> a.vec_id
           |          WHERE ${cosineSql("p.emb", "a.emb")} >= 0.95e0),
           |re AS (SELECT DISTINCT b.vec_id FROM batch b
           |       JOIN base s ON b.vec_id = s.vec_id)
           |SELECT b.vec_id,
           |  CASE WHEN r.vec_id IS NOT NULL THEN 'redelivered'
           |       WHEN w.vec_id IS NOT NULL THEN 'neardup_within'
           |       WHEN i.vec_id IS NOT NULL THEN 'neardup_index'
           |       ELSE 'admitted' END AS status
           |FROM batch b
           |LEFT JOIN re r ON b.vec_id = r.vec_id
           |LEFT JOIN within w ON b.vec_id = w.vec_id
           |LEFT JOIN vsidx i ON b.vec_id = i.vec_id
           |ORDER BY b.vec_id""".stripMargin
      },
      "q213_repetition" ->
        // both gram tables rebuilt with list_transform over 1-based token
        // indexes, then the identical round-6 ratios and ceilings
        """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts
          |            FROM documents),
          |tk3 AS (SELECT * FROM tk WHERE len(ts) >= 3),
          |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
          |         i -> ts[i] || ' ' || ts[i+1])) AS gram FROM tk3),
          |p2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
          |a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total2,
          |         CAST(count(*) AS BIGINT) AS d2, CAST(max(c) AS BIGINT) AS m2
          |       FROM p2 GROUP BY 1),
          |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
          |         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gram
          |       FROM tk3),
          |p3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
          |a3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total3,
          |         CAST(count(*) AS BIGINT) AS d3 FROM p3 GROUP BY 1),
          |m AS (SELECT a2.doc_id AS doc_id,
          |        CAST(total2 + 1 AS BIGINT) AS n_words,
          |        round(1 - CAST(d2 AS DOUBLE) / CAST(total2 AS DOUBLE), 6)
          |          AS dup2_frac,
          |        round(CAST(m2 AS DOUBLE) / CAST(total2 AS DOUBLE), 6)
          |          AS top2_share,
          |        round(1 - CAST(d3 AS DOUBLE) / CAST(total3 AS DOUBLE), 6)
          |          AS dup3_frac
          |      FROM a2 JOIN a3 ON a3.doc_id = a2.doc_id)
          |SELECT *, (dup2_frac <= 0.05e0 AND top2_share <= 0.05e0
          |           AND dup3_frac <= 0.03e0) AS pass
          |FROM m ORDER BY doc_id""".stripMargin,
      "q212_domain_cap" ->
        // URL rebuild + the same anchored extracts + the cap replayed as a
        // rank window under the identical (n_chars DESC, doc_id ASC) order.
        """WITH u AS (SELECT doc_id, n_chars,
          |  'https://' || source || '-' || CAST(doc_id % 3 AS VARCHAR) ||
          |  '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |  '?ref=' || lang AS url FROM documents),
          |p AS (SELECT doc_id, n_chars,
          |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
          |  regexp_extract(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1),
          |                 '([a-z0-9-]+\.[a-z0-9-]+)$', 1) AS domain,
          |  regexp_extract(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1),
          |                 '\.([a-z0-9-]+)$', 1) AS tld,
          |  regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path
          |  FROM u),
          |r AS (SELECT *, row_number() OVER (PARTITION BY host
          |        ORDER BY n_chars DESC, doc_id ASC) AS rank FROM p)
          |SELECT doc_id, host, domain, tld, path, CAST(rank AS BIGINT) AS rank
          |FROM r WHERE rank <= 2 ORDER BY doc_id""".stripMargin,
      "q211_html_extract" ->
        // The synthHtml template rebuilt with || concatenation, then the
        // six-rule extraction chain replayed in the identical order:
        // script/style/comment spans ((?s), non-greedy, 'g'), tag strip,
        // entity decode with &amp; last, whitespace collapse + trim.
        // Patterns sit in the Java/RE2 common subset by construction.
        """WITH h AS (SELECT doc_id,
          |  '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          |  '</title><style>body{font-size:' || CAST(doc_id % 7 AS VARCHAR) ||
          |  'px}</style><script>var x=' || CAST(doc_id AS VARCHAR) ||
          |  '; if (x < 10) { y = "&amp;"; }</script></head><body>' ||
          |  '<!-- build ' || CAST(doc_id AS VARCHAR) || ' --><nav><a href="/home">' ||
          |  'home</a><a href="/about">about</a></nav><p>' || text ||
          |  ' &amp; entities &lt;b&gt;bold&#39;s&quot;quote&nbsp;end</p>' ||
          |  '<footer>(c) ' || source || '</footer></body></html>' AS html
          |  FROM documents),
          |c AS (SELECT doc_id, html,
          |  trim(regexp_replace(
          |    replace(replace(replace(replace(replace(replace(
          |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
          |        '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          |        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          |        '(?s)<!--.*?-->', ' ', 'g'),
          |        '<[^>]+>', ' ', 'g'),
          |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          |    '\s+', ' ', 'g')) AS clean FROM h)
          |SELECT doc_id, CAST(length(html) AS BIGINT) AS raw_len, clean,
          |  CAST(length(clean) AS BIGINT) AS clean_len
          |FROM c ORDER BY doc_id""".stripMargin,
      "q210_ivfpq_incremental" -> {
        // Incremental == rebuild for the compressed tree: the oracle reads
        // ONLY the stored centroid + codebook tables and re-derives every
        // vector's cell (cos DESC, cid DESC — assignToCentroids) and every
        // (vector, sub) code (squared-L2 expanded to the same three dot
        // products, round-6, ties code ASC — assignCodes' min(struct)),
        // never the folded codes it is checking.
        val p = sys.props.getOrElse("graft.ivfpq.path",
          ivfPqIndexPath("/root/testdata/sf0.01")) + "_inc"
        s"""WITH cent AS (SELECT cid, center::DOUBLE[] AS center
           |              FROM read_parquet('$p/centroids/*.parquet')),
           |books AS (SELECT sub, cid AS code, center::DOUBLE[] AS center
           |          FROM read_parquet('$p/codebooks/*.parquet')),
           |vec AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |asg AS (SELECT vec_id, cid AS cell FROM (
           |    SELECT v.vec_id, c.cid,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY ${cosineSql("v.emb", "c.center")} DESC, c.cid DESC) AS arn
           |    FROM vec v CROSS JOIN cent c) _a WHERE arn = 1),
           |sv AS (SELECT vec_id, s.i AS sub,
           |         emb[CAST(s.i*8+1 AS INTEGER):CAST(s.i*8+8 AS INTEGER)] AS subvec
           |       FROM vec CROSS JOIN range(0, 8) s(i)),
           |codes AS (SELECT vec_id, sub, code FROM (
           |    SELECT sv.vec_id, sv.sub, b.code,
           |           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
           |             ORDER BY round(list_dot_product(sv.subvec, sv.subvec)
           |               - 2 * list_dot_product(sv.subvec, b.center)
           |               + list_dot_product(b.center, b.center), 6) ASC,
           |               b.code ASC) AS rn
           |    FROM sv JOIN books b ON b.sub = sv.sub) _c WHERE rn = 1)
           |SELECT a.vec_id, a.cell, c.sub, c.code
           |FROM asg a JOIN codes c ON a.vec_id = c.vec_id
           |ORDER BY a.vec_id, c.sub""".stripMargin
      },
      "q209_media_gate" -> {
        // Brute-force mirror of the media admission gate: pigeonhole
        // chunk candidates are lossless within maxDist (the q193
        // argument), so the oracle replays the aHash from the pixel
        // fixture and runs plain all-pairs bit_count(xor) for both the
        // within-batch rule (drop the higher id of every pair) and the
        // vs-index rule, plus the id-equality re-delivery gate, under
        // the redelivered > within > index > admitted precedence.
        val p = sys.props.getOrElse("graft.graypx.path",
          grayPixelsPath("/root/testdata/sf0.01")) + "_gate"
        s"""WITH ${grayHashSql(p)},
           |base AS (SELECT doc_id, ahash FROM h WHERE doc_id % 10 <> 0),
           |batch AS (
           |  SELECT doc_id, ahash FROM h WHERE doc_id % 10 = 0
           |  UNION ALL SELECT doc_id, ahash FROM h WHERE doc_id % 10 = 1
           |  UNION ALL SELECT doc_id + 100000, ahash FROM h WHERE doc_id % 10 = 3
           |  UNION ALL SELECT doc_id + 200000, ahash FROM h WHERE doc_id % 10 = 0),
           |within AS (SELECT DISTINCT b2.doc_id FROM batch b1 JOIN batch b2
           |           ON b1.doc_id < b2.doc_id
           |           AND bit_count(xor(b1.ahash, b2.ahash)) <= 6),
           |vsidx AS (SELECT DISTINCT b.doc_id FROM batch b JOIN base s
           |          ON b.doc_id <> s.doc_id
           |          AND bit_count(xor(b.ahash, s.ahash)) <= 6),
           |re AS (SELECT DISTINCT b.doc_id FROM batch b
           |       JOIN base s ON b.doc_id = s.doc_id)
           |SELECT b.doc_id,
           |  CASE WHEN r.doc_id IS NOT NULL THEN 'redelivered'
           |       WHEN w.doc_id IS NOT NULL THEN 'neardup_within'
           |       WHEN i.doc_id IS NOT NULL THEN 'neardup_index'
           |       ELSE 'admitted' END AS status
           |FROM batch b
           |LEFT JOIN re r ON b.doc_id = r.doc_id
           |LEFT JOIN within w ON b.doc_id = w.doc_id
           |LEFT JOIN vsidx i ON b.doc_id = i.doc_id
           |ORDER BY b.doc_id""".stripMargin
      },
      "q206_bt_incremental" -> {
        // btInit(5 MM rounds on the 90% base matches) → btInsert(late 10%,
        // 2 warm rounds) unrolled: phase-1 rounds over the base matchup
        // counts, then the ADDITIVELY merged counts with new items entering
        // at p=1 and settled items carrying their bp5 strength — the warm
        // trajectory, not the cold q179 mirror
        def mmRounds(pre: String, sym: String, it: String): Int => String =
          k => s"""${pre}d$k AS (SELECT $sym.a AS item,
             |  sum(CAST(round(CAST(n AS DOUBLE) / (pa.p + pb.p), 6)
             |      AS DECIMAL(38,6))) AS s
             |  FROM $sym JOIN ${pre}p${k - 1} pa ON pa.item = $sym.a
             |           JOIN ${pre}p${k - 1} pb ON pb.item = $sym.b GROUP BY 1),
             |${pre}p$k AS (SELECT $it.item,
             |  greatest(round(CAST(wins AS DOUBLE) / CAST(s AS DOUBLE), 6),
             |           0.000001e0) AS p
             |  FROM $it JOIN ${pre}d$k ON $it.item = ${pre}d$k.item)""".stripMargin
        val baseRounds = (1 to 5).map(mmRounds("b", "symb", "itb")).mkString(",\n")
        val warmRounds = (1 to 2).map(mmRounds("w", "symm", "itm")).mkString(",\n")
        s"""WITH ev AS (SELECT event_id, event_type, value FROM events),
           |mm AS (SELECT a.event_id,
           |  CASE WHEN (a.value > b.value) OR (a.value = b.value
           |       AND a.event_type < b.event_type)
           |       THEN a.event_type ELSE b.event_type END AS w,
           |  CASE WHEN (a.value > b.value) OR (a.value = b.value
           |       AND a.event_type < b.event_type)
           |       THEN b.event_type ELSE a.event_type END AS l,
           |  (a.event_id % 10 = 0) AS late
           |  FROM ev a JOIN ev b ON b.event_id = a.event_id + 1
           |  WHERE a.event_type <> b.event_type),
           |pcb AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
           |       CAST(count(*) AS BIGINT) AS n FROM mm WHERE NOT late GROUP BY 1, 2),
           |symb AS (SELECT i AS a, j AS b, n FROM pcb
           |        UNION ALL SELECT j, i, n FROM pcb),
           |itbg AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS games
           |          FROM symb GROUP BY 1),
           |wtb AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
           |       FROM mm WHERE NOT late GROUP BY 1),
           |itb AS (SELECT itbg.item, games, COALESCE(wtb.wins, 0) AS wins
           |       FROM itbg LEFT JOIN wtb ON itbg.item = wtb.item),
           |bp0 AS (SELECT item, 1.0e0 AS p FROM itb),
           |$baseRounds,
           |pcm AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
           |       CAST(count(*) AS BIGINT) AS n FROM mm GROUP BY 1, 2),
           |symm AS (SELECT i AS a, j AS b, n FROM pcm
           |        UNION ALL SELECT j, i, n FROM pcm),
           |itmg AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS games
           |          FROM symm GROUP BY 1),
           |wtm AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
           |       FROM mm GROUP BY 1),
           |itm AS (SELECT itmg.item, games, COALESCE(wtm.wins, 0) AS wins
           |       FROM itmg LEFT JOIN wtm ON itmg.item = wtm.item),
           |wp0 AS (SELECT itm.item, COALESCE(bp5.p, 1.0e0) AS p
           |       FROM itm LEFT JOIN bp5 ON itm.item = bp5.item),
           |$warmRounds,
           |tot AS (SELECT sum(CAST(p AS DECIMAL(18,6))) AS tp FROM wp2)
           |SELECT itm.item, wins, games, wp2.p AS strength,
           |       round(wp2.p / CAST(tp AS DOUBLE), 6) AS strength_share
           |FROM itm JOIN wp2 ON itm.item = wp2.item CROSS JOIN tot
           |ORDER BY itm.item""".stripMargin
      },
      "q179_bradley_terry" -> {
        // bradleyTerry unrolled: the same 5 MM rounds, round-6 terms as
        // DECIMAL(38,6) sums, the 1e-6 clamp, share over a decimal total
        val rounds = (1 to 5).map { k =>
          s"""d$k AS (SELECT sym.a AS item,
             |  sum(CAST(round(CAST(n AS DOUBLE) / (pa.p + pb.p), 6)
             |      AS DECIMAL(38,6))) AS s
             |  FROM sym JOIN p${k - 1} pa ON pa.item = sym.a
             |           JOIN p${k - 1} pb ON pb.item = sym.b GROUP BY 1),
             |p$k AS (SELECT it.item,
             |  greatest(round(CAST(wins AS DOUBLE) / CAST(s AS DOUBLE), 6),
             |           0.000001e0) AS p
             |  FROM it JOIN d$k ON it.item = d$k.item)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT event_id, event_type, value FROM events),
           |mm AS (SELECT
           |  CASE WHEN (a.value > b.value) OR (a.value = b.value
           |       AND a.event_type < b.event_type)
           |       THEN a.event_type ELSE b.event_type END AS w,
           |  CASE WHEN (a.value > b.value) OR (a.value = b.value
           |       AND a.event_type < b.event_type)
           |       THEN b.event_type ELSE a.event_type END AS l
           |  FROM ev a JOIN ev b ON b.event_id = a.event_id + 1
           |  WHERE a.event_type <> b.event_type),
           |pc AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
           |       CAST(count(*) AS BIGINT) AS n FROM mm GROUP BY 1, 2),
           |sym AS (SELECT i AS a, j AS b, n FROM pc
           |        UNION ALL SELECT j, i, n FROM pc),
           |items AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS games
           |          FROM sym GROUP BY 1),
           |wt AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
           |       FROM mm GROUP BY 1),
           |it AS (SELECT items.item, games, COALESCE(wt.wins, 0) AS wins
           |       FROM items LEFT JOIN wt ON items.item = wt.item),
           |p0 AS (SELECT item, 1.0e0 AS p FROM it),
           |$rounds,
           |tot AS (SELECT sum(CAST(p AS DECIMAL(18,6))) AS tp FROM p5)
           |SELECT it.item, wins, games, p5.p AS strength,
           |       round(p5.p / CAST(tp AS DOUBLE), 6) AS strength_share
           |FROM it JOIN p5 ON it.item = p5.item CROSS JOIN tot
           |ORDER BY it.item""".stripMargin
      },
      "q180_fs_linkage" -> {
        // fsScore replayed with the SAME plan-time weight literals the
        // operator embeds (computed once here via Linkage.fieldWeights)
        val ws = FsFields.map { case (c, m, u) =>
          val (wa, wd) = Linkage.fieldWeights(m, u)
          (c, wa.toPlainString, wd.toPlainString)
        }
        val scoreSql = ws.map { case (c, wa, wd) =>
          s"(CASE WHEN COALESCE($c, false) THEN CAST($wa AS DECIMAL(18,6)) " +
            s"ELSE CAST($wd AS DECIMAL(18,6)) END)"
        }.mkString(" + ")
        s"""WITH p AS (SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           |  (floor(a.c_acctbal / 1000.0e0) = floor(b.c_acctbal / 1000.0e0))
           |    AS balbucket,
           |  ((a.c_acctbal >= 0) = (b.c_acctbal >= 0)) AS balsign,
           |  (right(a.c_name, 1) = right(b.c_name, 1)) AS name1
           |  FROM customer a JOIN customer b
           |  ON a.c_nationkey = b.c_nationkey
           |     AND a.c_mktsegment = b.c_mktsegment
           |     AND a.c_custkey < b.c_custkey),
           |sc AS (SELECT *, CAST($scoreSql AS DECIMAL(18,6)) AS fs
           |       FROM p)
           |SELECT a_id, b_id, balbucket, balsign, name1,
           |  CAST(fs AS DOUBLE) AS fs_score,
           |  CASE WHEN fs >= 4.0 THEN 'match'
           |       WHEN fs <= 0.0 THEN 'non_match'
           |       ELSE 'possible' END AS fs_class
           |FROM sc ORDER BY a_id, b_id""".stripMargin
      },
      "q181_quantile_norm" -> // quantileNormalize replayed: midpoint ranks,
        // global bucket CDF, EXACT integer cross-product bucket selection,
        // round-6 interpolation
        """WITH r AS (SELECT event_type AS grp, event_id AS rid,
          |  CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
          |rk AS (SELECT grp, rid, v,
          |  CAST(row_number() OVER (PARTITION BY grp ORDER BY v, rid)
          |    AS BIGINT) AS rn,
          |  CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n FROM r),
          |h AS (SELECT CAST(floor(v / 10.0e0) AS BIGINT) AS bucket,
          |      CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1),
          |c AS (SELECT bucket, cnt, CAST(sum(cnt) OVER (ORDER BY bucket
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |      AS cum FROM h),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS bigN FROM r)
          |SELECT rk.rid AS event_id, rk.grp AS event_type, rk.v AS v,
          |  round(CAST(2 * rn - 1 AS DOUBLE) / CAST(2 * n AS DOUBLE), 6)
          |    AS pct,
          |  round(10.0e0 * (CAST(bucket AS DOUBLE)
          |    + CAST((2 * rn - 1) * bigN - (cum - cnt) * 2 * n AS DOUBLE)
          |      / CAST(cnt * 2 * n AS DOUBLE)), 6) AS norm_v
          |FROM rk CROSS JOIN t JOIN c
          |  ON (2 * rn - 1) * bigN >= (cum - cnt) * 2 * n
          | AND (2 * rn - 1) * bigN < cum * 2 * n
          |ORDER BY event_id""".stripMargin,
      "q182_interarrival" -> // interarrivalKs replayed: exact ns gap sums,
        // the same round-6 KS terms and 1.36/sqrt(n) line
        """WITH r AS (SELECT event_type AS key, epoch_ns(ts) AS tsn,
          |  event_id AS rid FROM events),
          |g AS (SELECT key, tsn, rid,
          |  tsn - lag(tsn, 1) OVER (PARTITION BY key ORDER BY tsn, rid)
          |    AS gap FROM r),
          |g2 AS (SELECT * FROM g WHERE gap IS NOT NULL),
          |rk AS (SELECT key, gap,
          |  CAST(row_number() OVER (PARTITION BY key ORDER BY gap, tsn, rid)
          |    AS BIGINT) AS k,
          |  CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS ng,
          |  CAST(sum(gap) OVER (PARTITION BY key) AS BIGINT) AS sg FROM g2),
          |tm AS (SELECT key, ng, sg,
          |  round(greatest(
          |    CAST(k AS DOUBLE) / CAST(ng AS DOUBLE)
          |      - (1.0e0 - exp(-(CAST(ng AS DOUBLE) / CAST(sg AS DOUBLE))
          |          * CAST(gap AS DOUBLE))),
          |    (1.0e0 - exp(-(CAST(ng AS DOUBLE) / CAST(sg AS DOUBLE))
          |          * CAST(gap AS DOUBLE)))
          |      - CAST(k - 1 AS DOUBLE) / CAST(ng AS DOUBLE)), 6) AS term
          |  FROM rk WHERE sg > 0)
          |SELECT key, max(ng) AS n_gaps,
          |  round(CAST(max(ng) AS DOUBLE) / CAST(max(sg) AS DOUBLE)
          |    * 3600000000000.0e0, 6) AS rate_per_hour,
          |  max(term) AS ks_stat,
          |  round(1.36e0 / sqrt(CAST(max(ng) AS DOUBLE)), 6) AS ks_crit,
          |  (max(term) > round(1.36e0 / sqrt(CAST(max(ng) AS DOUBLE)), 6))
          |    AS exp_reject
          |FROM tm GROUP BY key ORDER BY key""".stripMargin,
      "q175_link_predict" -> // linkPrediction replayed over the weak-affinity
        // graph (common >= 2, jaccard < 0.5 — the near-dup graph is clique-
        // structured, no open wedges): canonical edges, degrees, capped
        // apexes, wedge pairs, round-6 decimal Adamic-Adar sums, NOT EXISTS
        // anti-join
        s"""$ngramPairsWith,
           |ed AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |       WHERE common >= 2
           |         AND CAST(common AS DOUBLE) / (a_n + b_n - common) < 0.5e0),
           |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           |        FROM ed WHERE src <> dst),
           |degt AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |         SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
           |adj AS (SELECT apex, nb, degt.deg AS da FROM (
           |          SELECT u AS apex, v AS nb FROM und
           |          UNION ALL SELECT v, u FROM und) a
           |        JOIN degt ON degt.node = a.apex
           |        WHERE degt.deg BETWEEN 2 AND 64),
           |w AS (SELECT a.nb AS u, b.nb AS v, a.da FROM adj a JOIN adj b
           |      ON a.apex = b.apex AND a.nb < b.nb),
           |sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors,
           |       sum(CAST(round(1.0e0 / ln(CAST(da AS DOUBLE)), 6)
           |           AS DECIMAL(38,6))) AS aa
           |       FROM w GROUP BY 1, 2),
           |miss AS (SELECT * FROM sc WHERE NOT EXISTS (
           |         SELECT 1 FROM und WHERE und.u = sc.u AND und.v = sc.v))
           |SELECT m.u, m.v, m.common_neighbors,
           |       CAST(m.aa AS DOUBLE) AS adamic_adar,
           |       round(CAST(m.common_neighbors AS DOUBLE) /
           |         CAST(du.deg + dv.deg - m.common_neighbors AS DOUBLE), 6)
           |         AS jaccard
           |FROM miss m JOIN degt du ON du.node = m.u
           |            JOIN degt dv ON dv.node = m.v
           |ORDER BY m.u, m.v""".stripMargin,
      "q176_readability" -> // readability replayed: single-space tokens,
        // vowel-run + no-vowel-word syllables, [.!?]+ sentences floored
        // at 1, the two fixed-parenthesization round-6 formulas
        """WITH d AS (SELECT doc_id, text, lower(text) AS lt,
          |            string_split(lower(text), ' ') AS toks FROM documents),
          |m AS (SELECT doc_id,
          |  CAST(len(toks) AS BIGINT) AS n_words,
          |  greatest(CAST(1 AS BIGINT),
          |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
          |    AS n_sentences,
          |  CAST(len(regexp_extract_all(lt, '[aeiouy]+')) AS BIGINT)
          |    + CAST(len(toks) AS BIGINT)
          |    - CAST(len(list_filter(toks, w -> regexp_matches(w, '[aeiouy]')))
          |        AS BIGINT) AS n_syllables
          |  FROM d)
          |SELECT doc_id, n_words, n_sentences, n_syllables,
          |  round(0.39e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          |    + 11.8e0 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
          |    - 15.59e0, 6) AS fk_grade,
          |  round(206.835e0
          |    - 1.015e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          |    - 84.6e0 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
          |    6) AS reading_ease
          |FROM m ORDER BY doc_id""".stripMargin,
      "q177_zipf" -> // zipfFit replayed: (cnt desc, word asc) dense ranks,
        // round-6 ln terms as DECIMAL(38,6) sums, the q84 fixed-formula
        // double collapse
        """WITH c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
          |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |  GROUP BY 1),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
          |        CAST(sum(cnt) AS BIGINT) AS n_tokens FROM c),
          |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank,
          |      cnt FROM c QUALIFY rank <= 1000),
          |xy AS (SELECT
          |  CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
          |  CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
          |  FROM r),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |  sum(x) AS sx, sum(y) AS sy,
          |  sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
          |  sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
          |  sum(CAST(y * y AS DECIMAL(38,12))) AS syy FROM xy),
          |f AS (SELECT n,
          |  CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
          |  CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
          |  CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd FROM s)
          |SELECT n_types, n_tokens, n AS fit_n,
          |  round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
          |    AS zipf_slope,
          |  round((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
          |    * sxd) / nd, 6) AS zipf_intercept,
          |  round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
          |    / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6) AS r2
          |FROM tot CROSS JOIN f""".stripMargin,
      "q178_changepoint" -> // changepoint replayed: (ts, event_id) total
        // order, DECIMAL(12,0)x(24,6) products for the exact |n*S_k - k*T|
        // argmax, earliest-ts tie-break, round-6 side means
        """WITH r0 AS (SELECT event_type AS key, epoch_ns(ts) AS tsn,
          |  event_id AS rid, CAST(value AS DECIMAL(18,6)) AS v
          |  FROM events WHERE value IS NOT NULL),
          |cum AS (SELECT key, tsn, v,
          |  CAST(row_number() OVER w AS BIGINT) AS k,
          |  CAST(sum(v) OVER w AS DECIMAL(24,6)) AS s,
          |  CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
          |  CAST(sum(v) OVER (PARTITION BY key) AS DECIMAL(24,6)) AS t
          |  FROM r0 WINDOW w AS (PARTITION BY key ORDER BY tsn, rid
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |dd AS (SELECT *, abs(CAST(CAST(n AS DECIMAL(12,0)) * s
          |  - CAST(k AS DECIMAL(12,0)) * t AS DECIMAL(38,6))) AS d FROM cum),
          |peak AS (SELECT key, max(d) AS maxd FROM dd GROUP BY 1),
          |cp AS (SELECT dd.key, min(tsn) AS cp_ts, max(n) AS n,
          |       max(dd.d) AS maxd
          |       FROM dd JOIN peak ON dd.key = peak.key AND dd.d = peak.maxd
          |       GROUP BY 1),
          |sides AS (SELECT r0.key,
          |  sum(CASE WHEN r0.tsn <= cp.cp_ts THEN r0.v END) AS sb,
          |  CAST(count(CASE WHEN r0.tsn <= cp.cp_ts THEN 1 END) AS BIGINT) AS nb,
          |  sum(CASE WHEN r0.tsn > cp.cp_ts THEN r0.v END) AS sa,
          |  CAST(count(CASE WHEN r0.tsn > cp.cp_ts THEN 1 END) AS BIGINT) AS na
          |  FROM r0 JOIN cp ON r0.key = cp.key GROUP BY 1)
          |SELECT cp.key, cp.n, cp.cp_ts,
          |  round(CAST(cp.maxd AS DOUBLE) / CAST(cp.n AS DOUBLE), 6) AS cusum,
          |  round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS mean_before,
          |  CASE WHEN na > 0 THEN
          |    round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6) END AS mean_after,
          |  CASE WHEN na > 0 THEN
          |    round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
          |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6)
          |  ELSE 0.0e0 END AS shift
          |FROM cp JOIN sides ON cp.key = sides.key ORDER BY cp.key""".stripMargin,
      "q174_dedup_savings" -> // the q53 recursive-CC fixpoint joined back
        // to doc sizes: per-cluster-size counts + non-representative bytes
        s"""${ngramPairsWith.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |pe AS (SELECT a_id, b_id FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |e AS (SELECT a_id AS s, b_id AS d FROM pe
           |      UNION ALL SELECT b_id, a_id FROM pe),
           |nodes AS (SELECT DISTINCT s AS id FROM e),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id),
           |cc AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id),
           |sz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
           |       FROM cc GROUP BY 1),
           |m AS (SELECT cc.doc_id, cc.rep_id, sz.cluster_size, d.n_chars
           |      FROM cc JOIN sz ON cc.rep_id = sz.rep_id
           |      JOIN documents d ON d.doc_id = cc.doc_id)
           |SELECT cluster_size,
           |       CAST(count(DISTINCT rep_id) AS BIGINT) AS n_clusters,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN doc_id <> rep_id THEN n_chars ELSE 0 END)
           |         AS BIGINT) AS bytes_removable
           |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
      "q173_abc" -> // abcAnalysis replayed: DECIMAL(18,2) per-entity sums,
        // deterministic (measure desc, entity asc) running share, the same
        // round-6 thresholds
        """WITH per AS (SELECT CAST(l_partkey AS VARCHAR) AS entity,
          |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS m
          |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
          |t AS (SELECT sum(m) AS t FROM per),
          |c AS (SELECT entity, m, sum(m) OVER (ORDER BY m DESC, entity ASC
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |      FROM per)
          |SELECT entity, CAST(m AS DOUBLE) AS measure,
          |  round(CAST(m AS DOUBLE) / CAST(t AS DOUBLE) * 100.0e0, 6) AS share,
          |  round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) * 100.0e0, 6)
          |    AS cum_share,
          |  CASE WHEN round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) * 100.0e0, 6)
          |         <= 80 THEN 'A'
          |       WHEN round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) * 100.0e0, 6)
          |         <= 95 THEN 'B'
          |       ELSE 'C' END AS abc_class
          |FROM c CROSS JOIN t ORDER BY entity""".stripMargin,
      "q172_profile" -> // numericProfile replayed: melt + one aggregate,
        // raw double min/max, DECIMAL(18,6) mean over non-nulls
        """WITH m AS (
          |  SELECT 'l_quantity' AS col_, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
          |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
          |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
          |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem)
          |SELECT col_ AS "column", CAST(count(*) AS BIGINT) AS n,
          |       CAST(count(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_null,
          |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
          |       min(v) AS min_v, max(v) AS max_v,
          |       round(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
          |         / CAST(count(v) AS DOUBLE), 6) AS mean_v
          |FROM m GROUP BY col_ ORDER BY col_""".stripMargin,
      "q171_corr_matrix" -> // corrMatrix replayed: the round-6-quantized
        // DECIMAL moments (>=19-width products for DuckDB's int128 path),
        // the trendPerGroup correlation formula per pair
        """WITH m AS (
          |  SELECT 'l_quantity~l_extendedprice' AS pair,
          |    CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
          |  FROM lineitem
          |  UNION ALL SELECT 'l_quantity~l_discount',
          |    CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE) FROM lineitem
          |  UNION ALL SELECT 'l_extendedprice~l_discount',
          |    CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE) FROM lineitem),
          |f AS (SELECT pair, x, y FROM m WHERE x IS NOT NULL AND y IS NOT NULL),
          |agg AS (SELECT pair, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(x AS DECIMAL(12,6))) AS DOUBLE) AS sx,
          |    CAST(sum(CAST(y AS DECIMAL(12,6))) AS DOUBLE) AS sy,
          |    CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
          |      AS DOUBLE) AS sxy,
          |    CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
          |      AS DOUBLE) AS sxx,
          |    CAST(sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
          |      AS DOUBLE) AS syy
          |  FROM f GROUP BY pair),
          |g AS (SELECT pair, n, CAST(n AS DOUBLE) AS nd, sx, sy, sxy, sxx, syy,
          |    CAST(n AS DOUBLE) * sxx - sx * sx AS dxx,
          |    CAST(n AS DOUBLE) * syy - sy * sy AS dyy FROM agg WHERE n >= 2)
          |SELECT pair, n,
          |  CASE WHEN round(dxx, 9) = 0.0e0 OR round(dyy, 9) = 0.0e0 THEN 0.0e0
          |       ELSE round((nd * sxy - sx * sy) / sqrt(dxx * dyy), 6)
          |  END AS corr
          |FROM g ORDER BY pair""".stripMargin,
      "q170_join_size" -> { // joinSizeEstimate replayed: both CMS grids via
        // the q67 portable row-hash family over CAST(user_id AS VARCHAR),
        // per-row inner products, min over rows; exact side = the key join
        val ph = polyHashSql("k")
        s"""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
           |           WHERE event_type = 'click' AND user_id IS NOT NULL),
           |b AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
           |      WHERE event_type = 'purchase' AND user_id IS NOT NULL),
           |ah AS (SELECT $ph AS ph FROM a),
           |bh AS (SELECT $ph AS ph FROM b),
           |ac AS (SELECT r.i AS rw,
           |         ((ph * (2*r.i + 3) + r.i) % 2147483647) % 1024 AS bucket
           |       FROM ah CROSS JOIN range(0, 4) r(i)),
           |bc AS (SELECT r.i AS rw,
           |         ((ph * (2*r.i + 3) + r.i) % 2147483647) % 1024 AS bucket
           |       FROM bh CROSS JOIN range(0, 4) r(i)),
           |ga AS (SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
           |       FROM ac GROUP BY 1, 2),
           |gb AS (SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
           |       FROM bc GROUP BY 1, 2),
           |ipm AS (SELECT ga.rw, sum(ga.cnt * gb.cnt) AS ip
           |        FROM ga JOIN gb ON ga.rw = gb.rw AND ga.bucket = gb.bucket
           |        GROUP BY ga.rw),
           |ip AS (SELECT r.i AS rw, coalesce(ip, 0) AS ip
           |       FROM range(0, 4) r(i) LEFT JOIN ipm ON ipm.rw = r.i),
           |es AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM ip),
           |ca AS (SELECT k, CAST(count(*) AS BIGINT) AS na FROM a GROUP BY 1),
           |cb AS (SELECT k, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY 1),
           |ex AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS exact
           |       FROM ca JOIN cb ON ca.k = cb.k)
           |SELECT est, exact,
           |       CASE WHEN exact = 0 THEN NULL
           |            ELSE round(CAST(est - exact AS DOUBLE)
           |                       / CAST(exact AS DOUBLE), 6)
           |       END AS rel_err
           |FROM es CROSS JOIN ex""".stripMargin
      },
      "q169_token_budget" -> // tokenBudgetMixture replayed: exact token
        // sums, broadcast weights, round(budget·w) targets, round-6 epochs
        """WITH t AS (SELECT CAST(source AS VARCHAR) AS source,
          |    CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
          |  FROM documents GROUP BY 1),
          |w AS (SELECT * FROM (VALUES ('src0', 0.4e0), ('src1', 0.3e0),
          |      ('src2', 0.2e0), ('src3', 0.1e0)) v(source, weight))
          |SELECT t.source, n_docs, tokens, weight,
          |       CAST(round(1000000.0e0 * weight, 0) AS BIGINT) AS target_tokens,
          |       round(CAST(CAST(round(1000000.0e0 * weight, 0) AS BIGINT)
          |           AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS epochs
          |FROM t JOIN w ON t.source = w.source ORDER BY t.source""".stripMargin,
      "q167_image_ahash" -> {
        // aHash replayed from the materialized pixel frame: the 8×8
        // point-sample lattice, the strict-integer "64·sample > total"
        // bit rule, and the two's-complement bit-63 weight — everything
        // after the byte decode, exactly the arithmetic the Spark plan
        // evaluates from the same fixture
        val p = sys.props.getOrElse("graft.graypx.path",
          grayPixelsPath("/root/testdata/sf0.01"))
        s"""WITH ${grayHashSql(p)}
           |SELECT px.doc_id, ahash, width, height
           |FROM h JOIN px USING (doc_id) ORDER BY doc_id""".stripMargin
      },
      "q193_image_pairs" -> {
        // the brute-force all-pairs mirror of the pigeonhole chunk join:
        // every pair within 6 bits by bit_count(xor) over the
        // fixture-derived hashes — a green hash proves zero lost pairs
        val p = sys.props.getOrElse("graft.graypx2.path",
          grayPixelsPath("/root/testdata/sf0.01") + "_pairs")
        s"""WITH ${grayHashSql(p)}
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
           |FROM h a JOIN h b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
           |ORDER BY a_id, b_id""".stripMargin
      },
      "q215_ccnet_buckets" -> // the q168 KN CTEs, then the two tertile
        // thresholds as ceil-rank order statistics over nll_kn (the exact
        // double products 1.0/3 and 2.0/3 mirror Stats.exactQuantiles'
        // ceil(p*n) targets bit-for-bit) and the <=-to-the-better-tier rule
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |u AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
          |bg AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
          |       FROM u),
          |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
          |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
          |nf AS (SELECT w1, CAST(count(*) AS BIGINT) AS nf FROM c12 GROUP BY 1),
          |np AS (SELECT w2, CAST(count(*) AS BIGINT) AS np FROM c12 GROUP BY 1),
          |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c12),
          |p AS (SELECT doc_id,
          |      round(ln(greatest(CAST(c12 AS DOUBLE) - 0.75e0, 0.0e0)
          |               / CAST(c1 AS DOUBLE)
          |             + (0.75e0 * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE))
          |               * (CAST(np AS DOUBLE) / CAST(nt AS DOUBLE))), 6) AS lnp
          |      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
          |        JOIN nf USING (w1) JOIN np USING (w2) CROSS JOIN nt),
          |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |        round(-(CAST(sum(CAST(lnp AS DECIMAL(38,6))) AS DOUBLE))
          |              / CAST(count(*) AS DOUBLE), 6) AS nll_kn
          |      FROM p GROUP BY doc_id),
          |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
          |r AS (SELECT nll_kn, row_number() OVER (ORDER BY nll_kn) AS rw FROM m),
          |t1 AS (SELECT r.nll_kn AS v FROM r CROSS JOIN cnt
          |       WHERE r.rw = CAST(ceil((1.0e0 / 3.0e0) * CAST(n AS DOUBLE))
          |                         AS BIGINT)),
          |t2 AS (SELECT r.nll_kn AS v FROM r CROSS JOIN cnt
          |       WHERE r.rw = CAST(ceil((2.0e0 / 3.0e0) * CAST(n AS DOUBLE))
          |                         AS BIGINT))
          |SELECT m.doc_id, m.n_bigrams, m.nll_kn,
          |  CASE WHEN m.nll_kn <= t1.v THEN 'head'
          |       WHEN m.nll_kn <= t2.v THEN 'middle' ELSE 'tail' END AS bucket
          |FROM m CROSS JOIN t1 CROSS JOIN t2 ORDER BY m.doc_id""".stripMargin,
      "q216_proto_prune" -> {
        // Assignment (round-6 cosine argmax, cos DESC / cid DESC tiebreak —
        // assignToCentroids' max(struct) order) and the per-cluster hardest
        // cut (proto ASC, vec_id ASC) replayed from the SAME stored
        // centroid doubles q216 materialized; Verify pins the path.
        val p = sys.props.getOrElse("graft.ivfproto.path",
          ivfProtoIndexPath("/root/testdata/sf0.01"))
        s"""WITH cent AS (SELECT cid, center FROM read_parquet('$p/centroids/*.parquet')),
           |emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |scored AS (SELECT e.vec_id, c.cid,
           |    ${cosineSql("e.emb", "c.center")} AS cos
           |  FROM emb e CROSS JOIN cent c),
           |assigned AS (SELECT vec_id, cid, cos,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY cos DESC, cid DESC) AS arn FROM scored),
           |best AS (SELECT cid, vec_id, cos AS proto FROM assigned WHERE arn = 1),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY cid
           |    ORDER BY proto ASC, vec_id ASC) AS rank FROM best)
           |SELECT cid, vec_id, proto, CAST(rank AS BIGINT) AS rank
           |FROM ranked WHERE rank <= 20 ORDER BY cid, rank""".stripMargin
      },
      "q168_kn_score" -> // kneserNeyNll replayed: the four exact count
        // tables (c12, left totals, distinct successors/predecessors, the
        // bigram-type scalar), the interpolated-KN formula in the identical
        // evaluation order, round-6 ln terms as DECIMAL(38,6)
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |u AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
          |bg AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
          |       FROM u),
          |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
          |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
          |nf AS (SELECT w1, CAST(count(*) AS BIGINT) AS nf FROM c12 GROUP BY 1),
          |np AS (SELECT w2, CAST(count(*) AS BIGINT) AS np FROM c12 GROUP BY 1),
          |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c12),
          |p AS (SELECT doc_id,
          |      round(ln(greatest(CAST(c12 AS DOUBLE) - 0.75e0, 0.0e0)
          |               / CAST(c1 AS DOUBLE)
          |             + (0.75e0 * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE))
          |               * (CAST(np AS DOUBLE) / CAST(nt AS DOUBLE))), 6) AS lnp
          |      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
          |        JOIN nf USING (w1) JOIN np USING (w2) CROSS JOIN nt)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |       round(-(CAST(sum(CAST(lnp AS DECIMAL(38,6))) AS DOUBLE))
          |             / CAST(count(*) AS DOUBLE), 6) AS nll_kn
          |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q166_neyman" -> // neymanAllocation replayed: per-stratum DECIMAL
        // sufficient statistics (the ≥19-width cast keeps DuckDB's decimal
        // multiply off its int64 fast path), fixed σ/weight formulas,
        // round(budget·share) integer allocation
        """WITH m AS (SELECT CAST(source AS VARCHAR) AS stratum,
          |    CAST(count(*) AS BIGINT) AS n,
          |    sum(CAST(n_chars AS DECIMAL(18,6))) AS sv,
          |    sum(CAST(n_chars AS DECIMAL(19,6))
          |        * CAST(n_chars AS DECIMAL(19,6))) AS svv
          |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
          |g AS (SELECT stratum, n,
          |    sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
          |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)) AS sd
          |  FROM m WHERE n >= 2),
          |w AS (SELECT stratum, n, sd,
          |        round(CAST(n AS DOUBLE) * sd, 6) AS w FROM g),
          |t AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS tw FROM w)
          |SELECT stratum, n, round(sd, 6) AS sd, round(w / tw, 6) AS share,
          |       CAST(round(1000.0e0 * (w / tw), 0) AS BIGINT) AS alloc
          |FROM w CROSS JOIN t WHERE tw > 0.0e0 ORDER BY stratum""".stripMargin,
      "q165_seasonal_anomaly" -> // seasonalAnomaly replayed: (type, hod)
        // DECIMAL baseline moments, one fixed mean/σ formula, 3σ filter
        """WITH r AS (SELECT event_id, event_type AS key,
          |    (epoch_ns(ts) // 3600000000000) % 24 AS hod,
          |    CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
          |b AS (SELECT key, hod, CAST(count(*) AS BIGINT) AS n,
          |    sum(CAST(v AS DECIMAL(18,6))) AS sv,
          |    sum(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6))) AS svv
          |  FROM r GROUP BY 1, 2),
          |g AS (SELECT key, hod, n,
          |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS m,
          |    sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
          |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)) AS sd
          |  FROM b WHERE n >= 5)
          |SELECT r.event_id, r.key, r.hod, v, round(m, 6) AS mean,
          |       round(sd, 6) AS sd, round((v - m) / sd, 6) AS z
          |FROM r JOIN g ON r.key = g.key AND r.hod = g.hod
          |WHERE sd > 1e-9 AND abs(v - m) > 3.0e0 * sd
          |ORDER BY r.event_id""".stripMargin,
      "q164_retention_fit" -> // retentionHalfLife replayed: the cohort
        // construction (distinct day buckets, min = cohort), per-offset
        // totals, round-6 ln shares as DECIMAL(18,6), the trend formulas
        """WITH b AS (SELECT DISTINCT user_id,
          |    epoch_ns(ts) // 86400000000000 AS bk FROM events),
          |c AS (SELECT user_id, min(bk) AS cohort FROM b GROUP BY 1),
          |r AS (SELECT cohort, bk - cohort AS ofs,
          |    CAST(count(*) AS BIGINT) AS n_users
          |  FROM b JOIN c USING (user_id) GROUP BY 1, 2),
          |po AS (SELECT ofs, sum(n_users) AS active FROM r
          |       WHERE ofs <= 10 GROUP BY 1),
          |ba AS (SELECT active AS base FROM po WHERE ofs = 0),
          |pt AS (SELECT CAST(ofs AS DECIMAL(10,0)) AS x,
          |    CAST(round(ln(CAST(active AS DOUBLE) / CAST(base AS DOUBLE)), 6)
          |      AS DECIMAL(18,6)) AS y FROM po CROSS JOIN ba),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
          |    CAST(sum(x * y) AS DOUBLE) AS sxy,
          |    CAST(sum(x * x) AS DOUBLE) AS sxx FROM pt),
          |f AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx, sy, sxy, sxx,
          |    CAST(n AS DOUBLE) * sxx - sx * sx AS dxx FROM m)
          |SELECT n AS n_offsets,
          |  round((nd * sxy - sx * sy) / dxx, 6) AS slope,
          |  round((sy - ((nd * sxy - sx * sy) / dxx) * sx) / nd, 6) AS intercept,
          |  round(-ln(2.0e0) / ((nd * sxy - sx * sy) / dxx), 6)
          |    AS half_life_buckets
          |FROM f WHERE n >= 2 AND round(dxx, 9) <> 0.0e0
          |  AND round((nd * sxy - sx * sy) / dxx, 6) < 0.0e0""".stripMargin,
      "q163_user_paths" -> // pathNgrams replayed: per-user lead windows
        // with the (ts, id) tie order, bounded global top-10
        """WITH s AS (SELECT user_id, event_type AS t0, epoch_ns(ts) AS tsn,
          |           event_id FROM events),
          |ld AS (SELECT t0, lead(t0, 1) OVER w AS t1, lead(t0, 2) OVER w AS t2
          |       FROM s WINDOW w AS (PARTITION BY user_id
          |                           ORDER BY tsn ASC, event_id ASC))
          |SELECT concat_ws('>', t0, t1, t2) AS path,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM ld WHERE t1 IS NOT NULL AND t2 IS NOT NULL
          |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 10""".stripMargin,
      "q162_time_to_convert" -> // timeToConvert replayed with a plain
        // global rank (the q138 argument: the k-th smallest is
        // bucket-independent, so this proves the two-pass selection exact)
        """WITH st AS (SELECT user_id AS unit, min(epoch_ns(ts)) AS t0
          |           FROM events WHERE event_type = 'signup' GROUP BY 1),
          |cv AS (SELECT e.user_id AS unit, min(epoch_ns(e.ts) - t0) AS dt
          |       FROM events e JOIN st ON e.user_id = st.unit
          |       WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > t0
          |       GROUP BY 1),
          |hrs AS (SELECT CAST(dt // 3600000000000 AS DOUBLE) AS hours FROM cv),
          |cnt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_start,
          |               (SELECT CAST(count(*) AS BIGINT) FROM hrs) AS n_converted),
          |r AS (SELECT hours, row_number() OVER (ORDER BY hours) AS rk FROM hrs)
          |SELECT t.p, CAST(ceil(t.p * n_converted) AS BIGINT) AS rank,
          |       r.hours, n_start, n_converted,
          |       round(CAST(n_converted AS DOUBLE) / CAST(n_start AS DOUBLE), 6)
          |         AS cvr
          |FROM (VALUES (0.5e0), (0.9e0)) t(p) CROSS JOIN cnt
          |JOIN r ON r.rk = CAST(ceil(t.p * n_converted) AS BIGINT)
          |ORDER BY t.p""".stripMargin,
      "q161_label_noise" -> {
        // the q103 NB mirror trained on the WHOLE corpus (lang labels),
        // scores for every (doc, label), argmax vs the stored tag, round-6
        // margin; only confident disagreements survive
        val slot = s"(${polyHashSql("tok")} % 512)"
        s"""WITH tr AS (SELECT doc_id, lang AS label, text FROM documents),
           |trt AS (SELECT label, $slot AS slot FROM (
           |         SELECT label, unnest(string_split(text, ' ')) AS tok FROM tr)),
           |ct AS (SELECT label, slot, count(*) AS ct FROM trt GROUP BY 1, 2),
           |tot AS (SELECT label, count(*) AS total FROM trt GROUP BY 1),
           |nd AS (SELECT label, count(*) AS n_docs FROM tr GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM tr),
           |grid AS (SELECT tot.label, total, n_docs, gs.slot
           |         FROM tot JOIN nd USING (label)
           |         CROSS JOIN (SELECT unnest(range(0, 512)) AS slot) gs),
           |model AS (SELECT grid.label, grid.slot,
           |            CAST(round(ln((COALESCE(ct.ct, 0) + 1.0e0)
           |                          / (grid.total + 512.0e0)), 6)
           |                 AS DECIMAL(38,6)) AS lp,
           |            CAST(round(ln(grid.n_docs / CAST(n.n AS DOUBLE)), 6)
           |                 AS DECIMAL(38,6)) AS prior
           |          FROM grid LEFT JOIN ct
           |            ON ct.label = grid.label AND ct.slot = grid.slot
           |          CROSS JOIN n),
           |tet AS (SELECT doc_id, $slot AS slot FROM (
           |         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM tr)),
           |sc AS (SELECT doc_id, label,
           |         CAST(min(prior) + sum(lp) AS DOUBLE) AS logp
           |       FROM tet JOIN model USING (slot) GROUP BY 1, 2),
           |best AS (SELECT doc_id, label AS pred, logp AS logp_pred FROM (
           |          SELECT doc_id, label, logp, row_number() OVER (
           |            PARTITION BY doc_id ORDER BY logp DESC, label) AS rn
           |          FROM sc) WHERE rn = 1),
           |own AS (SELECT sc.doc_id, tr.label AS actual, logp AS logp_actual
           |        FROM sc JOIN tr ON sc.doc_id = tr.doc_id
           |          AND sc.label = tr.label)
           |SELECT best.doc_id, actual, pred, logp_pred, logp_actual,
           |       round(logp_pred - logp_actual, 6) AS margin
           |FROM best JOIN own ON best.doc_id = own.doc_id
           |WHERE pred <> actual ORDER BY margin DESC, best.doc_id""".stripMargin
      },
      "q160_srm" -> // srmCheck replayed: distinct-user arm counts vs the
        // design shares, round-6 terms summed as DECIMAL(38,6)
        """WITH a AS (SELECT DISTINCT user_id FROM events),
          |obs AS (SELECT CAST(user_id % 3 AS VARCHAR) AS arm,
          |          CAST(count(*) AS BIGINT) AS o FROM a GROUP BY 1),
          |ex AS (SELECT arm, 1.0e0 / 3.0e0 AS p
          |       FROM (VALUES ('0'), ('1'), ('2')) t(arm)),
          |tot AS (SELECT sum(o) AS n FROM obs),
          |terms AS (SELECT ex.arm, coalesce(o, 0) AS o, p, n,
          |    round((CAST(coalesce(o, 0) AS DOUBLE) - CAST(n AS DOUBLE) * p)
          |      * (CAST(coalesce(o, 0) AS DOUBLE) - CAST(n AS DOUBLE) * p)
          |      / (CAST(n AS DOUBLE) * p), 6) AS term
          |  FROM ex LEFT JOIN obs ON ex.arm = obs.arm CROSS JOIN tot),
          |agg AS (SELECT CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE)
          |          AS chi2raw, CAST(count(*) AS BIGINT) AS k, max(n) AS n
          |        FROM terms)
          |SELECT round(chi2raw, 6) AS chi2, k - 1 AS dof, CAST(n AS BIGINT) AS n,
          |       CAST(0 AS BIGINT) AS unexpected_arms,
          |       round(chi2raw, 6) > 5.991465e0 AS suspect FROM agg""".stripMargin,
      "q159_gini" -> // giniPerGroup replayed: per-user DECIMAL totals,
        // rank-sum formula (tie order cannot move the sum), round-6
        """WITH per AS (SELECT event_type AS grp, user_id,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |rk AS (SELECT grp, x, row_number() OVER (PARTITION BY grp
          |         ORDER BY x ASC) AS r FROM per WHERE x >= 0),
          |agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
          |          sum(x * r) AS srx FROM rk GROUP BY grp)
          |SELECT grp, n, round(CAST(sx AS DOUBLE), 6) AS total,
          |       round((2.0e0 * CAST(srx AS DOUBLE))
          |           / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
          |         - (CAST(n AS DOUBLE) + 1.0e0) / CAST(n AS DOUBLE), 6) AS gini
          |FROM agg WHERE CAST(sx AS DOUBLE) > 0.0e0 ORDER BY grp""".stripMargin,
      "q158_did" -> // diffInDiff replayed: the 2x2 conditional aggregate
        // (DECIMAL sums, integer counts), means and the interaction effect
        // in the identical evaluation order
        """WITH r AS (SELECT (user_id % 2 = 0) AS t,
          |    (epoch_ns(ts) < 1705363200000000000) AS pre,
          |    CAST(value AS DECIMAL(18,6)) AS v
          |  FROM events WHERE value IS NOT NULL),
          |m AS (SELECT
          |    sum(CASE WHEN NOT t AND pre THEN v END) AS s_c_pre,
          |    count(CASE WHEN NOT t AND pre THEN 1 END) AS n_c_pre,
          |    sum(CASE WHEN NOT t AND NOT pre THEN v END) AS s_c_post,
          |    count(CASE WHEN NOT t AND NOT pre THEN 1 END) AS n_c_post,
          |    sum(CASE WHEN t AND pre THEN v END) AS s_t_pre,
          |    count(CASE WHEN t AND pre THEN 1 END) AS n_t_pre,
          |    sum(CASE WHEN t AND NOT pre THEN v END) AS s_t_post,
          |    count(CASE WHEN t AND NOT pre THEN 1 END) AS n_t_post
          |  FROM r)
          |SELECT
          |  round(CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE), 6)
          |    AS mean_c_pre,
          |  round(CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE), 6)
          |    AS mean_c_post,
          |  round(CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE), 6)
          |    AS mean_t_pre,
          |  round(CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE), 6)
          |    AS mean_t_post,
          |  round((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
          |      - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
          |    - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
          |      - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)), 6)
          |    AS did_effect
          |FROM m""".stripMargin,
      "q157_cuped" -> // cuped replayed: per-unit (x, y) DECIMAL(18,6)
        // rollup with zero imputation, five cross-moments, the identical
        // theta / variance formulas
        """WITH pu AS (SELECT user_id AS unit,
          |    CAST(coalesce(sum(CASE WHEN epoch_ns(ts) < 1705363200000000000
          |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(18,6)) AS x,
          |    CAST(coalesce(sum(CASE WHEN epoch_ns(ts) >= 1705363200000000000
          |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(18,6)) AS y
          |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
          |w AS (SELECT CAST(x AS DECIMAL(19,6)) AS x,
          |             CAST(y AS DECIMAL(19,6)) AS y FROM pu),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
          |    CAST(sum(x * y) AS DOUBLE) AS sxy,
          |    CAST(sum(x * x) AS DOUBLE) AS sxx,
          |    CAST(sum(y * y) AS DOUBLE) AS syy FROM w),
          |f AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx, sy, sxy, sxx, syy,
          |    CAST(n AS DOUBLE) * sxx - sx * sx AS dxx FROM m)
          |SELECT n,
          |  round((nd * sxy - sx * sy) / dxx, 6) AS theta,
          |  round((nd * syy - sy * sy) / (nd * (nd - 1.0e0)), 6) AS var_y,
          |  round((nd * syy - sy * sy) / (nd * (nd - 1.0e0))
          |    - ((nd * sxy - sx * sy) / dxx) * ((nd * sxy - sx * sy) / dxx)
          |      * (dxx / (nd * (nd - 1.0e0))), 6) AS var_yadj,
          |  round(((nd * syy - sy * sy) / (nd * (nd - 1.0e0))
          |    - ((nd * syy - sy * sy) / (nd * (nd - 1.0e0))
          |      - ((nd * sxy - sx * sy) / dxx) * ((nd * sxy - sx * sy) / dxx)
          |        * (dxx / (nd * (nd - 1.0e0)))))
          |    / ((nd * syy - sy * sy) / (nd * (nd - 1.0e0))) * 100.0e0, 6)
          |    AS var_reduction_pct
          |FROM f WHERE n >= 2 AND round(dxx, 9) <> 0.0e0""".stripMargin,
      "q156_winsorize" -> // winsorizedMeans replayed: exact ceil-rank
        // bounds from a per-group window, DECIMAL(18,6) raw/clipped sums
        """WITH r AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
          |           FROM events WHERE value IS NOT NULL),
          |rk AS (SELECT grp, v, row_number() OVER (PARTITION BY grp
          |         ORDER BY v ASC) AS rn FROM r),
          |cn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY grp),
          |tg AS (SELECT grp, n, (n * 5 + 99) // 100 AS t_lo,
          |         (n * 95 + 99) // 100 AS t_hi FROM cn),
          |bd AS (SELECT rk.grp, min(v) AS lo, max(v) AS hi
          |       FROM rk JOIN tg ON rk.grp = tg.grp
          |       WHERE rn = t_lo OR rn = t_hi GROUP BY rk.grp)
          |SELECT r.grp, CAST(count(*) AS BIGINT) AS n, min(lo) AS lo,
          |       min(hi) AS hi,
          |       round(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
          |         / CAST(count(*) AS DOUBLE), 6) AS mean_raw,
          |       round(CAST(sum(CAST(least(greatest(v, lo), hi)
          |           AS DECIMAL(18,6))) AS DOUBLE)
          |         / CAST(count(*) AS DOUBLE), 6) AS mean_winsorized
          |FROM r JOIN bd ON r.grp = bd.grp GROUP BY r.grp
          |ORDER BY r.grp""".stripMargin,
      "q155_attribution" -> // attribution replayed: per-unit time-range
        // pairing, per-conversion k and last-touch windows with the same
        // tie order, DECIMAL(28,9) linear credits, "(none)" bucket via
        // NOT EXISTS
        """WITH conv AS (SELECT user_id AS unit, epoch_ns(ts) AS cts,
          |    event_id AS cid FROM events WHERE event_type = 'purchase'),
          |tch AS (SELECT user_id AS unit, event_type AS channel,
          |    epoch_ns(ts) AS tts, event_id AS tid FROM events
          |  WHERE event_type IN ('click', 'view')),
          |pr AS (SELECT cid, channel, tts, tid
          |       FROM conv JOIN tch ON conv.unit = tch.unit
          |       WHERE tts < cts AND tts >= cts - 259200000000000),
          |cr AS (SELECT cid, channel,
          |         count(*) OVER (PARTITION BY cid) AS k,
          |         row_number() OVER (PARTITION BY cid
          |           ORDER BY tts DESC, tid DESC) AS rn FROM pr),
          |pc AS (SELECT channel,
          |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS conv_last,
          |    CAST(sum(CAST(round(1.0e0 / k, 9) AS DECIMAL(28,9))) AS DOUBLE)
          |      AS credit_linear,
          |    CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions_touched
          |  FROM cr GROUP BY channel),
          |orp AS (SELECT CAST(count(*) AS BIGINT) AS c FROM conv
          |        WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.cid = conv.cid))
          |SELECT channel, conv_last, round(credit_linear, 6) AS credit_linear,
          |       n_conversions_touched FROM pc
          |UNION ALL
          |SELECT '(none)', c, round(CAST(c AS DOUBLE), 6), c FROM orp WHERE c > 0
          |ORDER BY channel""".stripMargin,
      "q154_emb_outliers" -> {
        // centroidOutliers replayed off the SAME stored cell layout (q42's
        // read pattern, "_out" sibling path): cosine-to-own-centroid via
        // the identical sequential-fold cosine, exact per-cell ceil-rank
        // threshold, same tie order
        val p = sys.props.getOrElse("graft.ivf.path",
          ivfIndexPath("/root/testdata/sf0.01")) + "_out"
        s"""WITH cent AS (SELECT CAST(cid AS BIGINT) AS cid, center
           |              FROM read_parquet('$p/centroids/*.parquet')),
           |v AS (SELECT CAST(cid AS BIGINT) AS cid, vec_id, embedding::DOUBLE[] AS emb
           |      FROM read_parquet('$p/vectors/*/*.parquet', hive_partitioning=1)),
           |sc AS (SELECT v.vec_id, v.cid, ${cosineSql("v.emb", "cent.center")} AS ccos
           |       FROM v JOIN cent ON v.cid = cent.cid),
           |cn AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY cid),
           |rk AS (SELECT sc.cid, ccos,
           |         row_number() OVER (PARTITION BY sc.cid
           |           ORDER BY ccos ASC, vec_id ASC) AS rn,
           |         (n * 5 + 99) // 100 AS target
           |       FROM sc JOIN cn ON sc.cid = cn.cid),
           |thr AS (SELECT cid, ccos AS thr FROM rk WHERE rn = target)
           |SELECT sc.vec_id, sc.cid, sc.ccos, thr.thr, sc.ccos < thr.thr AS outlier
           |FROM sc JOIN thr ON sc.cid = thr.cid ORDER BY sc.vec_id""".stripMargin
      },
      "q153_conformal" -> {
        // conformalReport replayed: the deterministic unit-hash split, the
        // round-6 residuals, the exact conformal rank pick (ties by id),
        // and the held-out coverage — every formula textually parallel
        val u = graft.operators.Sampling.unitHashSql("id")
        s"""WITH r AS (SELECT event_type AS grp, event_id AS id,
           |             CAST(value AS DOUBLE) AS v
           |           FROM events WHERE value IS NOT NULL),
           |sp AS (SELECT grp, id, v, ($u < 0.5e0) AS cal FROM r),
           |model AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_cal,
           |    round(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
           |      / CAST(count(*) AS DOUBLE), 6) AS mean_cal
           |  FROM sp WHERE cal GROUP BY grp),
           |mt AS (SELECT grp, n_cal, mean_cal,
           |    least(n_cal, ((n_cal + 1) * 90 + 99) // 100) AS target FROM model),
           |cr AS (SELECT sp.grp, id, round(abs(v - mean_cal), 6) AS res
           |       FROM sp JOIN mt ON sp.grp = mt.grp WHERE cal),
           |rk AS (SELECT cr.grp, res, row_number() OVER (PARTITION BY cr.grp
           |         ORDER BY res ASC, id ASC) AS rn, target
           |       FROM cr JOIN mt ON cr.grp = mt.grp),
           |qh AS (SELECT grp, res AS qhat FROM rk WHERE rn = target),
           |test AS (SELECT sp.grp, CAST(count(*) AS BIGINT) AS n_test,
           |    CAST(sum(CASE WHEN round(abs(v - mean_cal), 6) <= qhat
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
           |  FROM sp JOIN mt ON sp.grp = mt.grp JOIN qh ON sp.grp = qh.grp
           |  WHERE NOT cal GROUP BY sp.grp)
           |SELECT mt.grp, n_cal, n_test, mean_cal, qhat,
           |       round(CAST(n_cov AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS coverage
           |FROM mt JOIN qh ON mt.grp = qh.grp JOIN test ON mt.grp = test.grp
           |ORDER BY mt.grp""".stripMargin
      },
      "q152_sq8" -> // sq8Report replayed: per-dim min/max params, the same
        // affine code/dequantize double formulas, DECIMAL(38,12) error sums
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          |d64 AS (SELECT unnest(range(0, 64)) AS i),
          |rws AS (SELECT vec_id, i, emb[i + 1] AS x FROM e CROSS JOIN d64),
          |par AS (SELECT i, min(x) AS lo, max(x) AS hi FROM rws GROUP BY i),
          |q AS (SELECT rws.i, lo, hi, x,
          |        CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
          |             ELSE CAST(round((x - lo) / (hi - lo) * 255.0e0, 0) AS BIGINT)
          |        END AS code
          |      FROM rws JOIN par ON rws.i = par.i),
          |v AS (SELECT i, lo, hi, x,
          |        lo + CAST(code AS DOUBLE) / 255.0e0 * (hi - lo) AS dq FROM q)
          |SELECT CAST(i AS BIGINT) AS i, min(lo) AS lo, min(hi) AS hi,
          |       round(CAST(sum(CAST(round((x - dq) * (x - dq), 12)
          |               AS DECIMAL(38,12))) AS DOUBLE)
          |         / CAST(count(*) AS DOUBLE), 9) AS mse,
          |       max(round(abs(x - dq), 9)) AS max_err
          |FROM v GROUP BY i ORDER BY i""".stripMargin,
      "q151_textrank" -> {
        // textRankKeywords replayed: the filtered token sequence, window-2
        // co-occurrence edges (lead over surviving positions), symmetrize,
        // then the q69 fixed-point integer PageRank CTEs, joined back to
        // words via the same polynomial hash
        val stop = graft.operators.TextAnalysis.Stopwords
          .map(w => s"'$w'").mkString("(", ", ", ")")
        val iterCtes = (1 to 5).map { k =>
          s"""r$k AS (SELECT e.dst AS node, d.deg,
             |  CAST((15 * 1000000000000000) // (100 * n.n)
             |       + (85 * sum(p.ru // p.deg)) // 100 AS BIGINT) AS ru
             |  FROM e JOIN r${k - 1} p ON e.src = p.node
             |         JOIN deg d ON e.dst = d.node CROSS JOIN n
             |  GROUP BY e.dst, d.deg, n.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH tkn AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |t0 AS (SELECT doc_id, unnest([struct_pack(p := i - 1, tok := toks[i])
           |                              for i in range(1, len(toks) + 1)]) AS s FROM tkn),
           |tok AS (SELECT doc_id, s.p AS pos, s.tok AS tok FROM t0
           |        WHERE length(s.tok) >= 3 AND s.tok NOT IN $stop),
           |ld AS (SELECT doc_id, tok,
           |         lead(tok, 1) OVER w AS n1, lead(tok, 2) OVER w AS n2
           |       FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
           |pe AS (SELECT ${polyHashSql("tok")} AS src, ${polyHashSql("n1")} AS dst
           |         FROM ld WHERE n1 IS NOT NULL AND n1 <> tok
           |       UNION ALL
           |       SELECT ${polyHashSql("tok")}, ${polyHashSql("n2")}
           |         FROM ld WHERE n2 IS NOT NULL AND n2 <> tok),
           |e0 AS (SELECT DISTINCT src, dst FROM pe),
           |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT node, deg, CAST(1000000000000000 // n.n AS BIGINT) AS ru
           |       FROM deg CROSS JOIN n),
           |$iterCtes,
           |wrd AS (SELECT DISTINCT tok AS word FROM tok),
           |wn AS (SELECT word, ${polyHashSql("word")} AS node FROM wrd)
           |SELECT word, deg, CAST(ru AS DOUBLE) / 1.0e15 AS rank
           |FROM r5 JOIN wn ON r5.node = wn.node
           |ORDER BY rank DESC, word ASC LIMIT 20""".stripMargin
      },
      "q150_markov" -> // markovTransitions replayed: per-user lead window
        // with the same (ts, event_id) tie order, "(end)" absorbing state,
        // row-normalized round-6 probabilities
        """WITH p AS (SELECT user_id, event_type AS from_state,
          |  coalesce(lead(event_type, 1) OVER (PARTITION BY user_id
          |    ORDER BY epoch_ns(ts) ASC, event_id ASC), '(end)') AS to_state
          |  FROM events),
          |c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
          |      FROM p GROUP BY 1, 2),
          |rt AS (SELECT from_state, sum(n) AS tot FROM c GROUP BY 1)
          |SELECT c.from_state, to_state, n,
          |       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
          |FROM c JOIN rt ON c.from_state = rt.from_state
          |ORDER BY c.from_state, to_state""".stripMargin,
      "q149_trending" -> // decayedTopK replayed: corpus-max asOf, integer
        // hour quantization (floor div of ns), round-6 pow weights summed
        // as DECIMAL(38,6), per-group rank by (score desc, item asc)
        """WITH ao AS (SELECT max(epoch_ns(ts)) AS a FROM events),
          |s AS (SELECT event_type AS g, user_id AS item,
          |        round(pow(0.5e0, CAST((a - epoch_ns(ts)) // 3600000000000 AS DOUBLE)
          |          / 168.0e0), 6) AS wt
          |      FROM events CROSS JOIN ao),
          |sc AS (SELECT g, item,
          |         CAST(sum(CAST(wt AS DECIMAL(38,6))) AS DOUBLE) AS score
          |       FROM s GROUP BY g, item),
          |rk AS (SELECT g, item, score, row_number() OVER (PARTITION BY g
          |         ORDER BY score DESC, item ASC) AS rank FROM sc)
          |SELECT g AS event_type, item AS user_id, round(score, 6) AS score,
          |       CAST(rank AS BIGINT) AS rank
          |FROM rk WHERE rank <= 10 ORDER BY event_type, rank""".stripMargin,
      "q148_benford" -> // benfordReport replayed: integer-cents leading
        // digit (integer-to-string is the portable move), dense 1..9 grid,
        // round-6 shares vs log10(1 + 1/d)
        """WITH obs AS (SELECT CAST(l_returnflag AS VARCHAR) AS grp,
          |    CAST(substr(CAST(CAST(round(l_extendedprice * 100.0e0, 0) AS BIGINT)
          |      AS VARCHAR), 1, 1) AS INT) AS digit
          |  FROM lineitem
          |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0.0e0),
          |c AS (SELECT grp, digit, CAST(count(*) AS BIGINT) AS ct
          |      FROM obs GROUP BY 1, 2),
          |tot AS (SELECT grp, sum(ct) AS tot FROM c GROUP BY 1),
          |grid AS (SELECT grp, tot, CAST(d.d AS INT) AS digit
          |         FROM tot CROSS JOIN (SELECT unnest(range(1, 10)) AS d) d)
          |SELECT g.grp, g.digit, coalesce(ct, CAST(0 AS BIGINT)) AS n,
          |       round(CAST(coalesce(ct, 0) AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
          |       round(log10(1.0e0 + 1.0e0 / CAST(g.digit AS DOUBLE)), 6) AS expected,
          |       round(round(CAST(coalesce(ct, 0) AS DOUBLE) / CAST(tot AS DOUBLE), 6)
          |         - round(log10(1.0e0 + 1.0e0 / CAST(g.digit AS DOUBLE)), 6), 6) AS dev
          |FROM grid g LEFT JOIN c ON g.grp = c.grp AND g.digit = c.digit
          |ORDER BY g.grp, g.digit""".stripMargin,
      "q147_chi2" -> // chiSquareIndependence replayed: exact cell counts,
        // expected from double margins, round-6 terms summed as
        // DECIMAL(38,6); Cramér's V off the UNROUNDED chi2 like the Spark
        // select
        """WITH cells AS (SELECT CAST(source AS VARCHAR) AS r,
          |    CAST(lang AS VARCHAR) AS c, CAST(count(*) AS BIGINT) AS o
          |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          |  GROUP BY 1, 2),
          |rt AS (SELECT r, sum(o) AS rt FROM cells GROUP BY 1),
          |ct AS (SELECT c, sum(o) AS ct FROM cells GROUP BY 1),
          |tot AS (SELECT sum(o) AS nn FROM cells),
          |terms AS (SELECT cells.r, cells.c, o, nn,
          |    round((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
          |        / CAST(nn AS DOUBLE))
          |      * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
          |        / CAST(nn AS DOUBLE))
          |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
          |      AS term
          |  FROM cells JOIN rt ON cells.r = rt.r JOIN ct ON cells.c = ct.c
          |  CROSS JOIN tot),
          |agg AS (SELECT CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE) AS chi2,
          |    CAST(count(DISTINCT r) - 1 AS BIGINT) AS dof_r,
          |    CAST(count(DISTINCT c) - 1 AS BIGINT) AS dof_c,
          |    max(nn) AS n FROM terms)
          |SELECT round(chi2, 6) AS chi2, dof_r * dof_c AS dof,
          |       CAST(n AS BIGINT) AS n,
          |       round(sqrt(chi2 / (CAST(n AS DOUBLE)
          |         * CAST(least(dof_r, dof_c) AS DOUBLE))), 6) AS cramers_v
          |FROM agg""".stripMargin,
      "q146_welch" -> // welchTTest replayed: per-arm DECIMAL(18,6)
        // sufficient statistics, the identical variance / t / Satterthwaite
        // formulas in the identical evaluation order
        """WITH r AS (SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS v
          |  FROM events WHERE event_type IN ('click', 'purchase')
          |    AND value IS NOT NULL),
          |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(v) AS sv,
          |    sum(v * v) AS svv FROM r GROUP BY g),
          |a AS (SELECT g AS group_a, n AS n_a, sv AS sv_a, svv AS svv_a
          |      FROM agg ORDER BY g ASC LIMIT 1),
          |b AS (SELECT g AS group_b, n AS n_b, sv AS sv_b, svv AS svv_b
          |      FROM agg ORDER BY g DESC LIMIT 1),
          |j AS (SELECT * FROM a CROSS JOIN b WHERE group_a <> group_b),
          |f AS (SELECT group_a, group_b, n_a, n_b,
          |    CAST(sv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
          |    CAST(sv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
          |    ((CAST(svv_a AS DOUBLE) - CAST(sv_a AS DOUBLE) * CAST(sv_a AS DOUBLE)
          |        / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
          |      / CAST(n_a AS DOUBLE) AS sea,
          |    ((CAST(svv_b AS DOUBLE) - CAST(sv_b AS DOUBLE) * CAST(sv_b AS DOUBLE)
          |        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0))
          |      / CAST(n_b AS DOUBLE) AS seb
          |  FROM j WHERE n_a >= 2 AND n_b >= 2)
          |SELECT group_a, group_b, n_a, n_b,
          |       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
          |       round(ma - mb, 6) AS diff,
          |       round((ma - mb) / sqrt(sea + seb), 6) AS t,
          |       round((sea + seb) * (sea + seb)
          |         / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0e0)
          |            + seb * seb / (CAST(n_b AS DOUBLE) - 1.0e0)), 6) AS df,
          |       abs(round((ma - mb) / sqrt(sea + seb), 6)) > 1.959964e0
          |         AS significant
          |FROM f""".stripMargin,
      "q145_stump" -> // decisionStump replayed: the same bucketized melt
        // (floor(v / width)), strict-prefix cumulative counts, the
        // identical Gini formula and (gini asc, threshold asc) pick
        """WITH base AS (SELECT CAST(lang = 'en' AS BIGINT) AS y,
          |    CAST(n_chars AS DOUBLE) AS f_chars,
          |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS f_tokens
          |  FROM documents),
          |m AS (SELECT y, 'n_chars' AS feature,
          |        CAST(floor(f_chars / 200.0e0) AS BIGINT) AS bucket FROM base
          |      UNION ALL
          |      SELECT y, 'n_tokens', CAST(floor(f_tokens / 10.0e0) AS BIGINT)
          |        FROM base),
          |c AS (SELECT feature, bucket, CAST(count(*) AS BIGINT) AS n,
          |        CAST(sum(y) AS BIGINT) AS pos
          |      FROM m WHERE bucket IS NOT NULL GROUP BY 1, 2),
          |cum AS (SELECT feature, bucket, n, pos,
          |    sum(n) OVER w AS nl, sum(pos) OVER w AS posl FROM c
          |  WINDOW w AS (PARTITION BY feature ORDER BY bucket
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          |tot AS (SELECT feature, sum(n) AS nt, sum(pos) AS post FROM c GROUP BY 1),
          |sp AS (SELECT cum.feature, bucket, nl, posl, nt, post,
          |    CASE cum.feature WHEN 'n_chars' THEN 200.0e0 ELSE 10.0e0 END AS bw
          |  FROM cum JOIN tot ON cum.feature = tot.feature
          |  WHERE nl IS NOT NULL AND nl > 0 AND nt - nl > 0),
          |g AS (SELECT feature, round(CAST(bucket AS DOUBLE) * bw, 6) AS threshold,
          |    round((CAST(nl AS DOUBLE) * (1.0e0
          |        - (CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE))
          |          * (CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE))
          |        - (1.0e0 - CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE))
          |          * (1.0e0 - CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE)))
          |      + CAST(nt - nl AS DOUBLE) * (1.0e0
          |        - (CAST(post - posl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
          |          * (CAST(post - posl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
          |        - (1.0e0 - CAST(post - posl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
          |          * (1.0e0 - CAST(post - posl AS DOUBLE) / CAST(nt - nl AS DOUBLE))))
          |      / CAST(nt AS DOUBLE), 6) AS gini,
          |    CAST(nl AS BIGINT) AS n_left, CAST(posl AS BIGINT) AS pos_left,
          |    CAST(nt - nl AS BIGINT) AS n_right,
          |    CAST(post - posl AS BIGINT) AS pos_right FROM sp),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY feature
          |         ORDER BY gini ASC, threshold ASC) AS rn FROM g)
          |SELECT feature, threshold, gini, n_left, pos_left, n_right, pos_right
          |FROM rk WHERE rn = 1 ORDER BY feature""".stripMargin,
      "q144_pca" -> {
        // pcaTopComponent unrolled: mean CTE, round-6 centered lists, then
        // one (dot, image, norm, iterate) CTE quartet per power-iteration
        // round — the dot is the sequential-fold list_dot_product (the q35
        // bit-equality), every cross-row sum a DECIMAL of round-9 terms
        val iterCtes = (1 to 3).map { k =>
          s"""d$k AS (SELECT vec_id, cv, round(list_dot_product(cv, vl), 6) AS d
             |       FROM c CROSS JOIN v${k - 1}),
             |w$k AS (SELECT i, CAST(sum(CAST(round(d * cv[i + 1], 9)
             |           AS DECIMAL(28,9))) AS DOUBLE) AS w
             |       FROM d$k CROSS JOIN d64 GROUP BY i),
             |n$k AS (SELECT round(sqrt(CAST(sum(CAST(round(w * w, 6)
             |           AS DECIMAL(38,6))) AS DOUBLE)), 6) AS nrm FROM w$k),
             |v$k AS (SELECT list(round(w / nrm, 6) ORDER BY i) AS vl
             |       FROM w$k CROSS JOIN n$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |d64 AS (SELECT unnest(range(0, 64)) AS i),
           |mn AS (SELECT i, round(CAST(sum(CAST(emb[i + 1] AS DECIMAL(18,9)))
           |           AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mu
           |       FROM e CROSS JOIN d64 GROUP BY i),
           |ml AS (SELECT list(mu ORDER BY i) AS ml FROM mn),
           |c AS (SELECT vec_id, list_transform(range(0, 64),
           |          d -> round(emb[d + 1] - ml[d + 1], 6)) AS cv
           |      FROM e CROSS JOIN ml),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) - 1.0e0 AS nm1 FROM e),
           |v0 AS (SELECT list_transform(range(0, 64),
           |          d -> round(1.0e0 / sqrt(64.0e0), 6)) AS vl),
           |$iterCtes,
           |tv AS (SELECT CAST(sum(CAST(round(cv[i + 1] * cv[i + 1], 9)
           |           AS DECIMAL(38,9))) AS DOUBLE) / nm1 AS tv
           |       FROM c CROSS JOIN d64 CROSS JOIN nn GROUP BY nm1)
           |SELECT CAST(i AS BIGINT) AS i, round(w / nrm, 6) AS loading,
           |       round(nrm / nm1, 6) AS eigval,
           |       round((nrm / nm1) / tv, 6) AS var_pct
           |FROM w3 CROSS JOIN n3 CROSS JOIN nn CROSS JOIN tv
           |ORDER BY i""".stripMargin
      },
      "q143_ols" -> // the same nine DECIMAL(18,6) sufficient statistics,
        // cast to double once, then the IDENTICAL Cramer cofactor formulas
        // in the identical evaluation order — bit-for-bit IEEE replay
        """WITH s AS (SELECT l_returnflag,
          |    CAST(count(*) AS BIGINT) AS n,
          |    sum(CAST(l_quantity AS DECIMAL(12,6))) AS s1,
          |    sum(CAST(l_discount AS DECIMAL(12,6))) AS s2,
          |    sum(CAST(l_extendedprice AS DECIMAL(12,6))) AS sy,
          |    sum(CAST(l_quantity AS DECIMAL(24,6)) * CAST(l_quantity AS DECIMAL(24,6))) AS s11,
          |    sum(CAST(l_quantity AS DECIMAL(24,6)) * CAST(l_discount AS DECIMAL(24,6))) AS s12,
          |    sum(CAST(l_discount AS DECIMAL(24,6)) * CAST(l_discount AS DECIMAL(24,6))) AS s22,
          |    sum(CAST(l_quantity AS DECIMAL(24,6)) * CAST(l_extendedprice AS DECIMAL(24,6))) AS s1y,
          |    sum(CAST(l_discount AS DECIMAL(24,6)) * CAST(l_extendedprice AS DECIMAL(24,6))) AS s2y,
          |    sum(CAST(l_extendedprice AS DECIMAL(24,6)) * CAST(l_extendedprice AS DECIMAL(24,6))) AS syy
          |  FROM lineitem
          |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          |    AND l_extendedprice IS NOT NULL
          |  GROUP BY 1),
          |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
          |    CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
          |    CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11,
          |    CAST(s12 AS DOUBLE) AS s12, CAST(s22 AS DOUBLE) AS s22,
          |    CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
          |    CAST(syy AS DOUBLE) AS syy FROM s),
          |m AS (SELECT *, s11 * s22 - s12 * s12 AS m0,
          |    s1 * s22 - s12 * s2 AS m1, s1 * s12 - s11 * s2 AS m2 FROM d),
          |dt AS (SELECT *, nd * m0 - s1 * m1 + s2 * m2 AS det FROM m
          |       WHERE round(nd * m0 - s1 * m1 + s2 * m2, 9) <> 0.0e0),
          |b AS (SELECT *,
          |    (sy * m0 - s1 * (s1y * s22 - s12 * s2y)
          |     + s2 * (s1y * s12 - s11 * s2y)) / det AS b0,
          |    (nd * (s1y * s22 - s12 * s2y) - sy * m1
          |     + s2 * (s1 * s2y - s1y * s2)) / det AS b1,
          |    (nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
          |     + sy * m2) / det AS b2
          |  FROM dt)
          |SELECT l_returnflag, n, round(b0, 6) AS b0, round(b1, 6) AS b1,
          |  round(b2, 6) AS b2,
          |  round(1.0e0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y))
          |        / (syy - sy * sy / nd), 6) AS r2
          |FROM b ORDER BY l_returnflag""".stripMargin,
      "q142_keyness" -> // exact long counts -> one IEEE prior formula; each
        // ln rounded to 6 BEFORE the subtraction (the bigram-LM discipline)
        """WITH tok AS (SELECT (lang = 'en') AS tgt,
          |    unnest(string_split(text, ' ')) AS word FROM documents),
          |c AS (SELECT word,
          |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
          |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
          |  FROM tok WHERE word <> '' GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
          |    CAST(sum(cnt_b) AS BIGINT) AS n_b FROM c),
          |j AS (SELECT c.*, tot.n_a, tot.n_b,
          |    CAST(cnt_a + cnt_b AS DOUBLE) * 500.0e0
          |      / CAST(n_a + n_b AS DOUBLE) AS aw
          |  FROM c CROSS JOIN tot WHERE cnt_a + cnt_b >= 20),
          |l AS (SELECT *,
          |    round(ln((CAST(cnt_a AS DOUBLE) + aw)
          |      / (CAST(n_a AS DOUBLE) + 500.0e0 - CAST(cnt_a AS DOUBLE) - aw)), 6) AS la,
          |    round(ln((CAST(cnt_b AS DOUBLE) + aw)
          |      / (CAST(n_b AS DOUBLE) + 500.0e0 - CAST(cnt_b AS DOUBLE) - aw)), 6) AS lb
          |  FROM j),
          |dl AS (SELECT *, round(la - lb, 6) AS delta FROM l)
          |SELECT word, cnt_a, cnt_b, delta,
          |  round(delta / sqrt(1.0e0 / (CAST(cnt_a AS DOUBLE) + aw)
          |    + 1.0e0 / (CAST(cnt_b AS DOUBLE) + aw)), 6) AS z
          |FROM dl ORDER BY word""".stripMargin,
      "q141_cube" -> // DuckDB's CUBE + GROUPING share Spark's bitmask
        // convention (leftmost argument = most significant bit); money in
        // the q01 exact-DECIMAL discipline, cast to double once at the end
        """SELECT o_orderpriority AS priority, l_returnflag AS flag,
          |  CAST(GROUPING(o_orderpriority, l_returnflag) AS BIGINT) AS gid,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
          |           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY CUBE(o_orderpriority, l_returnflag)
          |ORDER BY gid, priority, flag""".stripMargin,
      "q140_hits" -> // Graph.hits unrolled: two rounds, each two exact
        // integer join-aggregates (auth gather then hub gather) over the
        // deduplicated edge set, zeros via left-join coalesce — no
        // normalization, so not one division anywhere in the mirror
        """WITH e AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
          |                           CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
          |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
          |a1s AS (SELECT e.dst AS node, sum(h0.hub) AS sa
          |        FROM e JOIN h0 ON h0.node = e.src GROUP BY 1),
          |a1 AS (SELECT n.node, CAST(coalesce(sa, 0) AS BIGINT) AS auth
          |       FROM nodes n LEFT JOIN a1s USING (node)),
          |h1s AS (SELECT e.src AS node, sum(a1.auth) AS sh
          |        FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
          |h1 AS (SELECT n.node, CAST(coalesce(sh, 0) AS BIGINT) AS hub
          |       FROM nodes n LEFT JOIN h1s USING (node)),
          |a2s AS (SELECT e.dst AS node, sum(h1.hub) AS sa
          |        FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
          |a2 AS (SELECT n.node, CAST(coalesce(sa, 0) AS BIGINT) AS auth
          |       FROM nodes n LEFT JOIN a2s USING (node)),
          |h2s AS (SELECT e.src AS node, sum(a2.auth) AS sh
          |        FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
          |h2 AS (SELECT n.node, CAST(coalesce(sh, 0) AS BIGINT) AS hub
          |       FROM nodes n LEFT JOIN h2s USING (node))
          |SELECT n.node, h2.hub, a2.auth FROM nodes n
          |JOIN h2 USING (node) JOIN a2 USING (node) ORDER BY node""".stripMargin,
      "q139_bfs_hops" -> // BFS needs no iteration mirroring: the
        // hop-capped reachability recursion's min(dist) IS the BFS level,
        // so the green hash proves the frontier/anti-join loop exact
        """WITH RECURSIVE e AS (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT CAST(l_partkey AS BIGINT) AS src,
          |      CAST(lead(l_partkey) OVER (PARTITION BY l_orderkey
          |                                 ORDER BY l_linenumber) AS BIGINT) AS dst
          |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |    WHERE o_orderpriority = '1-URGENT')
          |  WHERE dst IS NOT NULL AND dst <> src),
          |s AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS node
          |      FROM part WHERE p_brand = 'Brand#11'),
          |d AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM s
          |      UNION
          |      SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node
          |      WHERE d.dist < 8)
          |SELECT node, min(dist) AS dist FROM d GROUP BY 1 ORDER BY node""".stripMargin,
      "q138_exact_quantiles" -> // the oracle never sees the buckets: the
        // k-th smallest value is bucket-independent, so a plain global
        // rank proves the two-pass selection exact
        """WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
          |           WHERE value IS NOT NULL),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
          |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM v)
          |SELECT t.p, CAST(ceil(t.p * n.n) AS BIGINT) AS rank, r.v AS value
          |FROM (VALUES (0.5e0), (0.9e0), (0.99e0)) t(p)
          |CROSS JOIN n
          |JOIN r ON r.rk = CAST(ceil(t.p * n.n) AS BIGINT)
          |ORDER BY t.p""".stripMargin,
      "q137_ab_test" -> // four integers -> one mirrored pooled-z formula
        """WITH c AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
          |            ELSE 'treatment' END AS g,
          |           CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END AS s
          |         FROM events),
          |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          |        CAST(sum(s) AS BIGINT) AS x FROM c GROUP BY 1),
          |p AS (SELECT amin.g AS group_a, amin.n AS n_a, amin.x AS x_a,
          |        amax.g AS group_b, amax.n AS n_b, amax.x AS x_b
          |      FROM (SELECT * FROM a ORDER BY g LIMIT 1) amin,
          |           (SELECT * FROM a ORDER BY g DESC LIMIT 1) amax
          |      WHERE amin.g <> amax.g)
          |SELECT group_a, group_b, n_a, x_a, n_b, x_b,
          |  round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
          |  round(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
          |  round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS diff,
          |  round((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |         - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          |    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          |      * (1.0e0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          |      * (1.0e0 / CAST(n_a AS DOUBLE) + 1.0e0 / CAST(n_b AS DOUBLE))), 6)
          |    AS z,
          |  abs(round((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |         - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          |    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          |      * (1.0e0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          |      * (1.0e0 / CAST(n_a AS DOUBLE) + 1.0e0 / CAST(n_b AS DOUBLE))), 6))
          |    > 1.959964e0 AS significant
          |FROM p""".stripMargin,
      "q136_bootstrap_ci" -> { // the one-pass Poisson-bootstrap aggregate
        // replayed: per replica the same nested-CASE Poisson(1) inverse
        // off the q125 mix hash, decimal w*x sums, order-statistic CI
        import graft.operators.Sampling.{PoissonCumLiterals, negLcgSql}
        val B = 24; val M = 2147483648L; val mask = M - 1
        val mix = s"xor((event_id & $mask), ${negLcgSql(s"((event_id >> 31)) & $mask")})"
        def wSql(b: Int): String = {
          val u = s"(CAST(${negLcgSql(s"((hid * 131 + $b) % $M)")} AS DOUBLE) / 2147483648.0e0)"
          PoissonCumLiterals.zipWithIndex.foldRight("7") {
            case ((c, kk), acc) => s"(CASE WHEN $u < $c THEN $kk ELSE $acc END)"
          }
        }
        val aggCols = (0 until B).map { b =>
          s"""sum(CAST(round(CAST(${wSql(b)} AS DOUBLE) * value, 9)
             |      AS DECIMAL(28,9))) AS swx$b,
             |    CAST(sum(${wSql(b)}) AS BIGINT) AS sw$b""".stripMargin
        }.mkString(",\n    ")
        val meansList = (0 until B).map(b =>
          s"round(CAST(swx$b AS DOUBLE) / CAST(sw$b AS DOUBLE), 6)")
          .mkString("[", ", ", "]")
        s"""WITH base AS (SELECT event_id, value, $mix AS hid FROM events),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(round(value, 9) AS DECIMAL(28,9))) AS sx,
           |    $aggCols
           |  FROM base),
           |m AS (SELECT n, sx, list_sort($meansList) AS ms FROM a)
           |SELECT n, round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
           |  ms[2] AS ci_lo, ms[${B - 1}] AS ci_hi,
           |  CAST($B AS BIGINT) AS replicas
           |FROM m""".stripMargin
      },
      "q135_survival" -> // KM replayed: distinct-duration collapse,
        // running risk-set complement, round-6 ln factors summed as
        // DECIMAL, one exp per event time; d = n pins the curve to 0
        """WITH per AS (SELECT user_id, min(epoch_ns(ts)) AS f,
          |        max(epoch_ns(ts)) AS l FROM events GROUP BY 1),
          |te AS (SELECT max(epoch_ns(ts)) AS tend FROM events),
          |subj AS (SELECT (l - f) // 3600000000000 AS t,
          |         CASE WHEN tend - l > 21600000000000 THEN 1 ELSE 0 END AS ev
          |         FROM per CROSS JOIN te),
          |pd AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt,
          |        CAST(sum(ev) AS BIGINT) AS d FROM subj GROUP BY 1),
          |rk AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY t
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
          |       (SELECT sum(cnt) FROM pd) AS n FROM pd),
          |evt AS (SELECT t, n - cb AS n_risk, d FROM rk WHERE d > 0),
          |lf AS (SELECT *, CASE WHEN d < n_risk THEN
          |         CAST(round(ln(1.0e0 - CAST(d AS DOUBLE)
          |           / CAST(n_risk AS DOUBLE)), 6) AS DECIMAL(12,6))
          |         ELSE CAST(0 AS DECIMAL(12,6)) END AS lfv FROM evt),
          |cm AS (SELECT t, n_risk, d,
          |        max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
          |        sum(lfv) OVER (ORDER BY t
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
          |       FROM lf)
          |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
          |  CASE WHEN dead = 1 THEN 0.0e0
          |       ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival
          |FROM cm ORDER BY t""".stripMargin,
      "q134_logreg" -> { // the full GD trajectory unrolled: per iteration
        // margin (DECIMAL sum of weights) -> round-6 sigmoid -> per-slot
        // DECIMAL gradient sum -> round-9 update; slot -1 is the bias
        val dim = 64
        val slot = s"(${polyHashSql("tok")} % $dim)"
        val iterCtes = (1 to 3).map { i =>
          s"""m$i AS (SELECT ds.doc_id, ds.y, sum(w${i - 1}.w) AS margin
             |       FROM ds JOIN w${i - 1} ON ds.slot = w${i - 1}.slot
             |       GROUP BY 1, 2),
             |p$i AS (SELECT doc_id, y,
             |         round(1.0e0 / (1.0e0 + exp(-CAST(margin AS DOUBLE))), 6) AS p
             |       FROM m$i),
             |g$i AS (SELECT ds.slot,
             |         sum(CAST(round(p$i.p - CAST(p$i.y AS DOUBLE), 6)
             |             AS DECIMAL(12,6))) AS grad
             |       FROM ds JOIN p$i ON ds.doc_id = p$i.doc_id GROUP BY 1),
             |w$i AS (SELECT w.slot,
             |         CAST(round(CAST(w.w AS DOUBLE) - 0.5e0 *
             |           (CAST(coalesce(g$i.grad, 0) AS DOUBLE)
             |            / CAST((SELECT n FROM nn) AS DOUBLE)), 9)
             |           AS DECIMAL(28,9)) AS w
             |       FROM w${i - 1} w LEFT JOIN g$i ON w.slot = g$i.slot)"""
            .stripMargin
        }
        s"""WITH base AS (SELECT doc_id,
           |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
           |      FROM documents),
           |ds AS (SELECT DISTINCT doc_id, y, $slot AS slot FROM (
           |         SELECT doc_id, y, unnest(string_split(text, ' ')) AS tok
           |         FROM base)
           |       UNION
           |       SELECT doc_id, y, -1 FROM base),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
           |w0 AS (SELECT unnest(range(-1, $dim)) AS slot,
           |              CAST(0 AS DECIMAL(28,9)) AS w),
           |${iterCtes.mkString(",\n")}
           |SELECT slot, CAST(w AS DOUBLE) AS w FROM w3 ORDER BY slot""".stripMargin
      },
      "q133_hilbert" -> { // the xy->d bit recursion replayed as a CTE
        // chain, one level per bit (same rotate/flip arithmetic)
        val order = 10; val n = 1L << order
        val levels = ((order - 1) to 0 by -1).zipWithIndex.map { case (bit, li) =>
          val s = 1L << bit
          val prev = if (li == 0) "b" else s"l${li - 1}"
          s"""l$li AS (SELECT event_id, x0, y0,
             |  d + ${s * s} * xor(3 * ((x >> $bit) & 1), (y >> $bit) & 1) AS d,
             |  CASE WHEN ((y >> $bit) & 1) = 0 THEN
             |    (CASE WHEN ((x >> $bit) & 1) = 1 THEN ${n - 1} - y ELSE y END)
             |  ELSE x END AS x,
             |  CASE WHEN ((y >> $bit) & 1) = 0 THEN
             |    (CASE WHEN ((x >> $bit) & 1) = 1 THEN ${n - 1} - x ELSE x END)
             |  ELSE y END AS y
             |FROM $prev)""".stripMargin
        }
        s"""WITH b AS (SELECT event_id, user_id % 1024 AS x0,
           |        (epoch_ns(ts) // 3600000000000) % 1024 AS y0,
           |        user_id % 1024 AS x,
           |        (epoch_ns(ts) // 3600000000000) % 1024 AS y,
           |        CAST(0 AS BIGINT) AS d
           |      FROM events),
           |${levels.mkString(",\n")}
           |SELECT event_id, x0 AS x, y0 AS y, CAST(d AS BIGINT) AS h
           |FROM l${order - 1} ORDER BY event_id""".stripMargin
      },
      "q132_calibration" -> // decile collapse + decimal score/sq-error
        // sums, one round-6 division per output column, exact min-max
        // normalization (no libm anywhere)
        """WITH b AS (SELECT min(CAST(embedding[1] AS DOUBLE)) AS mn,
          |            max(CAST(embedding[1] AS DOUBLE)) AS mx FROM embeddings),
          |r AS (SELECT (CAST(embedding[1] AS DOUBLE) - mn) / (mx - mn) AS s,
          |        CASE WHEN label < 5 THEN 1 ELSE 0 END AS lab
          |      FROM embeddings CROSS JOIN b),
          |g AS (SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bucket,
          |        CAST(count(*) AS BIGINT) AS n,
          |        sum(CAST(round(s, 9) AS DECIMAL(28,9))) AS ssum,
          |        CAST(sum(lab) AS BIGINT) AS n_pos,
          |        sum(CAST(round((s - CAST(lab AS DOUBLE))
          |              * (s - CAST(lab AS DOUBLE)), 12) AS DECIMAL(38,12)))
          |          AS sqsum
          |      FROM r GROUP BY 1),
          |o AS (SELECT round(CAST(sum(sqsum) AS DOUBLE)
          |              / CAST(sum(n) AS DOUBLE), 6) AS brier FROM g)
          |SELECT bucket, n,
          |  round(CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pred,
          |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
          |  o.brier
          |FROM g CROSS JOIN o ORDER BY bucket""".stripMargin,
      "q131_hybrid_rrf" -> { // q64's BM25 CTE (k=20) + q35's cosine ranks
        // (query 1, k=20) + round-9 reciprocal contributions summed as
        // DECIMAL(18,9) — rank-only fusion, ties by id
        val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |consts AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |           CAST(sum(len(string_split(text, ' ')))  AS BIGINT) AS sdl FROM documents),
           |qt AS (SELECT * FROM tok WHERE token IN ($terms)),
           |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY 1, 2),
           |dfr AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY 1),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
           |s AS (SELECT tf.doc_id,
           |      round((ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
           |                / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
           |             * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0)))
           |            / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0)
           |               + 0.75e0 * (CAST(dl AS DOUBLE)
           |                           / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))), 6) AS ts
           |      FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN consts),
           |sc AS (SELECT doc_id, CAST(sum(CAST(ts AS DECIMAL(38,6))) AS DOUBLE) AS score
           |       FROM s GROUP BY doc_id),
           |lex AS (SELECT doc_id AS id, row_number() OVER (
           |          ORDER BY score DESC, doc_id ASC) AS rank FROM sc
           |        QUALIFY rank <= 20),
           |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id = 1),
           |ann0 AS (SELECT c.vec_id AS id, ${cosineSql("qv.q_emb", "c.embedding")} AS cos
           |         FROM embeddings c JOIN qv ON qv.q_id <> c.vec_id),
           |sem AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rank
           |        FROM ann0 QUALIFY rank <= 20),
           |contribs AS (
           |  SELECT id, CAST(round(1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)), 9)
           |             AS DECIMAL(18,9)) AS contrib FROM lex
           |  UNION ALL
           |  SELECT id, CAST(round(1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)), 9)
           |             AS DECIMAL(18,9)) AS contrib FROM sem),
           |fused AS (SELECT id, CAST(sum(contrib) AS DOUBLE) AS rrf,
           |            CAST(count(*) AS BIGINT) AS n_lists
           |          FROM contribs GROUP BY id),
           |rr AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, id ASC) AS rank
           |       FROM fused QUALIFY rank <= 10)
           |SELECT id, rrf, n_lists, CAST(rank AS BIGINT) AS rank FROM rr
           |ORDER BY rank""".stripMargin
      },
      "q130_woe_iv" -> // WOE/IV replayed: label counts per (feature,
        // bucket), add-half shares, per-ln round-6 DECIMAL difference,
        // DECIMAL term sums — the q115 portability convention
        """WITH obs AS (
          |  SELECT 'value_decade' AS feature,
          |    CAST(CAST(floor(value / 10) AS BIGINT) AS VARCHAR) AS bucket,
          |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS lab
          |  FROM events
          |  UNION ALL
          |  SELECT 'hour_of_day',
          |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS VARCHAR),
          |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
          |  FROM events),
          |c AS (SELECT feature, bucket, CAST(sum(lab) AS BIGINT) AS n_pos,
          |        CAST(sum(1 - lab) AS BIGINT) AS n_neg
          |      FROM obs GROUP BY 1, 2),
          |t AS (SELECT feature, sum(n_pos) AS tp, sum(n_neg) AS tn,
          |        CAST(count(*) AS BIGINT) AS nb FROM c GROUP BY 1),
          |b AS (SELECT c.feature, c.bucket, c.n_pos, c.n_neg,
          |        (CAST(round(ln((CAST(n_pos AS DOUBLE) + 0.5e0)
          |            / (CAST(tp AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE))), 6)
          |            AS DECIMAL(12,6))
          |         - CAST(round(ln((CAST(n_neg AS DOUBLE) + 0.5e0)
          |            / (CAST(tn AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE))), 6)
          |            AS DECIMAL(12,6))) AS woe_d,
          |        CAST(round((CAST(n_pos AS DOUBLE) + 0.5e0)
          |            / (CAST(tp AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE))
          |          - (CAST(n_neg AS DOUBLE) + 0.5e0)
          |            / (CAST(tn AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE)), 6)
          |          AS DECIMAL(12,6)) AS p_diff
          |      FROM c JOIN t ON c.feature = t.feature),
          |iv AS (SELECT feature,
          |        round(CAST(sum(CAST(p_diff * woe_d AS DECIMAL(38,12)))
          |          AS DOUBLE), 6) AS iv
          |       FROM b GROUP BY 1)
          |SELECT b.feature, b.bucket, b.n_pos, b.n_neg,
          |  CAST(woe_d AS DOUBLE) AS woe, iv.iv
          |FROM b JOIN iv ON b.feature = iv.feature
          |ORDER BY b.feature, b.bucket""".stripMargin,
      "q129_tfidf_cosine_join" -> // the plain quadratic postings join —
        // the oracle never sees the prefix filter; idf round-6 ln, norm²
        // and pair dots as DECIMAL sums of round-9/12 products, mirrored
        // operation-for-operation
        """WITH d5 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
          |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |            FROM d5),
          |tc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
          |       FROM tok GROUP BY 1, 2),
          |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tc GROUP BY 1),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d5),
          |wts AS (SELECT doc_id, token,
          |          c * round(ln(CAST((SELECT n FROM nn) AS DOUBLE) / df), 6) AS w
          |        FROM tc JOIN dft USING (token)),
          |nrm AS (SELECT doc_id,
          |          sqrt(CAST(sum(CAST(round(w * w, 9) AS DECIMAL(38,12))) AS DOUBLE))
          |            AS nm
          |        FROM wts GROUP BY 1),
          |uu AS (SELECT w.doc_id, w.token, round(w.w / nrm.nm, 9) AS u
          |       FROM wts w JOIN nrm ON w.doc_id = nrm.doc_id),
          |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |         CAST(sum(CAST(round(a.u * b.u, 12) AS DECIMAL(38,14))) AS DOUBLE)
          |           AS cos
          |       FROM uu a JOIN uu b ON a.token = b.token AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2)
          |SELECT a_id, b_id, round(cos, 6) AS cos FROM pr
          |WHERE cos >= 0.85e0 ORDER BY a_id, b_id""".stripMargin,
      "q128_golden_record" -> // q109's brute-force matcher + recursive
        // reachability (the CC fixpoint) + min-id survivorship
        """WITH RECURSIVE st AS (SELECT CAST(p_partkey AS BIGINT) AS id,
          |             p_name || ' ' || p_type AS s,
          |             len(p_name || ' ' || p_type) AS l FROM part),
          |pe AS (SELECT a.id AS a_id, b.id AS b_id
          |       FROM st a JOIN st b ON a.id < b.id AND abs(a.l - b.l) <= 1
          |       WHERE levenshtein(a.s, b.s) <= 1),
          |e AS (SELECT a_id AS f, b_id AS t FROM pe
          |      UNION ALL SELECT b_id, a_id FROM pe),
          |cn AS (SELECT DISTINCT f AS id FROM e),
          |reach(id, r) AS (
          |  SELECT id, id FROM cn
          |  UNION
          |  SELECT e.t, reach.r FROM reach JOIN e ON e.f = reach.id),
          |lab AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
          |m AS (SELECT coalesce(lab.rep, st.id) AS entity_id
          |      FROM st LEFT JOIN lab ON lab.id = st.id),
          |g AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
          |      FROM m GROUP BY 1)
          |SELECT g.entity_id, g.n_members, st.s AS canonical
          |FROM g JOIN st ON st.id = g.entity_id
          |ORDER BY g.entity_id""".stripMargin,
      "q127_skyline" -> // the plain quadratic dominance test — the oracle
        // never sees the prefix-min rewrite
        """WITH pts AS (SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS price,
          |                    CAST(p_size AS DOUBLE) AS size FROM part)
          |SELECT p_partkey, price, size FROM pts p
          |WHERE NOT EXISTS (SELECT 1 FROM pts q
          |  WHERE q.price <= p.price AND q.size <= p.size
          |    AND (q.price < p.price OR q.size < p.size))
          |ORDER BY p_partkey""".stripMargin,
      "q126_auc" -> // per-distinct-score collapse, doubled rank units
        // (2*cumBefore + cnt + 1), one double division — replayed verbatim
        """WITH r AS (SELECT CAST(embedding[1] AS DOUBLE) AS s,
          |            CASE WHEN label < 5 THEN 1 ELSE 0 END AS lab
          |          FROM embeddings),
          |ps AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
          |         CAST(sum(lab) AS BIGINT) AS pos FROM r GROUP BY s),
          |rk AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY s
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |         AS cb FROM ps),
          |a AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
          |        CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
          |        CAST(sum(pos * (2 * cb + cnt + 1)) AS BIGINT) AS s2 FROM rk)
          |SELECT n_pos, n_neg,
          |  round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
          |        / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
          |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin,
      "q125_negative_samples" -> { // bucket + argmin replay: identical
        // mix31/lcg arithmetic, row_number (score, c_id) = min(struct)
        import graft.operators.Sampling.{negMix31Sql, negLcgSql}
        val M = 2147483648L
        s"""WITH cb AS (SELECT c_id, hc, ${negLcgSql("hc")} % 256 AS bucket
           |       FROM (SELECT vec_id AS c_id, ${negMix31Sql("vec_id")} AS hc
           |             FROM embeddings)),
           |dr AS (SELECT a_id, ha, j.draw,
           |         ((ha * 131 + j.draw) % $M) AS hj
           |       FROM (SELECT vec_id AS a_id, ${negMix31Sql("vec_id")} AS ha
           |             FROM embeddings)
           |       CROSS JOIN (SELECT unnest(range(1, 5)) AS draw) j),
           |db AS (SELECT a_id, draw, hj, ${negLcgSql("hj")} % 256 AS bucket FROM dr),
           |sc AS (SELECT a_id, draw, c_id,
           |         ${negLcgSql(s"(hc * 131 + hj) % $M")} AS score
           |       FROM db JOIN cb USING (bucket) WHERE c_id <> a_id),
           |r AS (SELECT a_id, draw, c_id, row_number() OVER (
           |        PARTITION BY a_id, draw ORDER BY score, c_id) AS rn FROM sc)
           |SELECT a_id, CAST(draw AS BIGINT) AS draw, c_id AS neg_id
           |FROM r WHERE rn = 1 ORDER BY a_id, draw""".stripMargin
      },
      "q124_cluster_split" -> { // q53's CC reachability + the portable
        // unit hash of the cluster representative; the threshold sum is
        // written (0.8e0 + 0.1e0) so both engines compare the identical
        // IEEE double
        val u = graft.operators.Sampling.unitHashSql("rep_id", salt = 0)
        s"""${ngramPairsWith.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |pe AS (SELECT a_id, b_id FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |e AS (SELECT a_id AS s, b_id AS d FROM pe
           |      UNION ALL SELECT b_id, a_id FROM pe),
           |cn AS (SELECT DISTINCT s AS id FROM e),
           |reach(id, r) AS (
           |  SELECT id, id FROM cn
           |  UNION
           |  SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id),
           |lab AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
           |rp AS (SELECT d.doc_id, coalesce(lab.rep, d.doc_id) AS rep_id
           |       FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id)
           |SELECT doc_id, rep_id,
           |  CASE WHEN $u < 0.8e0 THEN 'train'
           |       WHEN $u < (0.8e0 + 0.1e0) THEN 'valid'
           |       ELSE 'test' END AS split
           |FROM rp ORDER BY doc_id""".stripMargin
      },
      "q123_kmv_setops" -> // KMV replayed: bottom-32 of the portable gram
        // hashes per source (row_number window — the sketch's oracle-side
        // mirror), union sketch L re-ranked from the two sketches, rho by
        // sketch-membership joins, every estimate the same single-division
        // round-6 arithmetic
        s"""WITH g AS (SELECT DISTINCT grp, gram FROM (
           |       SELECT source AS grp, unnest(${gramsN("text", 3)}) AS gram FROM documents)),
           |hv AS (SELECT DISTINCT grp, (${polyHashSql("gram")} * 3) % 2147483647 AS h FROM g),
           |nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS nd FROM hv GROUP BY 1),
           |rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM hv),
           |topk AS (SELECT grp, h, r FROM rk WHERE r <= 32),
           |est1 AS (SELECT n.grp, CASE WHEN n.nd < 32 THEN CAST(n.nd AS DOUBLE)
           |           ELSE round(CAST(66571993057 AS DOUBLE)
           |                      / CAST(max(t.h) FILTER (t.r = 32) AS DOUBLE), 6) END AS est
           |         FROM nd n JOIN topk t ON t.grp = n.grp GROUP BY n.grp, n.nd),
           |pg AS (SELECT a.grp AS sa, b.grp AS sb FROM nd a JOIN nd b ON a.grp < b.grp),
           |uv AS (SELECT pg.sa, pg.sb, t.h FROM pg JOIN topk t ON t.grp = pg.sa
           |       UNION
           |       SELECT pg.sa, pg.sb, t.h FROM pg JOIN topk t ON t.grp = pg.sb),
           |lr AS (SELECT sa, sb, h,
           |       row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r FROM uv),
           |l AS (SELECT * FROM lr WHERE r <= 32),
           |ks AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS ku,
           |       max(h) FILTER (r = 32) AS hk FROM l GROUP BY 1, 2),
           |rho AS (SELECT l.sa, l.sb, CAST(count(*) AS BIGINT) AS rho FROM l
           |        JOIN topk ta ON ta.grp = l.sa AND ta.h = l.h
           |        JOIN topk tb ON tb.grp = l.sb AND tb.h = l.h GROUP BY 1, 2),
           |iv AS (SELECT a.grp AS sa, b.grp AS sb, CAST(count(*) AS BIGINT) AS xinter
           |       FROM hv a JOIN hv b ON a.h = b.h AND a.grp < b.grp GROUP BY 1, 2),
           |eu AS (SELECT ks.sa, ks.sb, ks.ku,
           |       CASE WHEN ks.ku < 32 THEN CAST(ks.ku AS DOUBLE)
           |         ELSE round(CAST(66571993057 AS DOUBLE) / CAST(ks.hk AS DOUBLE), 6)
           |       END AS est_union FROM ks)
           |SELECT pg.sa AS src_a, pg.sb AS src_b,
           |  ea.est AS est_a, eb.est AS est_b, eu.est_union,
           |  round((CAST(coalesce(rho.rho, 0) AS DOUBLE) / CAST(eu.ku AS DOUBLE))
           |        * eu.est_union, 6) AS est_inter,
           |  round(CAST(coalesce(rho.rho, 0) AS DOUBLE) / CAST(eu.ku AS DOUBLE), 6)
           |    AS est_jaccard,
           |  na.nd + nb.nd - coalesce(iv.xinter, 0) AS exact_union,
           |  coalesce(iv.xinter, 0) AS exact_inter
           |FROM pg
           |JOIN est1 ea ON ea.grp = pg.sa JOIN est1 eb ON eb.grp = pg.sb
           |JOIN eu ON eu.sa = pg.sa AND eu.sb = pg.sb
           |LEFT JOIN rho ON rho.sa = pg.sa AND rho.sb = pg.sb
           |LEFT JOIN iv ON iv.sa = pg.sa AND iv.sb = pg.sb
           |JOIN nd na ON na.grp = pg.sa JOIN nd nb ON nb.grp = pg.sb
           |ORDER BY src_a, src_b""".stripMargin,
      "q122_geo_pairs" -> // the plain quadratic haversine predicate — the
        // oracle never sees the cell bucketing; the distance expression
        // mirrors Spatial.haversineKm operand-for-operand, round-6 gates
        // the predicate on both sides, fmt3 formats the output
        s"""$spotsWith,
           |pts AS (SELECT min("Spotnum") AS id, ${locLat("\"Grid\"")} AS lat,
           |               ${locLon("\"Grid\"")} AS lon
           |        FROM spots GROUP BY "Grid"),
           |pairs AS (
           |  SELECT a.id AS a_id, b.id AS b_id,
           |    round(12742.0e0 * asin(sqrt(
           |      sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2) +
           |      cos(radians(a.lat)) * cos(radians(b.lat)) *
           |        (sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)))), 6)
           |      AS d
           |  FROM pts a JOIN pts b ON a.id < b.id)
           |SELECT a_id, b_id, ${fmt3("d")} AS dist_km FROM pairs
           |WHERE d <= 250.0e0 ORDER BY a_id, b_id""".stripMargin,
      "q121_scc" -> // EXACT SCC by transitive closure: both engines run to
        // the same fixpoint, so no iteration is mirrored — mutual
        // reachability (recursive CTE) labels each node with its SCC min
        """WITH RECURSIVE e AS (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT l_partkey AS src,
          |      lead(l_partkey) OVER (PARTITION BY l_orderkey
          |                            ORDER BY l_linenumber) AS dst
          |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |    WHERE o_orderpriority = '1-URGENT')
          |  WHERE dst IS NOT NULL AND dst <> src),
          |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |reach(a, b) AS (
          |  SELECT src, dst FROM e
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
          |mutual AS (
          |  SELECT node, node AS m FROM nodes
          |  UNION
          |  SELECT r1.a AS node, r1.b AS m FROM reach r1
          |  JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
          |SELECT node, min(m) AS scc_id FROM mutual GROUP BY node
          |ORDER BY node""".stripMargin,
      "q120_resample_anomaly" -> // TimeSeries replayed: latest-wins bucket
        // value as the row_number form of max(struct) (q80 convention),
        // generate_series grid, IGNORE NULLS forward fill, decimal rolling
        // moments collapsed by the IDENTICAL double formula, round-6 z
        """WITH raw AS (
          |  SELECT user_id, epoch_ns(ts) AS tsn, value FROM events),
          |obs AS (
          |  SELECT user_id, tsn // 21600000000000 AS bucket, value, tsn,
          |    row_number() OVER (PARTITION BY user_id, tsn // 21600000000000
          |                       ORDER BY tsn DESC, value DESC) AS rn,
          |    count(*) OVER (PARTITION BY user_id, tsn // 21600000000000)
          |      AS n_obs
          |  FROM raw),
          |o AS (SELECT user_id, bucket, value AS v_obs, n_obs
          |      FROM obs WHERE rn = 1),
          |rng AS (SELECT user_id,
          |          unnest(generate_series(min(bucket), max(bucket)))
          |            AS bucket
          |        FROM o GROUP BY user_id),
          |filled AS (
          |  SELECT r.user_id, r.bucket,
          |    last_value(o.v_obs IGNORE NULLS) OVER (
          |      PARTITION BY r.user_id ORDER BY r.bucket
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
          |    coalesce(o.n_obs, 0) AS n_obs
          |  FROM rng r LEFT JOIN o
          |    ON r.user_id = o.user_id AND r.bucket = o.bucket),
          |mom AS (
          |  SELECT *,
          |    sum(CAST(v AS DECIMAL(12,6))) OVER w AS s1,
          |    sum(CAST(v AS DECIMAL(12,6)) * CAST(v AS DECIMAL(12,6)))
          |      OVER w AS s2,
          |    count(v) OVER w AS n
          |  FROM filled
          |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket
          |               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
          |z AS (
          |  SELECT user_id, bucket, v, n_obs,
          |    CASE WHEN n = 8 AND
          |      (CAST(s2 AS DOUBLE) / n
          |        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) > 1.0e-6
          |    THEN round((v - CAST(s1 AS DOUBLE) / n)
          |      / sqrt(CAST(s2 AS DOUBLE) / n
          |        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 6)
          |    END AS z
          |  FROM mom)
          |SELECT user_id, bucket, v, CAST(n_obs AS BIGINT) AS n_obs, z,
          |  CASE WHEN z IS NOT NULL THEN abs(z) > 3.0e0 END AS anomaly
          |FROM z ORDER BY user_id, bucket""".stripMargin,
      "q119_bloom_join" -> // the PLAIN join+agg: the Bloom prune must be
        // semantically invisible (no false negatives; fps die in the join)
        """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
          |  CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
          |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT'
          |GROUP BY 1 ORDER BY ship_month""".stripMargin,
      "q118_kcore" -> {
        // Graph.kCore unrolled: per round, degree count over the current
        // edge set, survivor filter at k=20, edges restricted to
        // survivors; output = degrees AFTER the last round's restriction
        val rounds = (1 to 4).map { r =>
          s"""d$r AS (SELECT node, count(*) AS deg FROM (
             |  SELECT u AS node FROM e${r - 1}
             |  UNION ALL SELECT v FROM e${r - 1}) GROUP BY node),
             |k$r AS (SELECT node FROM d$r WHERE deg >= 20),
             |e$r AS (SELECT u, v FROM e${r - 1}
             |  WHERE u IN (SELECT node FROM k$r)
             |    AND v IN (SELECT node FROM k$r))""".stripMargin
        }.mkString(",\n")
        s"""WITH raw AS (
           |  SELECT CAST(o_custkey * 2 AS BIGINT) AS a,
           |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS b
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e0 AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           |       FROM raw WHERE a <> b),
           |$rounds
           |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |  SELECT u AS node FROM e4 UNION ALL SELECT v FROM e4)
           |GROUP BY node ORDER BY node""".stripMargin
      },
      "q117_assoc_rules" -> // Association.associationRules mirrored:
        // presence-dedup, item supports, Apriori-pruned pair supports,
        // both rule directions, integer-ppm conf/lift (`//` = Spark div
        // for the all-positive counts), lift-then-pair total order
        """WITH pres AS (
          |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
          |  FROM lineitem),
          |fi AS (SELECT item, count(*) AS sup FROM pres
          |       GROUP BY item HAVING count(*) >= 3),
          |pruned AS (SELECT p.basket, p.item
          |           FROM pres p JOIN fi USING (item)),
          |pairs AS (
          |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS sup_ab
          |  FROM pruned a JOIN pruned b
          |    ON a.basket = b.basket AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 3),
          |total AS (SELECT count(DISTINCT basket) AS n_baskets FROM pres),
          |directed AS (
          |  SELECT item_a AS ante, item_b AS cons, sup_ab FROM pairs
          |  UNION ALL
          |  SELECT item_b AS ante, item_a AS cons, sup_ab FROM pairs)
          |SELECT d.ante, d.cons, d.sup_ab, fa.sup AS sup_ante,
          |       fc.sup AS sup_cons,
          |       1000000 * d.sup_ab // fa.sup AS conf_ppm,
          |       1000000 * d.sup_ab * t.n_baskets // (fa.sup * fc.sup)
          |         AS lift_ppm
          |FROM directed d
          |JOIN fi fa ON d.ante = fa.item
          |JOIN fi fc ON d.cons = fc.item
          |CROSS JOIN total t
          |ORDER BY lift_ppm DESC, d.ante, d.cons LIMIT 50""".stripMargin,
      "q116_dq_audit" -> // one scalar-aggregate subquery per check,
        // stacked; the FK checks count orphans via a distinct-key left
        // join (NOT IN would null-trap), rates rounded like the Spark side
        """WITH r AS (
          |  SELECT 'not_null(c_name)' AS c,
          |    CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT) AS v,
          |    CAST(count(*) AS BIGINT) AS t FROM customer
          |  UNION ALL SELECT 'unique(o_orderkey)',
          |    CAST(count(*) AS BIGINT)
          |      - CAST(count(DISTINCT o_orderkey) AS BIGINT),
          |    CAST(count(*) AS BIGINT) FROM orders
          |  UNION ALL SELECT 'unique(c_nationkey)',
          |    CAST(count(*) AS BIGINT)
          |      - CAST(count(DISTINCT c_nationkey) AS BIGINT),
          |    CAST(count(*) AS BIGINT) FROM customer
          |  UNION ALL SELECT 'foreign_key(l_orderkey->o_orderkey)',
          |    CAST(count(*) FILTER (WHERE l.l_orderkey IS NOT NULL
          |      AND o.o_orderkey IS NULL) AS BIGINT),
          |    CAST(count(*) AS BIGINT)
          |  FROM lineitem l LEFT JOIN
          |    (SELECT DISTINCT o_orderkey FROM orders) o
          |    ON l.l_orderkey = o.o_orderkey
          |  UNION ALL SELECT 'foreign_key(o_custkey->c_custkey)',
          |    CAST(count(*) FILTER (WHERE ord.o_custkey IS NOT NULL
          |      AND c.c_custkey IS NULL) AS BIGINT),
          |    CAST(count(*) AS BIGINT)
          |  FROM orders ord LEFT JOIN
          |    (SELECT DISTINCT c_custkey FROM customer) c
          |    ON ord.o_custkey = c.c_custkey
          |  UNION ALL SELECT 'in_range(l_discount,0.0,0.05)',
          |    CAST(count(*) FILTER (WHERE l_discount IS NOT NULL
          |      AND (l_discount < 0.0 OR l_discount > 0.05)) AS BIGINT),
          |    CAST(count(*) AS BIGINT) FROM lineitem
          |  UNION ALL SELECT 'in_range(l_quantity,1.0,25.0)',
          |    CAST(count(*) FILTER (WHERE l_quantity IS NOT NULL
          |      AND (l_quantity < 1.0 OR l_quantity > 25.0)) AS BIGINT),
          |    CAST(count(*) AS BIGINT) FROM lineitem)
          |SELECT c AS "constraint", v AS violations, t AS total,
          |       round(CASE WHEN t = 0 THEN 0.0
          |             ELSE CAST(v AS DOUBLE) / CAST(t AS DOUBLE) END, 6)
          |         AS violation_rate
          |FROM r ORDER BY c""".stripMargin,
      "q91_semantic_clusters" -> // the q88 mirror -> mutual filter -> the
        // q53 recursive min-label reachability (= the CC fixpoint)
        s"""WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |bk AS (SELECT vec_id, emb, g.band,
           |       ${lshBandBucketSql("emb", "g.band")} AS bucket
           |       FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g),
           |scored AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |           ${cosineSql("a.emb", "b.emb")} AS cos
           |           FROM bk a JOIN bk b
           |           ON a.band = b.band AND a.bucket = b.bucket
           |              AND a.vec_id <> b.vec_id),
           |uniq AS (SELECT a_id, b_id, min(cos) AS cos FROM scored
           |         GROUP BY 1, 2),
           |rk AS (SELECT a_id, b_id, row_number() OVER (
           |       PARTITION BY a_id ORDER BY cos DESC, b_id) AS rank FROM uniq),
           |knn AS (SELECT a_id, b_id FROM rk WHERE rank <= 3),
           |mutual AS (SELECT k.a_id, k.b_id FROM knn k
           |           JOIN knn m ON m.a_id = k.b_id AND m.b_id = k.a_id
           |           WHERE k.a_id < k.b_id),
           |e AS (SELECT a_id AS s, b_id AS d FROM mutual
           |      UNION ALL SELECT b_id, a_id FROM mutual),
           |nodes AS (SELECT DISTINCT s AS id FROM e),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id)
           |SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
           |ORDER BY vec_id""".stripMargin,
      "q87_random_projection" ->
        // randomProject replayed: the plane coefficient recomputed from its
        // indices ((j*dim + d + 1) * 2654435761 mod p scaled to [-1, 1)),
        // the projection as the same sequential-fold dot product
        """WITH c AS (SELECT j.j, list_transform(range(0, 64), d ->
          |       CAST(((j.j * 64 + d + 1) * 2654435761) % 2147483647 AS DOUBLE)
          |         / 1073741823.5e0 - 1.0e0) AS coefs
          |       FROM (SELECT unnest(range(0, 8)) AS j) j),
          |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
          |SELECT vec_id, j, round(list_dot_product(emb, coefs), 6) AS comp
          |FROM e CROSS JOIN c ORDER BY vec_id, j""".stripMargin,
      "q86_triangles" ->
        // trianglesPerNode replayed over the q31 pair pipeline: canonical
        // undirected edges, degree ranks, low->high orientation, apex
        // wedge pairs, oriented closure, per-corner attribution
        s"""$ngramPairsWith,
           |ed AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |       WHERE CAST(common AS DOUBLE) / (a_n + b_n - common) >= 0.5e0),
           |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           |        FROM ed WHERE src <> dst),
           |degt AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |         SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
           |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
           |                  THEN u ELSE v END AS s,
           |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
           |                  THEN v ELSE u END AS t,
           |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
           |                  THEN db.deg ELSE da.deg END AS dt
           |      FROM und JOIN degt da ON da.node = und.u
           |               JOIN degt db ON db.node = und.v),
           |w AS (SELECT a.s AS apex, a.t AS t1, b.t AS t2 FROM o a JOIN o b
           |      ON a.s = b.s AND (a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t))),
           |tri AS (SELECT apex, t1, t2 FROM w JOIN o ON o.s = w.t1 AND o.t = w.t2),
           |n AS (SELECT unnest([apex, t1, t2]) AS node FROM tri)
           |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM n
           |GROUP BY 1 ORDER BY node""".stripMargin,
      "q85_trustrank" -> {
        // q69's fixed-point CTE chain with the teleport restricted to the
        // PRESENT seed set: tele ∈ {0,1} per node, base mass (15·Scale)
        // // (100·|present seeds|) applied through the tele flag
        val iterCtes = (1 to 5).map { k =>
          s"""r$k AS (SELECT e.dst AS node, d.deg, d.tele,
             |  CAST(((15 * 1000000000000000) // (100 * nt.nt)) * d.tele
             |       + (85 * sum(p.ru // p.deg)) // 100 AS BIGINT) AS ru
             |  FROM e JOIN r${k - 1} p ON e.src = p.node
             |         JOIN degt d ON e.dst = d.node CROSS JOIN nt
             |  GROUP BY e.dst, d.deg, d.tele, nt.nt)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
           |                            CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
           |seeds AS (SELECT DISTINCT CAST(s_suppkey * 2 + 1 AS BIGINT) AS node
           |          FROM supplier WHERE s_suppkey % 10 = 0),
           |degt AS (SELECT deg.node, deg.deg,
           |         CASE WHEN seeds.node IS NULL THEN 0 ELSE 1 END AS tele
           |         FROM deg LEFT JOIN seeds ON deg.node = seeds.node),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM degt WHERE tele = 1),
           |r0 AS (SELECT node, deg, tele,
           |       CAST((1000000000000000 // nt.nt) * tele AS BIGINT) AS ru
           |       FROM degt CROSS JOIN nt),
           |$iterCtes
           |SELECT node, deg, CAST(ru AS DOUBLE) / 1.0e15 AS rank FROM r5 ORDER BY node""".stripMargin
      },
      "q84_trend" ->
        // trendPerGroup replayed: exact integer sums, then the identical
        // double formulas with the same parenthesization
        """WITH r AS (SELECT event_type AS grp,
          |           epoch_ns(ts) // 3600000000000 AS x,
          |           CAST(round(value * 100.0e0, 0) AS BIGINT) AS y
          |           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
          |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
          |      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |      CAST(sum(x * y) AS BIGINT) AS sxy,
          |      CAST(sum(x * x) AS BIGINT) AS sxx,
          |      CAST(sum(y * y) AS BIGINT) AS syy
          |      FROM r GROUP BY 1)
          |SELECT grp AS event_type, n,
          |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
          |  round((CAST(sy AS DOUBLE)
          |         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
          |           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
          |  CASE WHEN CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0e0
          |       THEN 0.0e0
          |       ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
          |  END AS corr
          |FROM s WHERE n >= 2
          |  AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0e0
          |ORDER BY event_type""".stripMargin,
      "q83_source_overlap" ->
        // minhashOverlap replayed in row form: per (source, i) minima of
        // the portable row-hash family, matches summed per pair, exact
        // Jaccard from the distinct-gram join
        s"""WITH g AS (SELECT DISTINCT grp, gram FROM (
           |       SELECT source AS grp, unnest(${gramsN("text", 3)}) AS gram FROM documents)),
           |ph AS (SELECT grp, ${polyHashSql("gram")} AS ph FROM g),
           |h AS (SELECT grp, r.i AS i,
           |      min((ph * (2*r.i + 3) + r.i) % 2147483647) AS m
           |      FROM ph CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
           |pm AS (SELECT a.grp AS src_a, b.grp AS src_b,
           |       CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS matches
           |       FROM h a JOIN h b ON a.i = b.i AND a.grp < b.grp GROUP BY 1, 2),
           |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY 1),
           |iv AS (SELECT a.grp AS src_a, b.grp AS src_b, CAST(count(*) AS BIGINT) AS inter
           |       FROM g a JOIN g b ON a.gram = b.gram AND a.grp < b.grp GROUP BY 1, 2)
           |SELECT pm.src_a, pm.src_b, matches,
           |       round(CAST(matches AS DOUBLE) / 64.0e0, 6) AS est_jaccard,
           |       round(CAST(coalesce(inter, 0) AS DOUBLE)
           |             / CAST(sza.sz + szb.sz - coalesce(inter, 0) AS DOUBLE), 6)
           |         AS exact_jaccard
           |FROM pm LEFT JOIN iv ON pm.src_a = iv.src_a AND pm.src_b = iv.src_b
           |JOIN sz sza ON sza.grp = pm.src_a JOIN sz szb ON szb.grp = pm.src_b
           |ORDER BY pm.src_a, pm.src_b""".stripMargin,
      "q82_datacard" -> {
        val email = graft.operators.TextAnalysis.EmailPattern
        val phone = graft.operators.TextAnalysis.PhonePattern
        s"""WITH b AS (SELECT source, text, $nTokens AS nt, $qualitySql AS q,
           |  (len(regexp_extract_all(text, '$email'))
           |   + len(regexp_extract_all(text, '$phone'))) > 0 AS pii,
           |  $langPredictSql AS lang FROM documents),
           |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |      CAST(sum(nt) AS BIGINT) AS n_tokens,
           |      round(CAST(sum(CAST(q AS DECIMAL(38,6))) AS DOUBLE)
           |            / CAST(count(*) AS DOUBLE), 6) AS avg_quality,
           |      CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
           |      CAST(count(*) - count(DISTINCT text) AS BIGINT) AS dup_docs
           |      FROM b GROUP BY 1),
           |lc AS (SELECT source, lang, count(*) AS c FROM b GROUP BY 1, 2),
           |lt AS (SELECT source, lang AS top_lang FROM (
           |   SELECT source, lang, row_number() OVER (PARTITION BY source
           |          ORDER BY c DESC, lang DESC) AS rn FROM lc) WHERE rn = 1)
           |SELECT a.source, n_docs, n_tokens, avg_quality, pii_docs, dup_docs, top_lang
           |FROM a JOIN lt ON a.source = lt.source ORDER BY a.source""".stripMargin
      },
      "q81_sim_topk_ivfpq" -> {
        // q42's probe-selection mirror composed with q74's ADC mirror over
        // the RESIDUAL coding, all off the SAME materialized centroid/
        // codebook/code parquet: x̂ = c_cell + r̂. The reconstruction norm
        // is RE-DERIVED here from codes×books×centroids (rv/vno CTEs)
        // rather than read from the index's precomputed vnorms table, so a
        // green hash also verifies the build-time precompute
        val p = sys.props.getOrElse("graft.ivfpq.path",
          ivfPqIndexPath("/root/testdata/sf0.01"))
        s"""WITH cent AS (SELECT cid, center::DOUBLE[] AS center
           |              FROM read_parquet('$p/centroids/*.parquet')),
           |books AS (SELECT sub, cid AS code, center::DOUBLE[] AS center
           |          FROM read_parquet('$p/codebooks/*.parquet')),
           |codes AS (SELECT CAST(cid AS BIGINT) AS cell, vec_id, sub, code
           |          FROM read_parquet('$p/codes/*/*.parquet', hive_partitioning=1)),
           |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
           |      FROM embeddings WHERE vec_id < 5),
           |probes AS (SELECT q_id, cell, qcdot FROM (
           |    SELECT q.q_id, cent.cid AS cell,
           |           CAST(round(list_dot_product(q.q_emb, cent.center), 12)
           |                AS DECIMAL(38,12)) AS qcdot,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${cosineSql("q.q_emb", "cent.center")} DESC, cent.cid) AS pr
           |    FROM q CROSS JOIN cent) WHERE pr <= 4),
           |part AS (SELECT q_id, sub, code,
           |  CAST(round(list_dot_product(
           |         q_emb[CAST(sub*8+1 AS INTEGER):CAST(sub*8+8 AS INTEGER)], center), 12)
           |       AS DECIMAL(38,12)) AS qpart,
           |  CAST(round(list_dot_product(center, center), 12)
           |       AS DECIMAL(38,12)) AS cpart
           |  FROM q CROSS JOIN books),
           |cn AS (SELECT cid AS cell,
           |       CAST(round(list_dot_product(center, center), 12)
           |            AS DECIMAL(38,12)) AS cn2 FROM cent),
           |xt AS (SELECT cent.cid AS cell, books.sub, books.code,
           |       CAST(round(list_dot_product(
           |              cent.center[CAST(books.sub*8+1 AS INTEGER):CAST(books.sub*8+8 AS INTEGER)],
           |              books.center), 12) AS DECIMAL(38,12)) AS xterm
           |       FROM cent CROSS JOIN books),
           |bn AS (SELECT sub, code,
           |       CAST(round(list_dot_product(center, center), 12)
           |            AS DECIMAL(38,12)) AS bpart FROM books),
           |rv AS (SELECT codes.vec_id, codes.cell,
           |       sum(xterm) AS xsum, sum(bpart) AS rn2
           |       FROM codes JOIN xt ON xt.cell = codes.cell AND xt.sub = codes.sub
           |                          AND xt.code = codes.code
           |                  JOIN bn ON bn.sub = codes.sub AND bn.code = codes.code
           |       GROUP BY 1, 2),
           |vno AS (SELECT rv.vec_id, cn.cn2 + rv.xsum + rv.xsum + rv.rn2 AS rnorm2
           |        FROM rv JOIN cn ON cn.cell = rv.cell),
           |qn AS (SELECT q_id, sqrt(list_dot_product(q_emb, q_emb)) AS qnorm FROM q),
           |sc AS (SELECT pr.q_id, codes.vec_id,
           |       max(pr.qcdot) AS qcdot, sum(qpart) AS rdots
           |       FROM probes pr JOIN codes ON codes.cell = pr.cell
           |            JOIN part ON part.q_id = pr.q_id AND part.sub = codes.sub
           |                     AND part.code = codes.code
           |       GROUP BY 1, 2),
           |co AS (SELECT sc.q_id, sc.vec_id,
           |       round((CAST(qcdot AS DOUBLE) + CAST(rdots AS DOUBLE)) /
           |             (qnorm * sqrt(CAST(rnorm2 AS DOUBLE))), 6) AS cos_pq
           |       FROM sc JOIN vno ON vno.vec_id = sc.vec_id
           |               JOIN qn ON qn.q_id = sc.q_id WHERE sc.q_id <> sc.vec_id),
           |r AS (SELECT q_id, vec_id, cos_pq,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos_pq DESC, vec_id) AS rank
           |      FROM co)
           |SELECT q_id, vec_id, cos_pq, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      },
      "q80_cdc_compact" ->
        // applyChangelog's max(struct) replayed as the window form:
        // row_number 1 per user by (ts, event_id) descending — event_id is
        // unique, so the struct's payload tie-break never engages
        """WITH c AS (SELECT user_id, epoch_ns(ts) AS v, event_id, event_type, value,
          |           CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
          |           FROM events),
          |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |                ORDER BY v DESC, event_id DESC) AS rn FROM c)
          |SELECT user_id, event_id, event_type, value FROM r
          |WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin,
      "q78_pmi_collocations" ->
        // collocationsTopK replayed: the q65 positional-bigram mirror, PMI
        // as four ln-of-integer terms with the same association, 6-decimal
        // ranking key, (w1, w2) tie-break
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |u AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
          |bg AS (SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2 FROM u),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
          |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
          |cl AS (SELECT w1, CAST(count(*) AS BIGINT) AS cl FROM bg GROUP BY 1),
          |cr AS (SELECT w2, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY 1),
          |sc AS (SELECT w1, w2, c12,
          |       round(((ln(CAST(c12 AS DOUBLE)) + ln(CAST(n AS DOUBLE)))
          |              - ln(CAST(cl AS DOUBLE))) - ln(CAST(cr AS DOUBLE)), 6) AS pmi
          |       FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN n
          |       WHERE c12 >= 5),
          |r AS (SELECT w1, w2, c12, pmi,
          |      row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank FROM sc)
          |SELECT w1, w2, c12, pmi, CAST(rank AS BIGINT) AS rank FROM r
          |WHERE rank <= 20 ORDER BY rank""".stripMargin,
      "q79_token_diversity" ->
        // tokenDiversity replayed: c*ln(c) rounded to 6 decimals, summed as
        // DECIMAL(38,6), then H = ln n - s/n with the same parenthesization
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          |c AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
          |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          |      CAST(count(*) AS BIGINT) AS n_types,
          |      sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 6)
          |               AS DECIMAL(38,6))) AS s
          |      FROM c GROUP BY 1)
          |SELECT doc_id, n_tokens, n_types,
          |       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
          |       round(ln(CAST(n_tokens AS DOUBLE))
          |             - (CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) AS entropy
          |FROM d ORDER BY doc_id""".stripMargin,
      "q77_zorder" -> {
        // ZOrder.zValue replayed bit-for-bit: bit i of x to position 2i,
        // bit i of y to 2i+1, summed over the 10-bit domain
        val interleave = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH b AS (SELECT event_id, user_id % 1024 AS x,
           |           (epoch_ns(ts) // 3600000000000) % 1024 AS y FROM events)
           |SELECT event_id, x, y, CAST($interleave AS BIGINT) AS z
           |FROM b ORDER BY event_id""".stripMargin
      },
      "q76_weighted_sample" -> {
        // weightedPerGroup's bounded top-k replayed as the full-sort window
        // form: same key = round(ln((hash+1)/2^31) / w, 12), DESC, id
        // tie-break
        val u = graft.operators.Sampling.unitHashSql("doc_id")
        s"""WITH h AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
           |           round(ln($u + (1.0 / 2147483648)) / CAST(n_chars AS DOUBLE), 12) AS key
           |           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
           |r AS (SELECT source, doc_id, n_chars,
           |      row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rank
           |      FROM h)
           |SELECT source, doc_id, n_chars, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 25 ORDER BY source, rank""".stripMargin
      },
      "q75_hist_quantiles" ->
        // histQuantiles replayed: integer rank targets (ceil via
        // (n*p+99)//100), cumulative bucket counts, one interpolation
        // expression with the same parenthesization, exact = value at the
        // target rank per group
        """WITH r AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
          |           FROM events WHERE value IS NOT NULL),
          |hist AS (SELECT grp, CAST(floor(v / 5.0e0) AS BIGINT) AS bucket,
          |                CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1, 2),
          |cum AS (SELECT grp, bucket, cnt,
          |        sum(cnt) OVER (PARTITION BY grp ORDER BY bucket
          |                       ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
          |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY 1),
          |t AS (SELECT grp, p.p, (n * p.p + 99) // 100 AS target
          |      FROM n CROSS JOIN (VALUES (25), (50), (75), (90), (99)) p(p)),
          |est AS (SELECT t.grp, t.p,
          |        round(5.0e0 * CAST(bucket AS DOUBLE)
          |              + 5.0e0 * (CAST(target - (cum - cnt) AS DOUBLE)
          |                         / CAST(cnt AS DOUBLE)), 6) AS est_q
          |        FROM t JOIN cum ON t.grp = cum.grp
          |        WHERE cum >= target AND (cum - cnt) < target),
          |rk AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn FROM r),
          |ex AS (SELECT t.grp, t.p, rk.v AS exact_q
          |       FROM t JOIN rk ON t.grp = rk.grp AND rk.rn = t.target)
          |SELECT est.grp AS event_type, CAST(est.p AS BIGINT) AS p, est_q, exact_q
          |FROM est JOIN ex ON est.grp = ex.grp AND est.p = ex.p
          |ORDER BY event_type, p""".stripMargin,
      "q74_sim_topk_pq" -> {
        // ADC replayed off the stored codebooks/codes: per-(q, sub, cid)
        // partials = round(list_dot_product(slice, center), 12) summed as
        // DECIMAL(38,12) (exact, order-independent), then the same double
        // divide/round(6) ranking key with vec_id tie-break.
        val p = sys.props.getOrElse("graft.pq.path",
          pqIndexPath("/root/testdata/sf0.01"))
        s"""WITH books AS (SELECT sub, cid, center::DOUBLE[] AS center
           |               FROM read_parquet('$p/codebooks/*.parquet')),
           |codes AS (SELECT vec_id, sub, code FROM read_parquet('$p/codes/*.parquet')),
           |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
           |      FROM embeddings WHERE vec_id < 5),
           |part AS (SELECT q_id, sub, cid,
           |  CAST(round(list_dot_product(
           |         q_emb[CAST(sub*8+1 AS INTEGER):CAST(sub*8+8 AS INTEGER)], center), 12)
           |       AS DECIMAL(38,12)) AS qpart,
           |  CAST(round(list_dot_product(center, center), 12)
           |       AS DECIMAL(38,12)) AS cpart
           |  FROM q CROSS JOIN books),
           |qn AS (SELECT vec_id AS q_id, sqrt(list_dot_product(embedding::DOUBLE[],
           |              embedding::DOUBLE[])) AS qnorm
           |       FROM embeddings WHERE vec_id < 5),
           |sc AS (SELECT q_id, vec_id, sum(qpart) AS dots, sum(cpart) AS n2s
           |       FROM codes JOIN part ON codes.sub = part.sub AND codes.code = part.cid
           |       GROUP BY 1, 2),
           |co AS (SELECT q_id, vec_id,
           |       round(CAST(dots AS DOUBLE) / (qnorm * sqrt(CAST(n2s AS DOUBLE))), 6) AS cos_pq
           |       FROM sc JOIN qn USING (q_id) WHERE q_id <> vec_id),
           |r AS (SELECT q_id, vec_id, cos_pq,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos_pq DESC, vec_id) AS rank
           |      FROM co)
           |SELECT q_id, vec_id, cos_pq, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      },
      "q73_bloom_filter" ->
        // bloomBuild/bloomContains replayed bit-for-bit: positions from the
        // portable row-hash family mod m, the 64-bit word grid via bit_or
        // of shifted bits, membership = min over the key's k bits
        s"""WITH bl AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 = 0),
           |bp AS (SELECT ((${polyHashSql("text")} * (2*r.i + 3) + r.i) % 2147483647) % 4096 AS pos
           |       FROM bl CROSS JOIN range(0, 4) r(i)),
           |grid AS (SELECT pos // 32 AS word,
           |                bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
           |         FROM bp GROUP BY 1),
           |cp AS (SELECT doc_id, text,
           |              ((${polyHashSql("text")} * (2*r.i + 3) + r.i) % 2147483647) % 4096 AS pos
           |       FROM documents CROSS JOIN range(0, 4) r(i)),
           |chk AS (SELECT doc_id, text,
           |        min(CASE WHEN (coalesce(bits, 0) &
           |                       (CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER))) <> 0
           |                 THEN 1 ELSE 0 END) AS allset
           |        FROM cp LEFT JOIN grid ON pos // 32 = grid.word GROUP BY 1, 2)
           |SELECT doc_id, allset = 1 AS bloom_hit,
           |       text IN (SELECT text FROM bl) AS exact_member
           |FROM chk ORDER BY doc_id""".stripMargin,
      "q72_range_join" ->
        // RangeJoin.pointInInterval is an exact rewrite of the non-equi
        // BETWEEN join, so the oracle uses the plain range predicate — the
        // strongest check: DuckDB never sees the bucketization at all
        """WITH p AS (SELECT event_id, epoch_us(ts) AS t_us, value FROM events),
          |iv AS (SELECT event_id AS interval_id, epoch_us(ts) AS start_us,
          |              epoch_us(ts) + (event_id % 7 + 1) * 3600000000 AS end_us
          |       FROM events WHERE event_id % 100 = 0)
          |SELECT interval_id, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM p JOIN iv ON p.t_us >= iv.start_us AND p.t_us <= iv.end_us
          |GROUP BY 1 ORDER BY interval_id""".stripMargin,
      "q59_mixture" -> { // mixtureSample = quotaPerGroup with per-source quotas
        val u = graft.operators.Sampling.unitHashSql("doc_id", salt = 0)
        s"""WITH h AS (SELECT source, doc_id, $u AS u FROM documents
           |           WHERE source IN ('src0', 'src1', 'src2', 'src3')),
           |r AS (SELECT source, doc_id, row_number() OVER (
           |        PARTITION BY source ORDER BY u, doc_id) AS rank FROM h)
           |SELECT source, doc_id, CAST(rank AS BIGINT) AS rank FROM r
           |WHERE rank <= CASE source WHEN 'src0' THEN 16 WHEN 'src1' THEN 12
           |                          WHEN 'src2' THEN 8 WHEN 'src3' THEN 4
           |                          ELSE 0 END
           |ORDER BY source, rank""".stripMargin
      },
      "q56_pack_sequences" -> // the greedy fold as per-group row recursion
        s"""$packWith
           |SELECT pack_group, doc_id, n_tokens, bin_id FROM pack
           |ORDER BY pack_group, doc_id""".stripMargin,
      "q60_pack_stats" -> // same recursion, aggregated per pack group;
        // utilization in exact integer ppm (floor div) — see Packing.packStats
        s"""$packWith
           |SELECT pack_group, CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |       CAST((sum(n_tokens) * 1000000) // ((max(bin_id) + 1) * 512) AS BIGINT)
           |         AS utilization_ppm
           |FROM pack GROUP BY pack_group ORDER BY pack_group""".stripMargin,
      "q57_pii_redact" -> {
        val email = graft.operators.TextAnalysis.EmailPattern
        val phone = graft.operators.TextAnalysis.PhonePattern
        s"""WITH p AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
           |  '@example.com or +1 555 000 ' || CAST(doc_id % 10000 AS VARCHAR) ||
           |  ' now' AS t
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
           |                 '$phone', '<PHONE>', 'g') AS redacted,
           |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones
           |FROM p ORDER BY doc_id""".stripMargin
      },
      "q58_bpe_subwords" -> {
        // Replays the one-at-a-time leftmost/lowest-rank merge application
        // (Bpe.encode's exact algorithm) as a recursive CTE over the merges
        // parquet q58 trained: each step rewrites one token's symbol list,
        // and a token is done when no adjacent pair is in the table (its
        // final state is its minimum-length row). Pair keys are
        // lhs||chr(1)||rhs — fine for any corpus without control chars.
        val p = sys.props.getOrElse("graft.bpe.path",
          bpeMergesPath("/root/testdata/sf0.01"))
        s"""WITH RECURSIVE
           |mm AS (SELECT map(list(lhs || chr(1) || rhs ORDER BY rank),
           |                  list(rank ORDER BY rank)) AS mp
           |       FROM read_parquet('$p/*.parquet')),
           |tok AS (SELECT DISTINCT token FROM (
           |          SELECT unnest(string_split(text, ' ')) AS token
           |          FROM documents) _t WHERE token <> ''),
           |enc(token, syms) AS (
           |  SELECT token, string_split(token, '') FROM tok
           |  UNION ALL
           |  SELECT token,
           |    syms[1:(b.i)-1] || [syms[b.i] || syms[b.i+1]] || syms[(b.i)+2:]
           |  FROM (
           |    SELECT e.token, e.syms,
           |      list_sort(list_filter(
           |        list_transform(range(1, len(e.syms)), i ->
           |          {'r': map_extract(mm.mp, e.syms[i] || chr(1) || e.syms[i+1])[1],
           |           'i': i}),
           |        s -> s.r IS NOT NULL))[1] AS b
           |    FROM enc e, mm) _s
           |  WHERE b IS NOT NULL),
           |pc AS (SELECT token, CAST(min(len(syms)) AS BIGINT) AS n_pieces
           |       FROM enc GROUP BY token),
           |dt AS (SELECT doc_id, token FROM (
           |         SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |         FROM documents) _d WHERE token <> '')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(n_pieces) AS BIGINT) AS n_subwords
           |FROM dt JOIN pc USING (token) GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      "q43_text_normalize" ->
        """SELECT doc_id,
          |  trim(regexp_replace(regexp_replace(lower(text || '  MIXED-Case!! 42 '), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
          |  CAST(len(regexp_extract_all(lower(text || ' x9z.'), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subwords
          |FROM documents ORDER BY doc_id""".stripMargin,
      // mirrors synthMedia's dimension contract: the Spark side must recover
      // these numbers by parsing real BMP / PPM bytes; the oracle computes
      // them from the same document fields (incl. the BMP 54-byte header +
      // 4-byte row padding and the PPM per-frame ASCII header arithmetic).
      // The planted near-dup ids (doc_id % 16 IN (2, 4)) are fixed 32×32
      // BMPs — the oracle predicts that branch from the id alone.
      "q41_multimodal_meta" ->
        """WITH d AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 16 IN (2, 4) THEN 32
          |         ELSE 1 + octet_length(encode(text)) % 64 END AS w,
          |    CASE WHEN doc_id % 16 IN (2, 4) THEN 32
          |         ELSE 1 + doc_id % 64 END AS h,
          |    1 + doc_id % 8 AS f
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(CASE WHEN doc_id % 2 = 0
          |    THEN 54 + ((3 * w + 3) // 4) * 4 * h
          |    ELSE f * (length('P6' || chr(10) || CAST(w AS VARCHAR) || ' '
          |              || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10))
          |              + 3 * w * h)
          |  END AS BIGINT) AS n_bytes,
          |  CAST(w AS BIGINT) AS width,
          |  CAST(h AS BIGINT) AS height,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE f END AS BIGINT) AS n_frames
          |FROM d ORDER BY doc_id""".stripMargin
    )
  }
}
