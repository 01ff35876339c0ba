package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.BarrierOps
import org.apache.spark.storage.StorageLevel

/** Graph centrality over an edge list — the quality-propagation primitive a
  * training-data pipeline uses to rank entities (hosts by link graph,
  * suppliers by order graph) before sampling or weighting by importance.
  *
  * PageRank as pure DataFrame plans: a FIXED number of power-iteration
  * rounds, each one join (ranks onto the edge list's src) plus one
  * aggregate (contribution sum per dst). No driver-side state beyond the
  * node count N (one scalar, the catalog-statistic analogue), no RDDs, no
  * mutable accumulators.
  *
  * Scale shape: per round the EDGE list is the big side and it shuffles on
  * src for the join — at rest the edge table would be bucketed/partitioned
  * by src so only the (node-sized) rank table moves. The contribution
  * aggregate partial-combines map-side, so the exchange carries one row per
  * (partition, dst). Rounds are fixed (power iteration converges
  * geometrically in the damping factor; 5 rounds ≈ 0.85^5 = 44% residual,
  * the standard "importance sketch" regime — callers wanting convergence
  * raise `iters`).
  *
  * The edge list and the degree table are each computed ONCE: eagerly
  * checkpointed (a LogicalRDD lineage barrier that also PRESERVES the
  * src hash-partitioning), so every round's join reads the materialized
  * edge layout instead of re-deriving the caller's (possibly expensive)
  * edge plan — without the barrier the fold embeds that subtree 2x per
  * round (44 parquet scans at iters=5 on the q69 pipeline), and without
  * the partitioning-preserving form it re-shuffles the edge set every
  * round. The round fold itself stays composed (~4 ops per round, no
  * analyzer blowup through 20 rounds); checkpoint files are reclaimed on
  * RDD GC under cleanCheckpoints — nothing persisted outlives the call
  * (the q53 leak lesson).
  *
  * Bit-stability for the oracle: rank is FIXED-POINT — a long count of
  * 1e-15 units. Every step is integer arithmetic (integer division for the
  * per-edge share, exact long SUM for the gather, integer damping as
  * `pct/100`), so the whole iteration is exact, order-independent under any
  * partial-aggregation schedule, and replayable verbatim by any engine with
  * 64-bit integers — no IEEE rounding to tie-break. The floor in each
  * division loses < 1e-15 per contribution (bounded by in-degree × 1e-15
  * per node per round — noise for an importance ranking). The damping
  * factor is quantized to hundredths so `d·x` stays integral.
  *
  * Contract: the input edge list must be dangling-free — every node
  * reachable as a dst must also appear as a src (a symmetrized/undirected
  * graph satisfies this; see [[symmetrize]]). Dangling dst nodes would
  * leak rank mass and, worse for determinism, drop out of the next round's
  * join. The converse is NOT required: source-only nodes (zero in-edges)
  * are legal on a directed graph — they keep their teleport mass and keep
  * contributing to their out-neighbors every round. Self-loops are legal.
  */
object Graph {

  /** 1.0 of rank mass in fixed-point units (1e-15 granularity; total mass
    * across all nodes ≤ SCALE, so every intermediate fits a long with
    * ~3 decimal orders of headroom even after the ×damping-pct step). */
  val Scale: Long = 1000000000000000L

  /** Undirect a directed edge list: each distinct (src, dst) emitted both
    * ways. Distinct FIRST, so a directed duplicate cannot double an edge's
    * weight; an edge present in both directions stays deduplicated. */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** `iters` power-iteration rounds of PageRank with damping `d` (quantized
    * to hundredths):
    *   r_{k+1}(v) = (1-d)/N + d * sum over in-edges (u,v) of r_k(u)/deg(u)
    * computed entirely in 1e-15 fixed-point integer units. Output:
    * (node, deg, rank) — rank after the final round as a double, derived by
    * one deterministic `units / 1e15` division. */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame =
    rankResult(rankRounds(rankInit(edges, damping, seeds = None), iters))

  /** Personalized PageRank / TrustRank (Gyöngyi, Garcia-Molina, Pedersen,
    * VLDB 2004): the teleport mass lands only on `seeds` — rank becomes
    * proximity-to-the-trusted-set instead of global importance. The
    * curation use: seed known-good entities (vetted domains, canonical
    * docs), propagate trust over the link/co-occurrence graph, demote the
    * unreachable. Seeds must satisfy the same dangling-free contract
    * (appear as a src); seed rows absent from the graph are ignored, and
    * at least one seed must be present. Same fixed-point arithmetic,
    * plan shape, and scale story as [[pageRank]] — the seed flag is one
    * extra column on the node-sized degree table. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame =
    rankResult(rankRounds(rankInit(edges, damping,
      seeds = Some(seeds.select(col("node")).distinct())), iters))

  /** Checkpointed PageRank state for INCREMENTAL maintenance — the
    * streaming-sketch pattern applied to rank: instead of recomputing from
    * the uniform start after every edge batch, fold the batch into the
    * stored (edges, ranks) state and re-run a few rounds from the WARM rank
    * vector. Power iteration converges to the same fixpoint from any start
    * vector, and a warm start after a small perturbation begins close to
    * that fixpoint — so a per-batch refresh needs far fewer rounds than a
    * cold run. Spec-pinned: on the star fixture warm and cold trajectories
    * land on the IDENTICAL integer fixed point; on the chain (bipartite
    * ping-pong) they settle into terminal cycles within the
    * floor-quantization noise bound of edges·d/(1-d) fixed-point units
    * (measured gap: 5e-15 on ranks of ~1e-1). SCALING.md records the
    * per-batch cost.
    *
    * Both frames are eagerly checkpointed, so a daemon folding batches
    * forever holds a bounded lineage: `edges` is (src,dst) hash-partitioned
    * by src (the at-rest bucketed layout), `ranks` is the node-sized
    * (node, deg, tele, ru) table with ru in 1e-15 fixed-point units.
    * Superseded checkpoint files are reclaimed on RDD GC under
    * `cleanCheckpoints` — state never accumulates. */
  final case class RankState private[operators] (
      edges: DataFrame, ranks: DataFrame, dPct: Int, seeded: Boolean)

  /** Build rank state from an edge list (same contract as [[pageRank]]:
    * dangling-free; parallel edges count as parallel). Ranks start at the
    * uniform teleport share — run [[rankRounds]] to iterate. */
  def rankInit(edges: DataFrame, damping: Double = 0.85,
      seeds: Option[DataFrame] = None): RankState = {
    val dPct = math.round(damping * 100).toInt
    require(dPct > 0 && dPct < 100,
      s"damping must quantize into (0,1) hundredths, got $damping")
    val spark = edges.sparkSession
    graft.util.Checkpoints.ensureDir(spark)
    // Materialize the edge list ONCE, hash-partitioned by src, via an eager
    // reliable checkpoint: checkpoint preserves the physical partitioning
    // through its LogicalRDD leaf, so every round's edges⋈ranks join reuses
    // the layout and the per-round exchange moves only the NODE-sized rank
    // table — the at-rest "edge table bucketed by src" shape, made real.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .barrier()
    // the node table carries the per-node teleport flag: 1 for every node
    // in the global walk, seed-membership for the personalized one
    val degPlain = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val deg = seeds match {
      case None => degPlain.withColumn("tele", lit(1L))
      case Some(sd) => degPlain
        .join(sd.select(col("node")).distinct().withColumn("tele", lit(1L)),
          Seq("node"), "left")
        .withColumn("tele", coalesce(col("tele"), lit(0L)))
    }
    val r0 = withUniformRu(deg.barrier(), seeded = seeds.isDefined)
    RankState(e, r0.barrier(), dPct, seeded = seeds.isDefined)
  }

  /** Advance `rounds` power-iteration rounds from the state's CURRENT rank
    * vector (warm start) and checkpoint the result. The teleport constants
    * (N, seed count) are re-derived from the node table each call, so a
    * state whose graph grew via [[rankInsert]] uses the grown N. */
  def rankRounds(st: RankState, rounds: Int): RankState = {
    // N via one scalar count off the (node-sized, checkpointed) rank
    // table — the catalog-statistic analogue (same pattern as BM25's
    // corpus constants); folded into the per-round expression as a
    // plan-time literal. For the personalized walk the teleport mass
    // divides over the PRESENT seed count instead.
    val nTele = if (!st.seeded) st.ranks.count()
      else st.ranks.filter(col("tele") === 1L).count()
    require(nTele > 0, "rankRounds: empty graph (or no seed present)")
    val baseU = (100L - st.dPct) * Scale / (100L * nTele) // (1-d)/|teleport set|, floored
    val deg = st.ranks.select(col("node"), col("deg"), col("tele"))
    val out = (1 to rounds).foldLeft(st.ranks) { (ranks, _) =>
      val contrib = st.edges.join(ranks, st.edges("src") === ranks("node"))
        .select(st.edges("dst").as("node"), expr("ru div deg").as("c"))
      val sums = contrib.groupBy("node").agg(sum(col("c")).as("sc"))
      // the dangling-free contract guarantees every dst appears as a src,
      // but NOT the converse: a source-only node (zero in-edges) has no row
      // in sums. Left-join from the (node-complete, checkpointed) node
      // table so such a node keeps its rank row — teleport mass plus zero
      // gathered mass — instead of silently vanishing from later rounds.
      deg.join(sums, Seq("node"), "left").select(col("node"), col("deg"), col("tele"),
        (lit(baseU) * col("tele") +
          expr(s"(${st.dPct} * coalesce(sc, 0L)) div 100")).as("ru"))
    }
    st.copy(ranks = out.barrier())
  }

  /** Fold a batch of edge INSERTS into the state and advance `rounds` from
    * the warm rank vector. Batch edges already present in the graph are
    * ignored (set semantics for the delta); genuinely new edges bump the
    * source's degree, and genuinely new nodes enter at the uniform teleport
    * share (the r0 formula) while every existing node keeps its current
    * rank — the warm start. The MERGED graph must satisfy the same
    * dangling-free contract as [[pageRank]] (a symmetrized batch always
    * does). On the personalized walk, new nodes join with teleport flag 0
    * (the seed set is fixed at [[rankInit]]).
    *
    * Scale shape: the anti-join and degree delta are sized by the BATCH;
    * the one corpus-sized step is re-checkpointing the merged edge list —
    * the same compact-on-write an LSM-style at-rest edge table pays, kept
    * here so every subsequent round still joins against a single
    * src-partitioned layout instead of base ∪ delta (which would re-shuffle
    * the whole base every round). */
  def rankInsert(st: RankState, batch: DataFrame, rounds: Int): RankState = {
    val delta = batch.select(col("src"), col("dst")).distinct()
      .join(st.edges, Seq("src", "dst"), "left_anti")
    val merged = st.edges.union(delta)
      .repartition(col("src")).sortWithinPartitions("src")
      .barrier()
    val dDelta = delta.groupBy(col("src").as("node")).agg(count(lit(1)).as("d2"))
    val newTele = if (st.seeded) 0L else 1L
    val grown = st.ranks.join(dDelta, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("d2"), lit(0L))).as("deg"),
        coalesce(col("tele"), lit(newTele)).as("tele"),
        col("ru"))
    // new nodes (null ru) get the uniform share over the GROWN teleport set
    val warm = withUniformRu(grown, st.seeded, keepExisting = true)
    rankRounds(st.copy(edges = merged,
      ranks = warm.barrier()), rounds)
  }

  /** (node, deg, rank) with rank as a double — one deterministic
    * `units / 1e15` division off the state's fixed-point vector. */
  def rankResult(st: RankState): DataFrame =
    st.ranks.select(col("node"), col("deg"),
      (col("ru").cast("double") / lit(Scale.toDouble)).as("rank"))

  /** Attach the uniform-teleport-share start vector: ru = Scale/|teleport
    * set| × tele. With `keepExisting`, only null-ru rows (new nodes) are
    * filled. Runs one node-table count — callers pass a checkpointed or
    * batch-sized frame. */
  private def withUniformRu(nodes: DataFrame, seeded: Boolean,
      keepExisting: Boolean = false): DataFrame = {
    val nTele = if (!seeded) nodes.count()
      else nodes.filter(col("tele") === 1L).count()
    require(nTele > 0, "pageRank on an empty edge list (or no seed present)")
    val uniform = lit(Scale / nTele) * col("tele")
    val ru = if (keepExisting) coalesce(col("ru"), uniform) else uniform
    nodes.select(col("node"), col("deg"), col("tele"), ru.as("ru"))
  }

  /** Multi-source BFS shortest hop distance (the iterative-join form of
    * Pregel SSSP; Malewicz et al., SIGMOD 2010): label every node reachable
    * from `sources` within `maxHops` directed hops with its MINIMUM hop
    * count. The curation use: "how far is this page/doc/entity from the
    * trusted seed set" as a hard radius gate — the discrete complement of
    * [[personalizedPageRank]]'s soft proximity score.
    *
    * Frontier form, NOT dense relaxation: round k joins only the
    * newly-settled frontier (nodes first reached at distance k-1) against
    * the edge list, then anti-joins the settled set — BFS's per-round work
    * is proportional to the FRONTIER's out-edges, not the graph. A dense
    * Bellman-Ford-style sweep re-scans every edge every round; on a
    * 100 TB edge table with a 6-hop effective diameter that is 6 full
    * scans vs one scan's worth of touched edges total. Each round's
    * frontier and settled set are eagerly checkpointed (lineage barrier;
    * files reclaimed on RDD GC under cleanCheckpoints), the edge list is
    * checkpointed ONCE hash-partitioned by src so every round's join moves
    * only the frontier — the [[pageRank]] layout. Driver state per round:
    * one count (the loop-termination scalar).
    *
    * Exactness: BFS settles each node at its true minimum distance, so the
    * result is exact for every node within `maxHops` — no iteration
    * mirroring needed by an oracle; a hop-capped reachability recursion
    * computes the identical set. Sources absent from the graph are still
    * emitted at distance 0 (they are legitimate query points); unreachable
    * nodes are absent from the output. Output: (node, dist). */
  def shortestHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val spark = edges.sparkSession
    graft.util.Checkpoints.ensureDir(spark)
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).sortWithinPartitions("src")
      .barrier()
    var frontier = sources.select(col("node").cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L)).barrier()
    var settled = frontier
    var k = 0L
    var frontierN = frontier.count()
    while (frontierN > 0 && k < maxHops) {
      k += 1
      val next = e.join(frontier.select(col("node").as("src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("dist", lit(k))
        .barrier()
      settled = settled.union(next).barrier()
      frontier = next
      frontierN = next.count()
    }
    settled
  }

  /** HITS hubs and authorities (Kleinberg, JACM 1999) — `iters` rounds of
    * the mutual-reinforcement recurrence over a DIRECTED edge list:
    *   a_k(v) = Σ over in-edges (u,v) of h_{k-1}(u)
    *   h_k(u) = Σ over out-edges (u,v) of a_k(v)
    * starting from h_0 ≡ 1. The curation use: on a link/citation graph,
    * authorities are the pages worth keeping, hubs are the directories
    * that FIND them — a different signal from PageRank (a hub can rank
    * high while linking out to everything and being linked by nothing).
    *
    * UNNORMALIZED integer scores, deliberately: Kleinberg's per-round L2
    * normalization only rescales — the RANKING after k rounds is identical
    * without it — and dropping it keeps every step an exact long sum,
    * bit-stable under any partial-aggregation schedule and replayable
    * verbatim by the SQL oracle as k unrolled join-aggregates (the
    * [[pageRank]] fixed-point discipline, with no division at all).
    * Growth bound: scores multiply by at most max-degree² per round, so
    * longs hold iters=2 up to ~10^4 average degree and iters=3 up to
    * ~10^2; at larger k×degree a production caller adds a per-round
    * integer downscale (`a div 2^s`) — same plan, documented trade.
    *
    * No dangling contract: nodes missing from a round's gather keep score
    * 0 via the left-join + coalesce against the fixed endpoint universe —
    * a pure source has auth 0, a pure sink hub 0, and both stay in the
    * output. Parallel edges are deduplicated (set semantics, the standard
    * adjacency-matrix formulation). Per round: two edge⋈score joins over
    * the ONE src-partitioned checkpointed edge layout + two node-keyed
    * sums that partial-combine map-side — only node-sized tables move.
    * Output: (node, hub, auth) after round `iters`. */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, "hits needs at least one round")
    val spark = edges.sparkSession
    graft.util.Checkpoints.ensureDir(spark)
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).sortWithinPartitions("src")
      .barrier()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .barrier()
    var scores = nodes.select(col("node"), lit(1L).as("hub"), lit(0L).as("auth"))
    for (_ <- 1 to iters) {
      val aSums = e.join(scores.select(col("node").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("hub").as("sa"))
      val withA = nodes.join(aSums, Seq("node"), "left")
        .select(col("node"), coalesce(col("sa"), lit(0L)).as("auth"))
      val hSums = e.join(withA.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum("auth").as("sh"))
      scores = nodes.join(hSums, Seq("node"), "left").join(withA, Seq("node"))
        .select(col("node"), coalesce(col("sh"), lit(0L)).as("hub"), col("auth"))
        .barrier()
    }
    scores
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara, Phys. Rev. E 76, 2007): every node starts in its own
    * community (label = node id); each round, every node adopts the label
    * most frequent among its in-neighbors, ties broken toward the SMALLEST
    * label — a deterministic refinement of the paper's random tie-break,
    * so the result is bit-stable under any partitioning and replayable by
    * the SQL oracle. A fixed round count (the caller's `rounds`) replaces
    * the paper's convergence test, same as [[pageRank]]'s fixed power
    * iterations. The curation use: cluster the near-dup / co-occurrence
    * graph into families without choosing k (the complement of k-means
    * cells in SemDeDup).
    *
    * Votes are PER EDGE ROW: parallel edges weight their endpoint's vote.
    * Same dangling-free contract as [[pageRank]] (every dst appears as a
    * src; [[symmetrize]] satisfies it and makes propagation undirected).
    * A node with no in-edges keeps its current label (left-join +
    * coalesce — never dropped).
    *
    * Scale shape, per round: edges⋈labels on src over the ONE eagerly
    * checkpointed src-partitioned edge layout (only the node-sized label
    * table moves), then a (node,label)-keyed count that partial-combines
    * map-side, then a node-keyed arg-max as a plain `max(struct)` aggregate
    * — no window, so a celebrity node's votes collapse before the exchange.
    * Output: (node, label). Cold wrapper over the warm-foldable
    * [[lpInit]]/[[lpRounds]] state (same pattern as [[rankInit]]). */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame =
    lpRounds(lpInit(edges), rounds).labels

  /** Warm label-propagation state, the [[RankState]] pattern: `edges` is
    * the src-partitioned checkpointed layout, `labels` the node-sized
    * (node, label) table at the current iterate. A daemon folds batches
    * with [[lpInsert]]; bounded lineage via eager checkpoints throughout. */
  final case class LabelState private[operators] (
      edges: DataFrame, labels: DataFrame)

  /** Build label state (every node its own community); run [[lpRounds]]
    * to iterate. Same dangling-free contract as [[labelPropagation]]. */
  def lpInit(edges: DataFrame): LabelState = {
    val spark = edges.sparkSession
    graft.util.Checkpoints.ensureDir(spark)
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .barrier()
    val labels0 = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    LabelState(e, labels0.barrier())
  }

  /** Advance `rounds` synchronous vote rounds from the CURRENT labels
    * (warm start) and checkpoint the result. */
  def lpRounds(st: LabelState, rounds: Int): LabelState = {
    require(rounds >= 0, "rounds must be non-negative")
    val out = (1 to rounds).foldLeft(st.labels) { (labels, _) =>
      val votes = st.edges.join(labels, st.edges("src") === labels("node"))
        .groupBy(st.edges("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // arg-max as one aggregate: max (cnt, -label) picks the highest
      // count, then the smallest label — no per-node window sort
      val winners = votes.groupBy("node")
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("w"))
        .select(col("node"), (-col("w.nl")).as("__next"))
      labels.join(winners, Seq("node"), "left")
        .select(col("node"), coalesce(col("__next"), col("label")).as("label"))
    }
    if (rounds == 0) st else st.copy(labels = out.barrier())
  }

  /** Fold a batch of edge INSERTS into the state and advance `rounds`
    * warm vote rounds — the per-batch daemon path ([[rankInsert]]'s
    * pattern applied to community maintenance). Batch edges already
    * present are ignored (set semantics); genuinely new nodes enter in
    * their own community (the init rule) while every existing node keeps
    * its CURRENT label — a batch that attaches to a settled community
    * re-converges in the few rounds it takes votes to reach the new
    * nodes, instead of the full cold round budget. The merged graph must
    * keep the dangling-free contract (a symmetrized batch always does).
    *
    * Scale shape: the anti-join delta is batch-sized; the one corpus-sized
    * step is re-checkpointing the merged src-partitioned edge layout
    * (the same compact-on-write [[rankInsert]] pays, for the same reason:
    * every later round must join ONE layout, not base ∪ delta). */
  def lpInsert(st: LabelState, batch: DataFrame, rounds: Int): LabelState = {
    val delta = batch.select(col("src"), col("dst")).distinct()
      .join(st.edges, Seq("src", "dst"), "left_anti")
    val merged = st.edges.union(delta)
      .repartition(col("src")).sortWithinPartitions("src")
      .barrier()
    val warm = merged.select(col("src").as("node")).distinct()
      .join(st.labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    lpRounds(LabelState(merged, warm.barrier()), rounds)
  }

  /** Fold one streaming batch of edges into AT-REST label-propagation
    * state — [[lpInsert]] lifted onto disk with the
    * [[Retrieval.invIndexInsert]] crash/retry protocol, so a daemon
    * maintains graph state exactly the way it maintains the BM25 index
    * (one idempotent fold per streaming batch id, single writer by
    * contract).
    *
    * Layout under `path`:
    *   edges/batch-<id>/: that batch's NEW symmetrized edges. Per-batch
    *     `overwrite` is naturally idempotent — a retried batch rewrites
    *     the same deterministic rows into the same directory.
    *   state/: labels/ (node, label at the current iterate) + meta/
    *     (one row: last_batch). Committed as ONE directory swap
    *     (state_staged_b<id> write → rename state→state_old_b<id> →
    *     rename staged→state → delete old), so labels and the batch
    *     marker can never disagree: a retry sees either the old state
    *     (redoes the fold from the same warm labels — deterministic) or
    *     the new marker (no-ops). Entry-time recovery rolls a mid-swap
    *     crash forward from the staged twin or back from the old one,
    *     mirroring the invIndexInsert stats swap.
    *
    * Fold semantics = [[lpInsert]] (set-union edges, warm labels, `rounds`
    * vote rounds); a cold path (no state yet) runs [[lpInit]] +
    * `coldRounds` so batch 0 rides the same protocol. Batch edges are
    * symmetrized here — the merged graph keeps lpRounds' dangling-free
    * contract no matter what pair orientation the caller found. */
  def lpCommitBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      batchEdges: DataFrame, batchId: Long, rounds: Int = 2,
      coldRounds: Int = 5): Unit = {
    import graft.util.Lsm
    import org.apache.hadoop.fs.Path
    graft.util.Checkpoints.ensureDir(spark)
    val fs = Lsm.fs(spark, path)
    Lsm.recoverSwap(fs, path, "state")
    // shared entry (no marked bucket roots — state commits as ONE swap)
    val entry = Lsm.enterBatch(spark, fs, path, batchId,
      metaDir = "state/meta")
    if (entry.alreadyCommitted) return
    val lastBatch = entry.lastBatch
    val sym = symmetrize(batchEdges)
    sym.write.mode("overwrite").parquet(s"$path/edges/batch-$batchId")
    val prevDirs =
      if (!fs.exists(new Path(s"$path/edges"))) Seq.empty[String]
      else fs.listStatus(new Path(s"$path/edges")).map(_.getPath)
        .filter(p => p.getName.startsWith("batch-") &&
          p.getName != s"batch-$batchId")
        .map(_.toString).toSeq
    val next =
      // no committed state: cold rebuild over EVERYTHING at rest (prev
      // dirs survive a crash-after-edges-write retry, or a manually
      // repaired tree) plus this batch — never a warm read of labels
      // that don't exist
      if (lastBatch < 0) {
        val all = if (prevDirs.isEmpty) sym
          else sym.unionByName(spark.read.parquet(prevDirs: _*))
        lpRounds(lpInit(all), coldRounds)
      } else {
        // reconstruct the warm LabelState from rest: prior edges in the
        // src-partitioned checkpointed layout the round joins require,
        // labels as the stored iterate — then the standard warm fold
        val e = spark.read.parquet(prevDirs: _*)
          .repartition(col("src")).sortWithinPartitions("src")
          .barrier()
        val labels = spark.read.parquet(s"$path/state/labels")
          .barrier()
        lpInsert(LabelState(e, labels), sym, rounds)
      }
    import spark.implicits._
    val staged = Lsm.stagedPath(path, "state", batchId)
    fs.delete(new Path(staged), true)
    next.labels.write.mode("overwrite").parquet(s"$staged/labels")
    Seq(batchId).toDF("last_batch").write.mode("overwrite")
      .parquet(s"$staged/meta")
    Lsm.commitSwap(fs, path, "state", batchId)
  }

  /** The labels an at-rest [[lpCommitBatch]] tree currently serves. */
  def lpServedLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/state/labels")

  /** Per-node triangle counts by degree-ordered wedge enumeration
    * (Schank & Wagner 2005; the standard distributed-triangle algorithm,
    * cf. Cohen, CiSE 2009; Suri & Vassilvitskii, WWW 2011): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher,
    * enumerate wedges only at their lowest-rank apex, and close each
    * wedge against the oriented edge set. Each triangle is found exactly
    * once, then attributed to all three corners.
    *
    * Why the orientation matters at 100 TB: naive wedge counting pays
    * Σ deg(v)² — a single celebrity node explodes it. Orienting by degree
    * bounds every out-degree by O(√m), so the wedge table (the one
    * super-linear intermediate) is O(m^1.5) worst-case and near-linear on
    * real skewed graphs — the hot node contributes NOTHING as an apex.
    *
    * Plan shape: degree aggregate, two joins to attach endpoint degrees,
    * one self-join on the apex (wedge generation), one equi-join against
    * the oriented edges (closure), one explode + count. All equi joins on
    * keys — AQE skew splitting applies to every stage.
    *
    * Input: an edge list, any direction, duplicates and self-loops
    * tolerated (canonicalized away). Output: (node, n_triangles) for
    * nodes in at least one triangle. */
  def trianglesPerNode(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val lowFirst = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    // orient low-rank -> high-rank, rank = (deg, node); carry the target's
    // rank so wedge pairs order without another join
    val oriented = lowFirst.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    val wedges = oriented.alias("a").join(oriented.alias("b"),
        col("a.s") === col("b.s") &&
          (col("a.dt") < col("b.dt") ||
            (col("a.dt") === col("b.dt") && col("a.t") < col("b.t"))))
      .select(col("a.s").as("apex"), col("a.t").as("t1"), col("b.t").as("t2"))
    // rank(t1) < rank(t2), so a closing edge is necessarily oriented t1->t2
    val triangles = wedges.join(oriented.select(col("s").as("t1"), col("t").as("t2")),
      Seq("t1", "t2"))
    triangles
      .select(explode(array(col("apex"), col("t1"), col("t2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core peel (Seidman, Social Networks 1983): `rounds` iterations of
    * "drop every node with degree < k, then recount" over the undirected,
    * deduplicated edge set. After enough rounds this is the k-core — the
    * maximal subgraph where every surviving node keeps >= k neighbors
    * INSIDE the subgraph (the standard cohesion gate: a dedup cluster's
    * dense heart vs its chain-merged fringe; a spam-farm detector on the
    * link graph). Output: (node, deg) for survivors, deg = within-core
    * degree after the final round.
    *
    * `rounds` is FIXED (caller-chosen) so the computation is a
    * deterministic, engine-replayable plan — the oracle unrolls the same
    * rounds. Peeling is monotone (survivor sets only shrink), so round
    * r+1 == round r means the true k-core was reached; GraphSpec pins
    * convergence on its fixtures, and callers probe the same way (run
    * rounds, run rounds+1, compare — cheap at one aggregate each).
    *
    * Scale shape per round: one degree aggregate (partial-combines
    * map-side, node-sized exchange) + two semi joins of the edge list
    * against the (node-sized, usually broadcastable) survivor set. The
    * edge frame is eagerly checkpointed each round — without the barrier
    * the plan embeds the previous round's subtree three times per round
    * (3^rounds blowup); with it each round reads the materialized edges.
    * Files are reclaimed on RDD GC under cleanCheckpoints. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    require(rounds >= 1, "kCore needs at least one round")
    graft.util.Checkpoints.ensureDir(edges.sparkSession)
    var e = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .barrier()
    def degrees = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    for (_ <- 1 to rounds) {
      val keep = degrees.filter(col("deg") >= k).select("node")
      e = e.join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .barrier()
    }
    degrees
  }

  /** Strongly connected components of a DIRECTED edge list: every node that
    * appears in `edges` is labeled with the minimum node id of its SCC.
    * Output: (node, scc_id), one row per distinct endpoint, exact (run to
    * fixpoint — not a bounded-round sketch).
    *
    * Physical shape — trim + forward/backward min-label peeling (the
    * DataFrame re-derivation of FW-BW-Trim; Orzan's coloring thesis 2004;
    * Hong, Rodia & Olukotun, PPoPP 2013; Slota, Rajamanickam & Madduri,
    * IPDPS 2014):
    *
    *  1. TRIM: a node with zero in-degree or zero out-degree on the
    *     remaining graph is its own SCC — emitted immediately, its edges
    *     dropped. One trim pass removes every current source/sink layer at
    *     once (the whole DAG fringe), which is what makes the peel count
    *     small on real graphs.
    *  2. LABEL: propagate F(v) = min id forward-reachable from v and
    *     B(v) = min id backward-reachable from v, both to fixpoint.
    *     F flows AGAINST edges (F(u) <- min F over u's out-neighbors),
    *     B flows WITH them; one round folds both directions — two
    *     edge-label joins + two min-aggregates.
    *  3. PEEL: F(v) == B(v) == p proves p ∈ Reach+(v) ∩ Reach-(v), i.e.
    *     v ∈ SCC(p); every SCC containing the min id of its remaining
    *     subgraph peels this round (at minimum, the SCC of the global min —
    *     guaranteed progress). Peeled nodes leave; repeat from 1.
    *
    * Scale shape: the edge set is eagerly checkpointed once per peel and
    * only SHRINKS; each label round joins it against the node-sized label
    * table (edge side partitioned by the join keys at the checkpoint, so
    * rounds re-shuffle only labels — the pageRank layout). Label rounds per
    * peel = O(diameter of the largest remaining SCC); peels are
    * data-dependent — O(1) for one giant SCC plus a DAG fringe (the common
    * web/citation shape), O(chain length) worst-case on a path of
    * singleton SCCs, which trimming collapses at both ends per round. That
    * data-dependence is the documented FW-BW trade; `maxPeels` /
    * `maxLabelRounds` bound both loops and raise rather than emit an
    * unconverged labeling. Label-round convergence is EXACT and free of
    * extra jobs: min-label flooding only ever lowers f/b, so "no row
    * changed" ⟺ fixpoint, observed via `observe()` as a metric of the same
    * job that materializes each round (the connectedComponents protocol).
    * Self-loops are legal (dropped from propagation, node kept). */
  def stronglyConnectedComponents(edges: DataFrame, maxPeels: Int = 30,
      maxLabelRounds: Int = 80): DataFrame = {
    val spark = edges.sparkSession
    graft.util.Checkpoints.ensureDir(spark)
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    var remaining = e0.filter(col("src") =!= col("dst")).barrier()
    // Node universe is fixed up front: a self-loop-only or trimmed-away
    // node must still be labeled.
    var nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .barrier()
    var done: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("scc_id",
          org.apache.spark.sql.types.LongType))))
    var peels = 0
    var nNodes = nodes.count()
    while (nNodes > 0 && peels < maxPeels) {
      peels += 1
      // TRIM: sources, sinks, and edge-less nodes are singleton SCCs.
      val outD = remaining.groupBy(col("src").as("node")).agg(count(lit(1)).as("od"))
      val inD = remaining.groupBy(col("dst").as("node")).agg(count(lit(1)).as("id"))
      val deg = nodes.join(outD, Seq("node"), "left").join(inD, Seq("node"), "left")
      val trimmed = deg.filter(col("od").isNull || col("id").isNull)
        .select(col("node"), col("node").as("scc_id"))
      done = done.union(trimmed).barrier()
      nodes = deg.filter(col("od").isNotNull && col("id").isNotNull)
        .select("node").barrier()
      nNodes = nodes.count()
      if (nNodes > 0) {
        remaining = remaining
          .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .barrier()
        // LABEL to fixpoint: lbl = (node, f, b). One round = ONE gather
        // join + ONE min-aggregate: the forward direction (F(src) gathers
        // F over out-neighbors, i.e. against edge direction) and the
        // backward one (B(dst) gathers B over in-neighbors) ride the same
        // exchange as a 2|E|-row tagged union instead of two separate
        // |E|-row join+agg pipelines — same bytes shuffled, half the
        // stages (r16: the per-round stage count, not the data volume,
        // dominated this loop's wall).
        // materialized hash-partitioned by the gather key (the rankInit
        // layout): every label round's join then moves only the NODE-sized
        // label table, never the 2|E| gather rows
        val gatherEdges = remaining
          .select(col("dst").as("k"), col("src").as("out"), lit(true).as("fw"))
          .union(remaining
            .select(col("src").as("k"), col("dst").as("out"), lit(false).as("fw")))
          .repartition(col("k")).barrier()
        var lbl = nodes.select(col("node"), col("node").as("f"), col("node").as("b"))
          .barrier()
        var stable = false
        var rounds = 0
        while (!stable && rounds < maxLabelRounds) {
          rounds += 1
          val gathered = gatherEdges
            .join(lbl.select(col("node").as("k"),
              col("f").as("fk"), col("b").as("bk")), Seq("k"))
            .groupBy(col("out").as("node"))
            .agg(min(when(col("fw"), col("fk"))).as("fm"),
              min(when(!col("fw"), col("bk"))).as("bm"))
          val next = lbl.join(gathered, Seq("node"), "left")
            .select(col("node"),
              least(col("f"), coalesce(col("fm"), col("f"))).as("f"),
              least(col("b"), coalesce(col("bm"), col("b"))).as("b"),
              (col("fm") < col("f") || col("bm") < col("b")).as("chg"))
          // EXACT fixpoint detection inside the materialization job: min-label
          // flooding only ever LOWERS f/b, so "no row changed this round" ⟺
          // fixpoint — observed as a metric of the same job that materializes
          // the round (replacing the r15 shape's separate signature job +
          // end-of-loop except() confirmation; exact, so neither is needed).
          val obs = org.apache.spark.sql.Observation()
          val prevLbl = lbl
          lbl = next.observe(obs,
              sum(when(col("chg"), 1L).otherwise(0L)).as("changed"))
            .drop("chg")
            .barrier()
          // the new round is materialized (eager barrier) — free the
          // superseded round's blocks NOW rather than on ContextCleaner GC,
          // so a long label loop holds two rounds of state, not all of them
          org.apache.spark.sql.graftbridge.DatasetBridge.releaseBarrier(prevLbl)
          stable = obs.get("changed").asInstanceOf[Long] == 0L
        }
        if (!stable) throw new IllegalStateException(
          s"stronglyConnectedComponents: label fixpoint not reached in $maxLabelRounds rounds")
        // PEEL: F == B identifies the SCC of each remaining subgraph min.
        val peeled = lbl.filter(col("f") === col("b"))
          .select(col("node"), col("f").as("scc_id"))
        done = done.union(peeled).barrier()
        nodes = lbl.filter(col("f") =!= col("b")).select("node")
          .barrier()
        // both consumers of lbl are materialized — free its blocks eagerly
        org.apache.spark.sql.graftbridge.DatasetBridge.releaseBarrier(lbl)
        nNodes = nodes.count()
        if (nNodes > 0) {
          remaining = remaining
            .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .barrier()
        }
      }
    }
    if (nNodes > 0) throw new IllegalStateException(
      s"stronglyConnectedComponents did not converge in $maxPeels peels")
    done
  }

  /** Local clustering coefficient (Watts & Strogatz, Nature 1998):
    * per node, the fraction of its neighbor pairs that are themselves
    * connected — coeff = 2·triangles/(deg·(deg−1)) — the "is this a
    * community or a hub-and-spoke" diagnostic on the near-dup graph
    * (a chain-merged cluster has coeff ≈ 0 at its bridges; a true
    * clique ≈ 1).
    *
    * Rides [[trianglesPerNode]] (degree-ordered, O(m^1.5) bound) plus
    * one degree aggregate and a left join — nodes in no triangle get
    * coeff 0, degree-1 nodes are excluded (coefficient undefined).
    * The ratio is one fixed round-6 formula over exact integers.
    * Output: (node, deg, n_triangles, coeff). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(trianglesPerNode(edges), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double"), 6).as("coeff"))
  }

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * CIKM'03; Adamic & Adar, Social Networks 2003): for every NON-adjacent
    * node pair sharing at least one neighbor, score the missing edge by
    * common-neighbor count, Adamic–Adar (sum of 1/ln(deg) over the shared
    * neighbors — rare neighbors vote louder), and neighborhood Jaccard.
    * In a dedup pipeline this is the "edges the similarity join missed"
    * review queue: two documents tied to the same near-dup cluster core
    * but never directly paired.
    *
    * Plan shape: one degree aggregate, wedge self-join on the apex
    * (candidate pairs materialize ONLY through a shared neighbor — never
    * the node×node cross space), per-pair aggregate, one anti-join against
    * the existing edge set, two node-sized degree joins. All equi-joins —
    * AQE skew-splits every stage.
    *
    * The wedge table is Σ_w deg(w)², so one hub apex is quadratic in its
    * degree: `maxApexDegree` drops apexes above the cap BEFORE wedge
    * generation, bounding the blow-up by construction. The recall trade is
    * explicit and mild — a dropped hub's evidence is the least informative
    * kind (its Adamic–Adar term 1/ln(deg) is smallest), the standard
    * practice for overlap scoring on skewed graphs. Pairs whose ONLY
    * shared neighbors are dropped hubs disappear from the queue.
    *
    * Portability: Adamic–Adar sums round-6 per-apex terms as
    * DECIMAL(38,6) — reduction-order-independent; Jaccard is one fixed
    * double formula rounded to 6. Apexes need deg >= 2 to form a wedge,
    * so ln(deg) >= ln 2 > 0.
    *
    * Input: edge list (src, dst), any direction, duplicates/self-loops
    * tolerated. Output: (u, v, common_neighbors, adamic_adar, jaccard)
    * with u < v, one row per predicted (absent) edge. */
  def linkPrediction(edges: DataFrame, maxApexDegree: Int = 64): DataFrame = {
    require(maxApexDegree >= 2, "maxApexDegree must be >= 2")
    graft.util.Checkpoints.ensureDir(edges.sparkSession)
    // und feeds four consumers (degree aggregate, both adjacency unions,
    // the anti-join) and its upstream is the caller's — possibly expensive
    // (q175: the whole affinity-pair pipeline) — edge plan: materialize
    // once. deg is node-sized with three consumers — same treatment.
    val und = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .barrier(StorageLevel.DISK_ONLY)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .barrier()
    val adj = und.select(col("u").as("apex"), col("v").as("nb"))
      .union(und.select(col("v").as("apex"), col("u").as("nb")))
      .join(deg.select(col("node").as("apex"), col("deg").as("da")), "apex")
      .filter(col("da").between(2, maxApexDegree))
    val wedges = adj.alias("a").join(adj.alias("b"),
        col("a.apex") === col("b.apex") && col("a.nb") < col("b.nb"))
      .select(col("a.nb").as("u"), col("b.nb").as("v"), col("a.da").as("da"))
    val scored = wedges.groupBy("u", "v").agg(
      count(lit(1)).as("common_neighbors"),
      sum(round(lit(1.0) / log(col("da").cast("double")), 6)
        .cast("decimal(38,6)")).as("aa"))
    scored.join(und, Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("common_neighbors"),
        col("aa").cast("double").as("adamic_adar"),
        round(col("common_neighbors").cast("double") /
          (col("du") + col("dv") - col("common_neighbors")).cast("double"), 6)
          .as("jaccard"))
  }

}
