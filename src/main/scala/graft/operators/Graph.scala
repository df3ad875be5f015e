package graft.operators

import graft.core.Checkpoints.StableOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over edge tables derived from relational data.
  *
  * The reference has no graph stage; this extends the engine with the
  * corpus-link-analysis shape a training-data pipeline needs (rank pages /
  * documents by citation structure before sampling). PageRank is the
  * canonical iterative-join workload, and the Spark-first formulation is:
  *
  *  - the edge table (degree attached) is built once, hash-partitioned by
  *    `dst`, and persisted. Each round then joins the RANK VECTOR in as a
  *    broadcast (|V| rows — the small side by graph-theory construction:
  *    rank state is one double per node) and aggregates contributions
  *    grouped by `dst`, which is ALREADY the partitioning key — so a
  *    round moves zero edge bytes and shuffles nothing: broadcast join +
  *    partition-local aggregation;
  *  - when |V| itself is beyond broadcast (billions of nodes),
  *    `broadcastRanks = false` flips to the classic layout: edges
  *    partitioned by `src`, the rank vector shuffled onto it per round
  *    (|V|-row shuffle), contributions re-shuffled by `dst` — the
  *    standard Pregel-style cost. The result is identical;
  *  - rounds chain lazily; only the node count (one scalar, the same
  *    structure k-means keeps on the driver) is read eagerly;
  *  - the per-node contribution sum folds a src-ordered list, so float
  *    addition order is fixed under any partitioning/AQE re-plan — the
  *    [[Similarity]] reproducibility discipline. At production scale the
  *    fold can be a plain `sum` (order tolerance is acceptable there);
  *    the ordered fold is what makes the op oracle-checkable. For deep
  *    iteration counts, checkpoint the rank vector every few rounds to
  *    truncate lineage (not needed at the fixed 3 rounds used here).
  */
object Graph {

  /** Undirected pairs (`pa < pb`, deduplicated) -> both-direction edge
    * list. Both legs are disjoint and duplicate-free by construction, so
    * no distinct pass. */
  def directedEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(pairs.select(col("pb").as("src"), col("pa").as("dst")))

  /** Node degrees of the undirected pair table, via a single explode
    * scan (each endpoint occurrence counts once) — same counts as
    * grouping [[directedEdges]] by src at half the input volume. */
  private def degrees(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("pa"), col("pb"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** Degree-ordered edge orientation: every undirected edge points from
    * its lower-(degree, id) endpoint to the higher one. The total order
    * makes the oriented graph acyclic, and — the classic triangle-count
    * refinement — bounds any node's OUT-degree by O(sqrt(m)): a hub's
    * edges all point INTO it, so the wedge step never enumerates a hub's
    * neighbor pairs. Returns (src, dst, ddeg) with ddeg = dst's degree
    * (the rank key the wedge join orders on).
    *
    * The degree table is |V| rows (one long per node) and is broadcast
    * by default, so the pair table takes both degree attaches map-side
    * without shuffling; `broadcastDeg = false` flips to shuffle joins
    * for the billions-of-nodes layout (the [[pageRank]]
    * `broadcastRanks` convention). */
  def orientByDegree(pairs: DataFrame, broadcastDeg: Boolean = true): DataFrame = {
    val deg = degrees(pairs)
    val degSide = if (broadcastDeg) broadcast(deg) else deg
    pairs
      .join(degSide.select(col("v").as("pa"), col("deg").as("da")), "pa")
      .join(degSide.select(col("v").as("pb"), col("deg").as("db")), "pb")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("pa") < col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst"), col("db").as("ddeg")))
          .otherwise(
            struct(col("pb").as("src"), col("pa").as("dst"), col("da").as("ddeg")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
  }

  /** Triangle enumeration with true degree-ordered orientation (not the
    * hashed-id a<b<c approximation): wedges fan out only along oriented
    * out-edges, ordered by the (degree, id) rank so each triangle's
    * lowest-rank node emits exactly one wedge, closed by the oriented
    * third edge. Output triples are id-sorted (a < b < c) — identical
    * rows to the id-ordered formulation, with per-node wedge work
    * bounded by out-degree^2 = O(m) total instead of a hub's deg^2. */
  def trianglesByDegree(pairs: DataFrame): DataFrame = {
    val o = orientByDegree(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = o.select(col("src").as("u"), col("dst").as("v"),
        col("ddeg").as("dv"))
      .join(o.select(col("src").as("u"), col("dst").as("w"),
        col("ddeg").as("dw")), "u")
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // rank(v) < rank(w), so a closing edge {v,w} is oriented v -> w
    val tri = wedges
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("t"))
      .select(element_at(col("t"), 1).as("a"), element_at(col("t"), 2).as("b"),
        element_at(col("t"), 3).as("c"))
      .stableCheckpoint()
    o.unpersist(blocking = false)
    tri
  }

  /** Fixed-iteration SYNCHRONOUS label propagation (community
    * detection) over an undirected pair table (`pa < pb`, deduplicated).
    * Every round, each node adopts the most frequent label among its
    * neighbors' current labels, ties to the SMALLEST label — integer
    * counts plus a total tie order make the algorithm fully
    * deterministic, so (unlike the async textbook variant) the result
    * is exactly replayable in SQL.
    *
    * Scale shape (the [[pageRank]] discipline): the edge table persists
    * once, dst-partitioned; each round broadcasts the |V|-row label
    * vector onto it (set `broadcastLabels=false` for the
    * billions-of-nodes layout — labels then shuffle by key instead) and
    * runs two BOUNDED aggregations: (dst, lbl) counts, then the
    * per-dst argmax as a map-side-combinable `max(struct)` — never a
    * collect of a hub's full neighbor list into one row. */
  def labelPropagation(pairs: DataFrame, iters: Int,
      broadcastLabels: Boolean = true): DataFrame = {
    // shares the rank family's memoized degree-annotated edge cache
    // (the extra `d` column is inert here) instead of building a third
    // near-identical 2|E|-row cache per session — see the rankBase
    // memo note; partitioning is identical (broadcast → dst)
    val (edges, nodes, _) = rankBase(pairs, broadcastLabels)
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    for (i <- 0 until iters) {
      val lv = if (broadcastLabels) broadcast(labels) else labels
      // Round 1 in closed form: initial labels are node ids, so every
      // neighbor label is DISTINCT (the input pair table is
      // deduplicated) — all counts are 1 and the (count desc, label
      // asc) argmax is exactly min(neighbor id). The generic round's
      // (dst, lbl) aggregation has group space == |E| in this one
      // round (its provable worst case — every edge a distinct group);
      // at the 100× frame (160M directed edges) that map, on top of
      // the resident edge cache, pushed the execution pool to zero and
      // KILLED the aggregation at hash-map init under 32 threads × 16g.
      // The closed form is an |V|-group aggregation; later rounds'
      // group spaces are Σ_dst |distinct neighbor labels|, collapsed
      // far below |E| by round 1. Bit-identical output by construction.
      val next =
        if (i == 0)
          edges.groupBy(col("dst"))
            .agg(min(col("src")).as("lbl"))
            .select(col("dst").as("node"), col("lbl"))
        else edges.join(lv, edges("src") === lv("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("best"))
        .select(col("dst").as("node"), (-col("best.nl")).as("lbl"))
      // MATERIALIZE between rounds (final round stays lazy for the
      // caller): lazily-nested rounds hold EVERY round's broadcast
      // hashed relation of the |V|-row label vector in execution
      // memory at once, on top of the resident edge cache and the
      // round-1 aggregation whose group space is ≈|E| while labels
      // are still node ids — at the 100× frame (160M directed edges)
      // that stack exhausted the pool and KILLED the aggregation
      // (SparkOutOfMemoryError at hash-map init, 32 threads × 16g;
      // pageRank's rounds survive the same nesting only because its
      // ordered_sum aggregation is sort-based-fallback and
      // spill-friendly). Checkpointing each intermediate label vector
      // keeps exactly ONE broadcast + one round pipeline live. Costs
      // ~0.1 s per round at sf0.1; identical output (the checkpoint
      // is a pure materialization barrier).
      labels = if (i == iters - 1) next else next.stableCheckpoint()
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Degree-annotated, round-partitioned edge cache + node set — the
    * shared scale shape of [[pageRank]] and [[personalizedPageRank]]
    * (one definition, so the caching/partitioning discipline cannot
    * drift between them). degC is |V| rows — the same cardinality as
    * the rank vector, so it is only safely broadcast when the rank
    * vector is; in the billions-of-nodes layout the degree attach must
    * shuffle too. The eager count fixes the cache's outputPartitioning
    * (an unexecuted AQE plan inside InMemoryRelation reports Unknown,
    * which would re-insert a per-round Exchange before the
    * aggregation). Returns (edges, nodes, degC).
    *
    * MEMOIZED per (pairs plan, layout): the graph family (pagerank /
    * ppr / label-prop) runs over the SAME cached pair table in one
    * session, and each call building and RETAINING its own 2|E|-row
    * cache tripled resident edge bytes — fine while three copies fit
    * (30×), a thrash cliff when they don't (100× in-batch: ppr read
    * 65.8 s vs pagerank's 21.7 on identical round shapes, purely from
    * cache pressure). The first family entry pays the honest build
    * (the DfCache primary-entry convention), the rest reuse.
    *
    * Bounded LRU with EXPLICIT unpersist on eviction, keyed on the
    * CANONICALIZED plan (structural equality — two Datasets over the
    * same pair table share one entry). A weak-keyed memo on the
    * analyzed plan cannot work here: the cached edges frame embeds
    * that same analyzed plan as a subtree of its own plan, so the
    * value strongly references the key and the entry never clears —
    * every spec-local graph would leave a persisted 2|E|-row cache
    * resident for the session. Eviction unpersist is immediate-safe
    * (unlike DfCache's checkpointed frames): the edge cache is
    * persist()-built with intact lineage, so a straggling consumer of
    * an evicted frame recomputes instead of failing. */
  private[graft] val RankBaseSlots = 4
  private val rankBases = new java.util.LinkedHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Boolean),
      (DataFrame, DataFrame, DataFrame)](16, 0.75f, /*access order*/ true)

  /** Resident memo entries — spec hook for the eviction bound. */
  private[graft] def rankBaseCount: Int =
    rankBases.synchronized(rankBases.size())

  /** Unpersists and drops every memo entry — part of
    * [[graft.GraftSession.coldReset]] (same contract as
    * `DfCache.clearAll`; safe immediately because the edge caches keep
    * intact lineage). */
  private[graft] def rankBasesClear(): Unit = rankBases.synchronized {
    val it = rankBases.entrySet().iterator()
    while (it.hasNext) {
      it.next().getValue._1.unpersist(blocking = false)
      it.remove()
    }
  }

  /** Edge-cache partition sizing: cap rows per partition so the round
    * aggregations' per-task state is BOUNDED at any |E|. The cache's
    * dst-partitioning is what lets every round's (dst, …) aggregation
    * run exchange-free — but with the partition COUNT pinned to the
    * session conf (32 on the bench), per-task group state grows ∝ |E|:
    * at the 100× frame (≈160M directed edges, 5M rows/task) label
    * propagation's round-1 (dst, lbl) aggregation — |E| distinct
    * groups while labels are still node ids — exhausted the execution
    * pool under 32 concurrent tasks and DIED (SparkOutOfMemoryError,
    * not a spill; the same query passed at 16 threads). Sizing the
    * partition count to ≈1M edge rows each bounds every round agg's
    * per-task map at any scale — the cluster-side
    * `spark.sql.shuffle.partitions` guidance applied where the
    * operator, not the conf, knows the cardinality. Costs one cheap
    * count of the (usually DfCache-checkpointed) pair table before the
    * build; small graphs keep the conf partitioning exactly. */
  private[graft] val RankEdgeRowsPerPartition = 1L << 20

  /** Memory ceiling for the edge cache's STORAGE TIER (measured gate,
    * the RpLshBroadcastCeiling discipline): past it the cache persists
    * DISK_ONLY instead of MEMORY_AND_DISK. At the 100× frame the
    * ~160M-row cache unrolls ≈7 GB of block storage into a 9.4 GB
    * unified pool — 32 concurrent tasks unrolling 200 MB partitions
    * while sibling stages run hash aggregations pushed the execution
    * pool to literal zero and killed rel_label_prop (a DEATH, not a
    * spill; the same query passes at 16 threads). Disk residency
    * frees the pool for the round aggregations and costs a sequential
    * local re-read per round — the "size the storage tier to the
    * data" call a real cluster makes with executor storage memory. */
  private[graft] val RankEdgeMemCeilingBytes = 2L << 30

  private def rankBase(pairs: DataFrame, broadcastRanks: Boolean)
      : (DataFrame, DataFrame, DataFrame) = rankBases.synchronized {
    val key = (pairs.queryExecution.analyzed.canonicalized, broadcastRanks)
    val hit = rankBases.get(key) // get() refreshes LRU recency
    if (hit != null) hit
    else {
      val degC = degrees(pairs).select(col("v").as("src"), col("deg").as("d"))
      val partKey = if (broadcastRanks) "dst" else "src"
      val degSide = if (broadcastRanks) broadcast(degC) else degC
      val confParts = pairs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt
      val nPairs = pairs.count()
      val nParts = math.max(confParts,
        ((2L * nPairs + RankEdgeRowsPerPartition - 1) /
          RankEdgeRowsPerPartition).toInt)
      // ~32 bytes per directed cached edge row (3 longs + batch
      // overhead) — a deliberate over-estimate so the gate flips to
      // disk BEFORE the unroll can contend with the round aggs
      val level =
        if (2L * nPairs * 32L > RankEdgeMemCeilingBytes)
          StorageLevel.DISK_ONLY
        else StorageLevel.MEMORY_AND_DISK
      val edges = directedEdges(pairs).join(degSide, "src")
        .repartition(nParts, col(partKey))
        .persist(level)
      // exception-safe build: a failed materialization (the 100× OOM
      // race, a lost executor) must not leak a partially-persisted
      // cache — each leaked build compounds storage pressure for every
      // subsequent graph entry in the session
      try edges.count()
      catch { case t: Throwable =>
        edges.unpersist(blocking = false); throw t }
      val built = (edges, edges.select(col("src").as("node")).distinct(), degC)
      rankBases.put(key, built)
      while (rankBases.size() > RankBaseSlots) {
        val it = rankBases.entrySet().iterator()
        it.next().getValue._1.unpersist(blocking = false)
        it.remove()
      }
      built
    }
  }

  /** Block size of the per-destination rank fold — shared with the
    * DuckDB replays. Bounds the `ordered_sum` collect buffer at a hub:
    * a celebrity node's in-contributions fold per src-block first
    * (≤ [[RankBlock]] sources per block by construction), then across
    * blocks — per-group state is block-bounded instead of
    * in-degree-bounded, the [[Similarity.blockedMoments]] fixed-fold-
    * tree discipline applied to iterative graph rounds. */
  private[graft] val RankBlock = 256L

  /** One power-iteration round over the [[rankBase]] cache:
    * pr'(v) = teleport(v) + d · fold(pr(u)/deg(u)) over u ∈ N(v), with
    * the fold src-ordered within [[RankBlock]]-sized src-blocks and
    * blk-ordered across (two-level, replayed bit-for-bit by the
    * oracles). BOTH aggregation levels group on expressions whose
    * clustering the cached dst-partitioning already satisfies
    * ({dst} ⊆ {dst, blk}), so neither adds an Exchange — the
    * shuffle-free round contract is pinned by GraphSpec. `teleport`
    * may reference `dst` (the PPR seed mass). */
  private def rankRound(edges: DataFrame, broadcastRanks: Boolean,
      damping: Double, teleport: Column)(pr: DataFrame): DataFrame = {
    val ranks = if (broadcastRanks) broadcast(pr) else pr
    edges.join(ranks, edges("src") === ranks("node"))
      .select(col("dst"), col("src"), expr(s"src div $RankBlock").as("blk"),
        (col("pr") / col("d")).as("contrib"))
      .groupBy(col("dst"), col("blk"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("contrib"), col("src")).as("s"))
      .groupBy(col("dst"))
      .agg((teleport + lit(damping) *
        graft.functions.TextFunctions.ordered_sum(col("s"), col("blk")))
        .as("pr"))
      .withColumnRenamed("dst", "node")
  }

  /** Fixed-iteration PageRank (damping `d`) over an undirected pair table
    * (`pa < pb`, deduplicated). Returns (node, rank_norm) where
    * rank_norm = rank * n (relative to uniform; keeps the rounded value
    * scale-independent). */
  def pageRank(pairs: DataFrame, iters: Int, damping: Double = 0.85,
      broadcastRanks: Boolean = true): DataFrame = {
    // Single cache: only the degree-annotated, round-partitioned edge
    // table persists. The pair table flows twice while BUILDING it (once
    // for the degree count, once for the join) — a bounded one-time cost
    // whose repeated subplans share their shuffle via exchange reuse
    // (an explicit short-lived persist of the pair table measured SLOWER:
    // cache write + read beats nothing when the exchange is reused) —
    // and every round plus pr0/|V| then derives from this one cache,
    // halving the retained footprint vs the two-cache variant (which
    // measurably inflated the rest of a many-query session via cache
    // pressure: 4.1 s in-suite vs 2.6 s isolated).
    // |V| and pr0 from the cache: every node of the undirected graph
    // appears as a src (both edge directions are present).
    val (edges, nodes, _) = rankBase(pairs, broadcastRanks)
    val n = nodes.count()
    // The DuckDB oracle casts its literals to DOUBLE before this same
    // subtraction, so the teleport term is bit-identical (DECIMAL
    // folding on the oracle side would differ by 1 ulp).
    // NB: the cache is intentionally retained for the session — the
    // lazy result still references it, and the eager
    // localCheckpoint+unpersist variant measured 2-3x slower. Callers
    // running many engines in one JVM can spark.catalog.clearCache().
    val teleport = (lit(1.0) - lit(damping)) / lit(n.toDouble)
    val round1 = rankRound(edges, broadcastRanks, damping, teleport) _
    val pr0 = nodes.withColumn("pr", lit(1.0) / lit(n.toDouble))
    val prN = (1 to iters).foldLeft(pr0)((pr, _) => round1(pr))
    prN.select(col("node"),
      round(col("pr") * lit(n.toDouble), 6).as("rank_norm"))
  }

  /** Personalized PageRank (fixed iterations, damping `d`): teleport
    * mass is confined to a SEED set — the `nSeeds` highest-degree nodes
    * (degree DESC, id ASC; a deterministic stand-in for the "trusted
    * documents" a similarity-based data-selection pipeline seeds with).
    * Ranks then measure proximity to the seeds, the classic
    * select-data-near-the-good-data signal. Same scale shape as
    * [[pageRank]] (one dst-partitioned edge cache, broadcast rank
    * vector, zero-shuffle rounds, src-ordered contribution folds);
    * the seed list is nSeeds ids on the driver (TakeOrdered, never a
    * global sort). Returns (node, ppr) with the raw probability
    * rounded to 8 dp. */
  def personalizedPageRank(pairs: DataFrame, iters: Int, nSeeds: Int,
      damping: Double = 0.85, broadcastRanks: Boolean = true): DataFrame = {
    val (edges, nodes, degC) = rankBase(pairs, broadcastRanks)
    require(nSeeds >= 1, "personalizedPageRank needs at least one seed")
    val seeds = degC.orderBy(col("d").desc, col("src").asc).limit(nSeeds)
      .select(col("src")).collect().map(_.getLong(0)).toSeq.sorted
    // normalize by the ACTUAL seed count (a graph smaller than nSeeds
    // would otherwise leak teleport mass and break conservation)
    val nS = seeds.length.toDouble
    val seedMass = (lit(1.0) - lit(damping)) / lit(nS)
    def isSeed(c: Column): Column = c.isin(seeds: _*)
    val round1 = rankRound(edges, broadcastRanks, damping,
      when(isSeed(col("dst")), seedMass).otherwise(lit(0.0))) _
    val pr0 = nodes.withColumn("pr",
      when(isSeed(col("node")), lit(1.0) / lit(nS))
        .otherwise(lit(0.0)))
    val prN = (1 to iters).foldLeft(pr0)((pr, _) => round1(pr))
    prN.select(col("node"), round(col("pr"), 8).as("ppr"))
  }

  /** Fixed-round k-core peeling over an undirected pair table (`pa < pb`,
    * deduplicated): each round recomputes every surviving node's degree
    * within the surviving subgraph and drops nodes below `k`. Peeling is
    * monotone, so once a round removes nothing every later round is an
    * exact no-op — the loop therefore early-exits at the fixpoint
    * (detected by an unchanged survivor count) and the result is
    * bit-identical to running the full fixed `rounds` budget, which is
    * exactly what the generated-CTE oracle does. Converged inputs yield
    * the true k-core; an unconverged budget yields the same partial
    * peel on both engines. Returns the survivors with their in-core
    * degrees.
    *
    * Scale shape (the [[pageRank]] discipline): the edge table persists
    * once, src-partitioned; each round broadcasts the surviving node set
    * onto both endpoints (`broadcastAlive = false` flips to shuffle
    * joins for the billions-of-nodes layout) and aggregates on the
    * partitioning key — integer counts only, no edge bytes move after
    * the initial partition. Each round's degree table is eagerly
    * localCheckpoint-ed: the alive set feeds TWO joins in the next
    * round, so without lineage truncation the plan would expand
    * 2^rounds subtrees. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int,
      broadcastAlive: Boolean = true): DataFrame = {
    require(rounds >= 1, "kCore needs at least one peel round")
    val edges = directedEdges(pairs)
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // pin the partitioning (the pageRank cache rule)
    var alive = edges.select(col("src").as("node")).distinct()
    var deg: DataFrame = null
    // alive can only SHRINK, so an unchanged count is a fixpoint and
    // every remaining round is an exact no-op — early exit returns the
    // same rows the full fixed-round run (and the fixed-round SQL
    // replay) would. The count is free: deg was just checkpointed.
    var prevAlive = -1L
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val av = if (broadcastAlive) broadcast(alive) else alive
      deg = edges
        .join(av.select(col("node").as("src")), "src")
        .join(av.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .stableCheckpoint()
      alive = deg.filter(col("deg") >= k).select(col("src").as("node"))
      // Survivor count at the RDD layer over the just-checkpointed deg
      // blocks (r18): the SQL count was a second full SQL action per
      // peel round (analysis + AQE + 32-task stage, ~2× the fold work
      // at bench scale); this is one cheap RDD job over the same rows.
      // Schema is (src BIGINT, deg BIGINT), so getLong(1) >= k is
      // exactly the filter's predicate. Falls back to the SQL count
      // when the checkpoint was elided (plan-dump dev mode).
      val n = graft.core.DfCache.checkpointRdds(deg) match {
        case Seq(rdd) =>
          rdd.asInstanceOf[org.apache.spark.rdd.RDD[
              org.apache.spark.sql.catalyst.InternalRow]]
            .mapPartitions(it => Iterator.single(
              it.count(_.getLong(1) >= k).toLong))
            .collect().sum
        case _ => alive.count()
      }
      converged = n == prevAlive
      prevAlive = n
      r += 1
    }
    edges.unpersist(blocking = false)
    deg.filter(col("deg") >= k)
      .select(col("src").as("node"), col("deg").cast("int").as("core_deg"))
  }

  /** Common-neighbor / Adamic-Adar link prediction: score every
    * NON-adjacent pair (a, b) sharing >= `minCn` neighbors by
    * `aa = sum_z 1/ln(deg(z))` over the shared middles z (Adamic & Adar
    * 2003). `pairs` is the canonical undirected edge table (pa < pb,
    * deduplicated).
    *
    * Scale shape: wedges fan out from each MIDDLE node's sorted
    * neighbor array (one groupBy, per-middle O(deg^2) expansion), so
    * the hub guard is explicit: middles with degree > `maxMiddleDeg`
    * are skipped, bounding per-node wedge work at cap^2/2 — the dfCap
    * discipline from the n-gram Jaccard dedup, and for Adamic-Adar
    * also *principled*: a skipped hub contributes at most
    * 1/ln(cap+1) per pair, the signal's own down-weighting of
    * promiscuous middles. The aa float fold is mid-id-ordered
    * ([[graft.functions.TextFunctions.ordered_sum]] — middles are
    * unique per candidate pair since neighbor sets are deduplicated)
    * for cross-engine bit equality; existing edges leave via a
    * canonical-pair anti-join. Output: (node_a, node_b, cn, aa_score)
    * with node_a < node_b. */
  def adamicAdar(pairs: DataFrame, maxMiddleDeg: Int,
      minCn: Int): DataFrame = {
    val e = pairs.select(col("pa"), col("pb"))
    val nbrs = directedEdges(e).groupBy(col("src").as("mid"))
      .agg(array_sort(collect_set(col("dst"))).as("ns"))
      .filter(size(col("ns")) <= maxMiddleDeg)
    val wedges = nbrs
      .select(col("mid"), size(col("ns")).cast("double").as("d"),
        explode(Dedup.pairsOf(col("ns"))).as("p"))
      .select(col("p._1").as("node_a"), col("p._2").as("node_b"),
        col("mid"), col("d"))
    val scored = wedges
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).cast("int").as("cn"),
        graft.functions.TextFunctions.ordered_sum(
          lit(1.0) / log(col("d")), col("mid")).as("aa"))
      .filter(col("cn") >= minCn)
    scored
      .join(e, scored("node_a") === e("pa") && scored("node_b") === e("pb"),
        "left_anti")
      .select(col("node_a"), col("node_b"), col("cn"),
        round(col("aa"), 6).as("aa_score"))
  }
}
