package graft.queries

import graft.core.Checkpoints.StableOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity

/** Similarity-search query coverage over the `embeddings` table
  * (`embedding array<float>`, 64-dim, 10 labeled clusters).
  *
  * Brute-force top-k and threshold near-dups have exact DuckDB oracles
  * (cosine written as the same left-to-right fold in both engines). The
  * IVF variant is approximate — its evidence is the SimilaritySpec recall
  * test against brute force.
  */
object SimilarityQueries extends graft.QueryModule {

  private val K = 5
  private val NQueries = 10
  private val NearDupThreshold = 0.35

  /** Brute-force cosine top-k: first NQueries vectors as queries. */
  def topkBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < NQueries), emb, K)
  }

  /** Embedding-cosine near-duplicate pairs, label-blocked (exact within
    * blocks). TEST ORACLE, NOT A PRODUCTION API: a popular label is an
    * all-pairs quadratic block at scale. This entry exists solely as the
    * oracled ground truth the RP-LSH recall contract (DedupSpec) is
    * pinned against — the production near-dup surface is
    * [[rpLshNearDups]], hence the `_exact_oracle` query name. */
  def cosineNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(
      Tables.loadSpread(spark, dir, "embeddings"), NearDupThreshold)

  /** RP-LSH-blocked near-dups — the 100 TB path (no quadratic block,
    * only bucket collisions scored). Exactly oracled (the fmix64-seeded
    * hyperplanes and ordered dot folds replay in DuckDB — see
    * [[graft.core.XxHashSql.rpLshSigCtes]]); only RECALL vs the exact
    * pair set is approximate (DedupSpec contract). */
  def rpLshNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.rpLshNearDups(
      Tables.loadSpread(spark, dir, "embeddings"), NearDupThreshold)

  /** Trained-codebook discipline: an IVF/PQ codebook (centroid or
    * anchor set) is a TRAINING-TIME constant — k chosen offline,
    * ~sqrt(N) — not a function of serve-time corpus size. The fixture
    * rule "every 50th vector" alone makes |codebook| ∝ N, which turns
    * the assign/encode scans quadratic (N·C): the 10× scale frame
    * measured sim_topk_ivfpq at 21× (SCALE_NOTES). The span cap bounds
    * the codebook to the first [[CodebookSpan]] ids — NOT binding at
    * the oracle SFs (vec_id < 2000 there, every gated result is
    * byte-identical; the SQL oracles carry the same literal), binding
    * at larger frames, where assign/encode become linear in N. */
  private[graft] val CodebookSpan = 2000L
  private def codebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < CodebookSpan)

  /** IVF approximate top-k: centroids = every 50th vector, nprobe=3. */
  def topkIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val centroids = codebook(emb)
    val assigned = Similarity.ivfAssign(emb, centroids)
    Similarity.ivfTopK(emb.filter(col("vec_id") < NQueries),
      assigned, centroids, K, nprobe = 3)
  }

  /** Random-hyperplane LSH approximate top-k (the bucketed scale path). */
  def topkRpLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    Similarity.rpLshTopK(emb.filter(col("vec_id") < NQueries), emb, K)
  }

  private val MmrKCand = 32
  private val MmrK = 10
  private val MmrLambdaRel = 0.7
  private val MmrLambdaDiv = 0.3

  /** MMR diversified top-k ([[Similarity.mmrRerank]]): query = vec 0,
    * pool = top-[[MmrKCand]] by cosine, greedy-select [[MmrK]] balancing
    * relevance against redundancy with the already-selected set. */
  def mmrDiverse(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    Similarity.mmrRerank(emb.filter(col("vec_id") === 0),
      emb.filter(col("vec_id") =!= 0), MmrKCand, MmrK,
      MmrLambdaRel, MmrLambdaDiv)
  }

  /** ANN recall report: IVF top-k hits against the exact top-k per
    * query, promoted from spec assertion to catalog query — both sides
    * are deterministic, so the INDEX-QUALITY audit itself hash-matches
    * (recall per query, not just a suite-level bound). */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val br = topkBrute(spark, dir).select(col("query_id"), col("cand_id"))
    val iv = topkIvf(spark, dir).select(col("query_id"), col("cand_id"))
    val hits = br.join(iv, Seq("query_id", "cand_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    br.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(K.toDouble), 6)
          .as("recall"))
  }

  /** IDCG@K for binary gains — sum_{i=1..K} 1/log2(i+1), folded in
    * ascending-i order; the JVM-computed double is embedded verbatim in
    * the DuckDB oracle so both engines divide by the identical
    * constant. */
  private val IdcgK: Double =
    (1 to K).foldLeft(0.0)((a, i) =>
      a + 1.0 / (Math.log(i + 1.0) / Math.log(2.0)))

  /** Position-weighted index-quality audit: binary nDCG@K of the IVF
    * ranking against the exact top-K — the [[ivfRecall]] discipline
    * with rank discounts. Recall@K pays a hit at rank 1 and rank K the
    * same; nDCG pays 1/log2(rank+1), the metric retrieval stacks
    * actually report, so an index that finds the right set in the wrong
    * order scores below one that also orders it. Gains are binary
    * (membership in the exact top-K); both rankings are deterministic,
    * so the audit itself hash-gates. DCG folds in rank order; round-6
    * absorbs log ulp. */
  def ivfNdcg(spark: SparkSession, dir: String): DataFrame = {
    val br = topkBrute(spark, dir).select(col("query_id"), col("cand_id"))
    val iv = topkIvf(spark, dir)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val per = iv.join(br, Seq("query_id", "cand_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"),
        graft.functions.TextFunctions.ordered_sum(
          lit(1.0) / log2(col("rank") + lit(1)), col("rank")).as("dcg"))
    br.select(col("query_id")).distinct()
      .join(per, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("dcg"), lit(0.0)) / lit(IdcgK), 6).as("ndcg"))
  }

  /** Cluster-quality audit: k-means clusters scored against the
    * ground-truth labels — per-cluster size, majority label and purity
    * (the standard external clustering evaluation a curation pipeline
    * runs before trusting cluster-balanced sampling). Integer counts
    * plus one ratio, over the already-oracled deterministic k-means
    * assignment, so the audit itself hash-gates. Majority ties break to
    * the smallest label via the map-side-combinable `max(struct)`
    * argmax — no window over members. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val asg = cachedAssign(spark, dir).select(col("vec_id"), col("cluster"))
    val lbl = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    asg.join(lbl, "vec_id")
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cluster"))
      .agg(sum(col("c")).as("n_members"),
        max(struct(col("c"), (-col("label")).as("nl"))).as("b"))
      .select(col("cluster"), col("n_members"),
        (-col("b.nl")).cast("int").as("majority_label"),
        round(col("b.c").cast("double") / col("n_members"), 6).as("purity"))
  }

  /** PQ recall report: ADC top-k hits against the EXACT L2 top-k per
    * query — the [[ivfRecall]] discipline applied to the
    * compressed-domain search. Both sides deterministic (fixed anchor
    * codebooks, SQL-replayable folds), so the index-quality audit
    * itself is hash-gated. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val exact = Similarity.l2TopK(emb.filter(col("vec_id") < NQueries),
      emb, K).select(col("query_id"), col("cand_id"))
    val adc = topkPq(spark, dir).select(col("query_id"), col("cand_id"))
    val hits = exact.join(adc, Seq("query_id", "cand_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(K.toDouble), 6)
          .as("recall"))
  }

  private val MatryoshkaDims = 16

  /** Matryoshka-truncation recall (Kusupati et al. 2022): rerun the exact
    * cosine top-k with every embedding truncated to its FIRST
    * [[MatryoshkaDims]] of 64 dimensions and report per-query overlap
    * with the full-dimension top-k — the retrieval-quality audit run
    * before shipping truncated vectors to a cheaper index. Both sides
    * are exact brute-force searches (deterministic folds), so the audit
    * itself hash-matches; at corpus scale the truncated search is the
    * same broadcast-queries + partial-top-k shape at 1/4 the bytes. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val tr = emb.withColumn("embedding",
      slice(col("embedding"), 1, MatryoshkaDims))
    val full = topkBrute(spark, dir).select(col("query_id"), col("cand_id"))
    val trunc = Similarity.bruteForceTopK(
      tr.filter(col("vec_id") < NQueries), tr, K)
      .select(col("query_id"), col("cand_id"))
    val hits = full.join(trunc, Seq("query_id", "cand_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    full.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(K.toDouble), 6)
          .as("recall"))
  }

  /** Int8 scalar-quantization recall: rerun the exact cosine top-k with
    * every vector round-tripped through per-vector symmetric int8
    * compression ([[Similarity.quantizeInt8]], searched on the
    * reconstructed `q * scale` doubles) and report per-query overlap
    * with the full-precision top-k — the [[matryoshkaRecall]] audit for
    * the 4x-smaller SQ8 index a pipeline ships when PQ's accuracy loss
    * is too big. Quantize is a pure projection and both searches are
    * deterministic broadcast-queries + partial-top-k folds, so the
    * report itself hash-matches the DuckDB replay. */
  def sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val (scale, qs, _) = Similarity.quantizeInt8(col("embedding"))
    val recon = emb.select(col("vec_id"),
      transform(qs, q => q.cast("double") * scale).as("embedding"))
    val full = topkBrute(spark, dir).select(col("query_id"), col("cand_id"))
    val sq = Similarity.bruteForceTopK(
      recon.filter(col("vec_id") < NQueries), recon, K)
      .select(col("query_id"), col("cand_id"))
    val hits = full.join(sq, Seq("query_id", "cand_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    full.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(K.toDouble), 6)
          .as("recall"))
  }

  private val ProbeCurve = Seq(1, 2, 4, 8)

  /** IVF nprobe tuning curve — the [[graft.queries.DedupQueries
    * .simHistogram]] move applied to the ANN index: mean recall@[[K]]
    * against the exact top-k for probe counts 1/2/4/8. Run when sizing
    * an index: the knee says how many buckets buy how much recall, and
    * scored-candidate volume scales linearly with nprobe. One bucket
    * assignment and one exact ground truth are materialized and shared
    * across the four searches (each is the same broadcast-queries +
    * partial-top-k shape, scanning ~nprobe/|C| of the corpus). Exact
    * deterministic searches on both sides, so the curve hash-gates. */
  def ivfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    // Single-pass formulation (r18, guide §2.4 — the r17 verdict's #4):
    // the np-probe candidate set is a PREFIX property — a candidate
    // scored at probe position pr participates in every search with
    // nprobe >= pr — so one scored scan carrying pr replaces the
    // previous 2 stableCheckpoints + 4 per-np probe joins + 4-way
    // union. One top-k aggregate per np runs inside ONE aggregation
    // (top_k_structs skips the null the when() yields for pr > np),
    // and the exact/IVF hit counts for all four curves come from one
    // membership sum over the 50-row exact top-k. Selected sets are
    // identical by construction: same probe ranking (array_sort over
    // (neg_sim, centroid_id)), same (sim, -cand_id) top-k order, same
    // candidate restriction. Oracle-gated bit-identical.
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val centroids = codebook(emb)
    val maxNp = ProbeCurve.max
    val cents = Similarity.centroidsLit(centroids)
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        Similarity.toDoubleArray(col("embedding")).as("qv"))
    val probes = q
      .select(col("query_id"), col("qv"),
        posexplode(slice(array_sort(transform(cents, c =>
          struct((-Similarity.cosine(col("qv"), c("_2"))).as("neg_sim"),
            c("_1").as("centroid_id")))), 1, maxNp)).as(Seq("pos", "p")))
      .select(col("query_id"), col("qv"),
        (col("pos") + 1).as("pr"), col("p.centroid_id").as("centroid_id"))
    val cand = Similarity.ivfAssign(emb, centroids)
      .select(col("vec_id").as("cand_id"),
        Similarity.toDoubleArray(col("embedding")).as("cv"),
        col("centroid_id"))
    val scored = cand.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
    val aggs = ProbeCurve.map(np =>
      transform(graft.functions.TextFunctions.top_k_structs(
        when(col("pr") <= np,
          struct(col("sim"), (-col("cand_id")).as("neg_id"))), K),
        p => -p("neg_id")).as(s"ids_$np"))
    val tops = scored.groupBy(col("query_id")).agg(aggs.head, aggs.tail: _*)
    val full = topkBrute(spark, dir).select(col("query_id"), col("cand_id"))
    val hitAggs = ProbeCurve.map(np => sum(
      when(array_contains(col(s"ids_$np"), col("cand_id")), 1L)
        .otherwise(0L)).as(s"hit_$np"))
    val hits = full.join(tops, "query_id").agg(hitAggs.head, hitAggs.tail: _*)
    hits.select(explode(array(ProbeCurve.map(np =>
        struct(lit(np).as("nprobe"), col(s"hit_$np").as("n_hit"))): _*))
        .as("r"))
      .select(col("r.nprobe").as("nprobe"), col("r.n_hit").as("n_hit"),
        round(col("r.n_hit") / lit((NQueries * K).toDouble), 6).as("recall"))
  }

  private val KnnSample = 100
  private val KnnK = 5

  /** k-NN label audit: predict each sampled vector's label by majority
    * vote of its [[KnnK]] nearest cosine neighbors (self excluded) and
    * report the confusion matrix against the stored labels — the
    * neighborhood-consistency check that catches mislabeled clusters
    * the nearest-centroid audit smooths over (a point deep inside the
    * wrong cluster still votes with its true neighbors). Runs over a
    * [[KnnSample]]-vector audit sample (the recall-report convention);
    * at corpus scale the neighbor stage swaps to the IVF/PQ index —
    * the vote and confusion stages are index-agnostic.
    *
    * Determinism: exact search with the engine-wide cosine fold, vote
    * argmax is `max(struct(n, -label))` — count DESC, label ASC — a
    * partial-combinable aggregation, no window. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val labels = emb.select(col("vec_id"), col("label"))
    val nbrs = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < KnnSample), emb, KnnK)
      .select(col("query_id"), col("cand_id"))
      .join(broadcast(labels.toDF("cand_id", "nbr_label")), "cand_id")
    val votes = nbrs.groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("n"), (-col("nbr_label")).as("neg"))).as("m"))
      .select(col("query_id"), (-col("m.neg")).cast("int").as("pred_label"))
    votes
      .join(broadcast(labels.toDF("query_id", "label")), "query_id")
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  private val PqM = 8

  /** PQ codes + exact reconstruction error per vector
    * ([[Similarity.pqEncode]]): deterministic anchor codebooks (every
    * 50th vector — the IVF centroid rule), so the full encode is
    * oracle-checkable; codes emitted as a dash-joined string. */
  def pqStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val anchors = codebook(emb)
    Similarity.pqEncode(emb, anchors, PqM)
      .select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), "-")
          .as("codes"),
        col("recon_err"))
  }

  /** PQ asymmetric-distance top-k over the encoded corpus
    * ([[Similarity.pqTopK]]). Approximate family: rows-only driver
    * check + SimilaritySpec recall contract vs the exact L2 top-k. */
  def topkPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val anchors = codebook(emb)
    Similarity.pqTopK(emb.filter(col("vec_id") < NQueries),
      Similarity.pqEncode(emb, anchors, PqM), anchors, K, PqM)
  }

  /** Int8 quantization stats per vector: the compression scale and the
    * max per-dimension reconstruction error (bounded by scale/2 by
    * construction — also asserted in DedupSpec). */
  def quantizeStats(spark: SparkSession, dir: String): DataFrame = {
    val (scale, _, maxErr) = Similarity.quantizeInt8(col("embedding"))
    Tables.loadSpread(spark, dir, "embeddings")
      .select(col("vec_id"), round(scale, 6).as("scale"),
        round(maxErr, 6).as("max_abs_err"))
  }

  /** Per-label mean vectors `(label, cv array<double>)` — every
    * component sum is a TWO-LEVEL fold (vec_id order within
    * [[Similarity.KmBlock]]-sized blocks, blk order across) so the
    * centroid is bit-identical across engines and partitionings AND the
    * collect buffers stay block-bounded — a popular label's members
    * are corpus-proportional, so a flat per-(label, pos) fold is the
    * same state cliff the Lloyd-update fix removed. Tiny output
    * (labels × dim), always broadcast or collected by consumers. */
  private def labelCentroids(emb: DataFrame): DataFrame = {
    val pos = emb.select(col("vec_id"), col("label"),
      expr(s"vec_id div ${Similarity.KmBlock}").as("blk"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
    val cent0 = pos.groupBy(col("label"), col("pos"), col("blk"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("x").cast("double"), col("vec_id")).as("s"),
        count(lit(1)).as("cnt"))
      .groupBy(col("label"), col("pos"))
      .agg((graft.functions.TextFunctions.ordered_sum(
        col("s"), col("blk")) / sum(col("cnt"))).as("c"))
    cent0.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
  }

  /** Nearest-centroid classifier evaluation (label-quality audit): each
    * vector is assigned to the closest per-label mean by cosine and the
    * result is the confusion matrix of true vs predicted label — the
    * standard "are these cluster labels coherent" curation check.
    *
    * Composition IS the scale story: the per-label means reduce to
    * labels × dim values, ride along as [[Similarity.ivfAssign]]'s
    * centroid literal, and the assignment is a pure projection — the
    * corpus is scanned once and only (label, pred_label) pairs reach the
    * final aggregate. */
  def nearestCentroid(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val cents = labelCentroids(emb).select(
      col("label").cast("long").as("vec_id"), col("cv").as("embedding"))
    Similarity.ivfAssign(emb, cents)
      .select(col("label"), col("centroid_id").cast("int").as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Hard-negative mining ([[Similarity.hardNegativesTopK]]): per query
    * vector, the 5 most-similar DIFFERENT-label candidates. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    Similarity.hardNegativesTopK(
      emb.filter(col("vec_id") < NQueries), emb, K)
  }

  /** Label-outlier audit: vectors whose distance to their own label
    * centroid sits >= 2 population standard deviations above the label
    * mean — the mislabeled/noisy-embedding sweep. Two bounded aggregate
    * passes over the [[centroidDist]] output (mean, then sigma around
    * it), each broadcast back; the z compare runs on the ROUNDED z so
    * the kept set is engine-exact. */
  def labelOutliers(spark: SparkSession, dir: String): DataFrame = {
    // both population folds run the two-level block tree (the
    // labelCentroids discipline): per-label member counts are
    // corpus-proportional, so flat folds would buffer them whole.
    // The distance table is CHECKPOINTED once: three consumers (mu,
    // sigma, the z filter) would otherwise each replay the whole
    // centroid derivation — six corpus scans and ~30 exchanges for a
    // (vec_id, label, dist) table the size of the input (measured:
    // 1.98 → ~1.0 s at sf0.1). Checkpoints.stable picks the flavor:
    // executor-local blocks at local[n] (fast, NOT fault-tolerant — an
    // executor loss fails the query), or a reliable checkpoint under
    // spark.graft.checkpointDir on a cluster (survives executor loss)
    val d = centroidDist(spark, dir)
      .withColumn("blk", expr(s"vec_id div ${Similarity.KmBlock}"))
      .stableCheckpoint()
    val mu = d.groupBy(col("label"), col("blk"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("dist"), col("vec_id")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("label"))
      .agg((graft.functions.TextFunctions.ordered_sum(
        col("s"), col("blk")) / sum(col("cnt"))).as("mu"))
    val dm = d.join(broadcast(mu), "label")
    val sg = dm.groupBy(col("label"), col("blk"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        (col("dist") - col("mu")) * (col("dist") - col("mu")),
        col("vec_id")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("label"))
      .agg(sqrt(graft.functions.TextFunctions.ordered_sum(
        col("s"), col("blk")) / sum(col("cnt"))).as("sigma"))
    // sigma = 0 (singleton label / all-equidistant members) has no
    // defined z; the guard keeps the degenerate stratum out on BOTH
    // engines (Spark's 0/0 is NULL while DuckDB's is NaN-sorts-high —
    // without it the two would diverge)
    dm.join(broadcast(sg), "label")
      .filter(col("sigma") > 0.0)
      .withColumn("z", round((col("dist") - col("mu")) / col("sigma"), 4))
      .filter(col("z") >= 2.0)
      .select(col("vec_id"), col("label"), col("dist"), col("z"))
  }

  /** Per-label centroid + each member's L2 distance to its own centroid
    * (cluster-quality / outlier scoring for embedding columns). Both the
    * centroid component sums and the distance fold run left-to-right in a
    * FIXED order (vec_id resp. dimension), so every float op is
    * reproducible across engines and partitionings — the same discipline
    * as [[Similarity.cosine]]. Centroids are tiny (labels x dim) and
    * broadcast to the members. */
  def centroidDist(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    emb.join(broadcast(labelCentroids(emb)), "label")
      .withColumn("dist", sqrt(aggregate(
        zip_with(col("embedding"), col("cv"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v)))
      .select(col("vec_id"), col("label"), round(col("dist"), 6).as("dist"))
  }

  /** Per-label embedding diversity: the mean pairwise squared L2
    * distance, computed in CLOSED FORM via the second-moment identity
    *
    *   sum_{i,j} ||x_i - x_j||^2 = 2n * sum_i ||x_i||^2 - 2 ||sum_i x_i||^2
    *
    * so the metric needs two aggregation passes and ZERO pair
    * enumeration — the exact number a quadratic pairwise scan would
    * produce, at linear cost (the curation signal "how redundant is this
    * cluster" stays computable when a label holds 10^9 members). Both
    * component sums fold in a fixed order (vec_id resp. dimension) for
    * cross-engine bit-equality; at production scale plain `sum` suffices. */
  def diversity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    // sum_i x_i per (label, dim) — two-level fold (vec_id within
    // KmBlock-sized blocks, blk across): per-label membership is
    // corpus-proportional, so the flat fold would buffer it whole
    val pos = emb.select(col("vec_id"), col("label"),
      expr(s"vec_id div ${Similarity.KmBlock}").as("blk"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
    val sv = pos.groupBy(col("label"), col("pos"), col("blk"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("x").cast("double"), col("vec_id")).as("bs"))
      .groupBy(col("label"), col("pos"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("bs"), col("blk")).as("s"))
    // ||sum_i x_i||^2 per label, dim-ordered fold of s^2 (d terms —
    // dimension-bounded, no blocking needed)
    val nsq = sv.groupBy(col("label"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("s") * col("s"), col("pos")).as("nsq"))
    // sum_i ||x_i||^2 per label — same two-level tree
    val norms = emb.select(col("label"), col("vec_id"),
      expr(s"vec_id div ${Similarity.KmBlock}").as("blk"),
      aggregate(transform(col("embedding"),
          x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("nrm"))
    val ssq = norms.groupBy(col("label"), col("blk"))
      .agg(count(lit(1)).as("bn"),
        graft.functions.TextFunctions.ordered_sum(
          col("nrm"), col("vec_id")).as("bssq"))
      .groupBy(col("label"))
      .agg(sum(col("bn")).as("n"),
        graft.functions.TextFunctions.ordered_sum(
          col("bssq"), col("blk")).as("ssq"))
    val nd = col("n").cast("double")
    ssq.join(nsq, "label")
      .select(col("label"), col("n"),
        round(lit(2.0) * (nd * col("ssq") - col("nsq"))
          / (nd * (nd - lit(1.0))), 6).as("mean_pair_sqdist"))
  }

  /** IVF-PQ composed search ([[Similarity.ivfPqTopK]]): probe the IVF
    * buckets, ADC-scan their codes. Approximate family: rows-only
    * driver check + DedupSpec parity contract (equals the exhaustive
    * ADC scan restricted to the probed buckets). */
  def topkIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val centroids = codebook(emb)
    val encoded = Similarity.pqEncode(emb, centroids, PqM)
      .join(Similarity.ivfAssign(emb, centroids)
        .select(col("vec_id"), col("centroid_id")), "vec_id")
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < NQueries), encoded,
      centroids, centroids, K, PqM, nprobe = 3)
  }

  /** Embedding covariance matrix (upper triangle): exact moment
    * computation — cov(i,j) = (S_ij - S_i·S_j/n) / (n-1) — the
    * whitening/PCA prep step for embedding columns. Every float fold
    * runs on a FIXED two-level tree (vec_id order within
    * [[CovBlock]]-sized blocks, blk order across) so the matrix is
    * engine-reproducible AND scale-correct at once — see
    * [[Similarity.blockedMoments]]. */
  /** Block size for the covariance/PCA moment fold — also the constant
    * the DuckDB replay interpolates, so both engines share one fold
    * tree. 256 keeps the cross-block fold EXERCISED by the hash gate
    * (embeddings are 500 vectors at sf0.01 → 2 blocks, 2000 at sf0.1 →
    * 8), which is what proves the two-level tree bit-equal across
    * engines; at production scale the constant rises (any power of two
    * ≤ executor comfort works — per-cell cross-block list length is
    * n/block). */
  private[graft] val CovBlock = 256L

  /** Shared covariance plumbing: (sij upper-triangle sums, si per-dim
    * sums, n) with order-stable folds — the parts both [[covariance]]
    * and [[pcaProjection]] derive from.
    *
    * Scale shape: [[Similarity.blockedMoments]] folds each
    * [[CovBlock]]-sized vec_id block's d(d+1)/2 products locally (one
    * pass over the partition-sorted vectors, O(d²) task state), so the
    * only shuffled rows are (n/[[CovBlock]])·d² block partials — the
    * previous exploded self-join shuffled n·d² product rows into
    * per-cell `collect_list` buffers that grew with the corpus. The
    * cross-block fold is `ordered_sum(s, blk)`: a fixed two-level fold
    * tree the oracle replays bit-for-bit. */
  private def covParts(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val m = Similarity.blockedMoments(emb, CovBlock)
    val sij = m.filter(col("j") >= 1)
      .groupBy(col("i"), col("j"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("s"), col("blk")).as("s_ij"))
    val si = m.filter(col("j") === 0)
      .groupBy(col("i"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("s"), col("blk")).as("s"))
    (sij, si, emb.agg(count(lit(1)).as("n")))
  }

  /** Unrounded sample covariance (i <= j): the exact doubles both the
    * rounded catalog output and the PCA iteration consume. */
  private def covUpper(emb: DataFrame): DataFrame = {
    val (sij, si, n) = covParts(emb)
    sij
      .join(broadcast(si.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(si.select(col("i").as("j"), col("s").as("sj"))), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        ((col("s_ij") - col("si") * col("sj") / col("n"))
          / (col("n") - lit(1))).as("cov"))
  }

  def covariance(spark: SparkSession, dir: String): DataFrame =
    covUpper(Tables.loadSpread(spark, dir, "embeddings"))
      .select(col("i"), col("j"),
        // + 0.0 canonicalizes IEEE -0.0 (a round() output for tiny
        // negative covariances) so both engines print the same zero
        (round(col("cov"), 6) + lit(0.0)).as("cov"))

  private val DriftBlock = 4096L

  /** Embedding centroid-drift monitor — the distribution-shift check run
    * when a corpus (or encoder) changes: split the vectors into two
    * cohorts by vec_id parity (stand-in for before/after snapshots),
    * compute each cohort's per-dimension centroid, and report the
    * centroid L2 distance, the centroid cosine, and the
    * largest-shifting dimension. Per-dim means use the
    * [[graft.operators.LinearModel]] two-level ordered fold (vec_id
    * within [[DriftBlock]]-sized blocks, then block order), so state
    * per task is block-bounded and every float fold is order-fixed —
    * the whole audit replays bit-for-bit. The final cross-dimension
    * folds run over exactly `dim` rows. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.ordered_sum
    val ex = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), pmod(col("vec_id"), lit(2)).cast("int").as("cohort"),
        expr(s"vec_id div $DriftBlock").as("blk"),
        posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("vec_id"), col("cohort"), col("blk"),
        col("d").cast("long").as("d"), col("v").cast("double").as("v"))
    val lvl1 = ex.groupBy(col("cohort"), col("d"), col("blk"))
      .agg(ordered_sum(col("v"), col("vec_id")).as("s"),
        count(lit(1)).as("c"))
    val sums = lvl1.groupBy(col("cohort"), col("d"))
      .agg(ordered_sum(col("s"), col("blk")).as("s"), sum(col("c")).as("n"))
      .withColumn("m", col("s") / col("n").cast("double"))
    val a = sums.filter(col("cohort") === 0)
      .select(col("d"), col("m").as("ma"), col("n").as("na"))
    val b = sums.filter(col("cohort") === 1)
      .select(col("d"), col("m").as("mb"), col("n").as("nb"))
    a.join(b, "d")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        ordered_sum((col("ma") - col("mb")) * (col("ma") - col("mb")),
          col("d")).as("sq"),
        ordered_sum(col("ma") * col("mb"), col("d")).as("dot"),
        ordered_sum(col("ma") * col("ma"), col("d")).as("qa"),
        ordered_sum(col("mb") * col("mb"), col("d")).as("qb"),
        max(struct(abs(col("ma") - col("mb")).as("s"), col("d").as("d")))
          .as("mx"))
      .select(col("n_a"), col("n_b"),
        round(sqrt(col("sq")), 6).as("l2_dist"),
        round(col("dot") / (sqrt(col("qa")) * sqrt(col("qb"))), 6)
          .as("cosine"),
        round(col("mx.s"), 6).as("max_abs_shift"),
        col("mx.d").as("max_shift_dim"))
  }

  private val PcaRounds = 8

  /** Leading principal component by POWER ITERATION, then the
    * per-vector projection onto it — the embedding-audit op (dominant
    * axis of variation / whitening input). The iteration itself is a
    * DIMENSION-bounded computation: the covariance matrix is dim^2
    * doubles (64^2 here, 1024^2 = 8 MB for big embeddings — still a
    * driver literal, the [[Similarity]] centroid-budget class), so it
    * runs on the driver from the distributed matrix, deterministically
    * (v0 = all-ones, fixed [[PcaRounds]], ascending-index folds — the
    * DuckDB oracle replays every round bit-for-bit). The corpus-sized
    * work — covariance sums and the final projection — stays fully
    * distributed; the projection is a pure map (mean and component ride
    * along as array literals). */
  def pcaProjection(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val (_, si, nDf) = covParts(emb)
    val n = nDf.collect()(0).getLong(0)
    val siRows = si.collect().map(r => (r.getInt(0), r.getDouble(1)))
    val d = siRows.map(_._1).max
    val mu = {
      val m = new Array[Double](d)
      siRows.foreach { case (i, s) => m(i - 1) = s / n }
      m
    }
    val cm = Array.ofDim[Double](d, d)
    covUpper(emb).collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cm(i - 1)(j - 1) = c
      cm(j - 1)(i - 1) = c
    }
    var v = Array.fill(d)(1.0)
    var k = 0
    while (k < PcaRounds) {
      val w = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += cm(i)(j) * v(j); j += 1 }
        s
      }
      var n2 = 0.0; var i = 0
      while (i < d) { n2 += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(n2)
      v = w.map(_ / nrm)
      k += 1
    }
    val muLit = typedLit(mu.toSeq)
    val vLit = typedLit(v.toSeq)
    emb.select(col("vec_id"),
      (round(aggregate(
        zip_with(
          zip_with(transform(col("embedding"), _.cast("double")), muLit,
            (x, m) => x - m),
          vLit, (dd, vi) => dd * vi),
        lit(0.0), (acc, x) => acc + x), 6) + lit(0.0)).as("proj"))
  }

  /** Deterministic Lloyd k-means (k=8, 2 update rounds) — see
    * [[Similarity.kmeans]] for why this is oracle-checkable. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeans(Tables.loadSpread(spark, dir, "embeddings"),
      k = 8, iters = 2)

  /** K-means assignment shared by the three audit consumers (purity,
    * semantic dedup, cluster sample) via [[graft.core.DfCache]]: each
    * previously re-ran the full 2-round Lloyd training (~1.3 s at
    * sf0.1, driver centroid round-trips included) to reproduce the
    * identical assignment table. The PRIMARY `sim_kmeans` entry stays
    * uncached and honest. */
  private def cachedAssign(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "sim:kmeans")(
      kmeansAssign(spark, dir))

  /** Semantic dedup (SemDeDup shape): cluster the embedding space, then
    * keep only each cluster's most-central half — the "drop semantically
    * redundant documents" curation move, composed entirely from proven
    * pieces (deterministic k-means assignment + distance ranking). The
    * quota compare (rn <= (c + 1) / 2) is float division in BOTH engines
    * and ranking runs on the ROUNDED distance with a vec_id tie-break,
    * so the kept set is exact in both engines.
    *
    * Scale shape: the obvious `row_number over (partition by cluster
    * order by dist)` caps parallelism at k tasks (k = 8 here), each
    * sorting n/k rows — a by-construction scale-killer. Instead the rank
    * is a GLOBAL dense row number over (cluster, dist, vec_id) via
    * [[graft.operators.GlobalOrder.withRowNumber]] (range-partitioned
    * sort + distributed sequence — every task numbers one range, none
    * holds a whole cluster), rebased per cluster by a k-row bounds aggregate
    * joined back by broadcast. Same rows, full shuffle parallelism. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val ordered = graft.operators.GlobalOrder.withRowNumber(
      cachedAssign(spark, dir),
      struct(col("cluster"), col("dist"), col("vec_id")), out = "grn")
    val bounds = ordered.groupBy(col("cluster"))
      .agg(min(col("grn")).as("base"), count(lit(1)).as("c"))
    ordered.join(broadcast(bounds), "cluster")
      .withColumn("rn", col("grn") - col("base") + lit(1L))
      .filter(col("rn") <= (col("c") + lit(1)) / lit(2))
      .select(col("cluster"), col("vec_id"), col("rn").cast("int").as("rn"))
  }

  /** Cluster-balanced sample: N per k-means cluster, selection order from
    * a content hash (deterministic, engine-independent, shuffle-parallel
    * — the Advanced.balancedSample discipline applied to LEARNED strata).
    * This is the cluster-then-sample curation step: cluster the corpus,
    * then draw a balanced subset across clusters.
    *
    * Scale shape: per-cluster bottom-20 by (md5, vec_id) is a bounded
    * partial aggregate ([[graft.functions.TopKStructs]] ascending), not a
    * window — each map task keeps at most 20 rows per cluster, so the
    * shuffle moves O(k·partitions) rows and nothing is ever fully sorted.
    * The struct's lexicographic order (hash, then vec_id) is exactly the
    * oracle's ORDER BY md5(vec_id), vec_id. */
  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    cachedAssign(spark, dir)
      .groupBy(col("cluster"))
      .agg(graft.functions.TextFunctions.bottom_k_structs(
        struct(md5(col("vec_id").cast("string")).as("h"),
          col("vec_id")), 20).as("sel"))
      .select(col("cluster"), posexplode(col("sel")).as(Seq("pos", "p")))
      .select(col("cluster"), col("p.vec_id").as("vec_id"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ann" -> ((s: SparkSession, d: String) =>
      graft.streaming.StreamingOps.annTopK(s, d, NQueries, K, nprobe = 3)),
    "sim_kmeans" -> kmeansAssign,
    "sim_cluster_purity" -> clusterPurity,
    "sim_cluster_sample" -> clusterSample,
    "sim_semantic_dedup" -> semanticDedup,
    "sim_topk_brute" -> topkBrute,
    "sim_mmr" -> mmrDiverse,
    "sim_ivf_recall" -> ivfRecall,
    "sim_ivf_ndcg" -> ivfNdcg,
    "sim_pq_recall" -> pqRecall,
    "sim_matryoshka_recall" -> matryoshkaRecall,
    "sim_sq8_recall" -> sq8Recall,
    "sim_knn_classify" -> knnClassify,
    "sim_ivf_probe_curve" -> ivfProbeCurve,
    "sim_neardups_exact_oracle" -> cosineNearDups,
    "sim_neardups_rplsh" -> rpLshNearDups,
    "sim_topk_ivf" -> topkIvf,
    "sim_topk_rplsh" -> topkRpLsh,
    "sim_centroid_dist" -> centroidDist,
    "sim_nearest_centroid" -> nearestCentroid,
    "sim_hard_negatives" -> hardNegatives,
    "sim_label_outliers" -> labelOutliers,
    "sim_quantize_stats" -> quantizeStats,
    "sim_pq_stats" -> pqStats,
    "sim_topk_pq" -> topkPq,
    "sim_topk_ivfpq" -> topkIvfPq,
    "sim_covariance" -> covariance,
    "sim_centroid_drift" -> centroidDrift,
    "sim_pca_proj" -> pcaProjection,
    "sim_diversity" -> diversity,
  )

  /** DuckDB replay of [[Similarity.pqEncode]] (m=8 subspaces over the
    * 64-dim vectors): per subspace, distances to every anchor codeword
    * with the same left-to-right folds, argmin via (dist, code)
    * row_number — the kmeans-oracle discipline applied per subspace. */
  /** Shared CTE prefix for the PQ oracles: `e` (double vectors), `a`
    * (anchor codebook, 1-based code = vec_id rank) and per-subspace
    * `d$j`/`s$j` encode CTEs (argmin codeword via (dist, code)
    * row_number — the kmeans-oracle discipline applied per subspace).
    * Every CTE is MATERIALIZED: the top-k oracle references each `s$j`
    * from an m-way join, and DuckDB's default CTE inlining re-expands
    * the whole encode subtree per reference (measured: minutes vs
    * 0.14 s materialized at sf0.01). */
  private def pqCodeCtes: String = {
    val m = PqM; val sub = 64 / m
    val dists = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = j * sub + sub
      s"""d$j AS MATERIALIZED (SELECT e.vec_id, a.code,
         |  list_reduce(list_prepend(0.0, list_transform(
         |    list_zip(e.v[$lo:$hi], a.av[$lo:$hi]),
         |    q -> (q[1] - q[2]) * (q[1] - q[2]))), (x, y) -> x + y) AS dist
         |  FROM e, a),
         |s$j AS MATERIALIZED (SELECT vec_id, code, dist FROM (
         |  SELECT vec_id, code, dist, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY dist, code) AS rn FROM d$j)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |a AS MATERIALIZED (SELECT
       |       CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS code,
       |       v AS av FROM e WHERE vec_id % 50 = 0 AND vec_id < $CodebookSpan),
       |$dists""".stripMargin
  }

  private def pqOracle: String = {
    val m = PqM
    val codes = (0 until m).map(j => s"CAST(s$j.code AS VARCHAR)")
      .mkString(" || '-' || ")
    val recon = (0 until m).map(j => s"s$j.dist").mkString(" + ")
    val joins = (1 until m).map(j => s"JOIN s$j USING (vec_id)").mkString(" ")
    s"""WITH $pqCodeCtes
       |SELECT s0.vec_id, $codes AS codes,
       |  round(sqrt($recon), 6) AS recon_err
       |FROM s0 $joins""".stripMargin
  }

  /** DuckDB replay of [[Similarity.pqTopK]] (ADC): each query's
    * per-subspace distance table `qd$j` is the same (x-y)^2 fold the
    * Spark kernel builds on the broadcast side; a candidate's distance is
    * the left-to-right sum of the m table lookups at its codes (the
    * `s$j` encode CTEs), ranked as sim = -dist like the engine. */
  private def pqTopkOracle: String = {
    val m = PqM; val sub = 64 / m
    val qds = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = j * sub + sub
      s"""qd$j AS MATERIALIZED (SELECT q.query_id, a.code,
         |  list_reduce(list_prepend(0.0, list_transform(
         |    list_zip(q.qv[$lo:$hi], a.av[$lo:$hi]),
         |    p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y) AS qdist
         |  FROM q, a)""".stripMargin
    }.mkString(",\n")
    val sJoins = (1 until m).map(j => s"JOIN s$j USING (vec_id)").mkString(" ")
    val qdJoins = "JOIN qd0 ON qd0.code = s0.code" +: (1 until m).map(j =>
      s"JOIN qd$j ON qd$j.code = s$j.code AND qd$j.query_id = qd0.query_id")
    val dist = (0 until m).map(j => s"qd$j.qdist").mkString(" + ")
    s"""WITH $pqCodeCtes,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |$qds,
       |scored AS (
       |  SELECT qd0.query_id, s0.vec_id AS cand_id, -($dist) AS sim
       |  FROM s0 $sJoins
       |  ${qdJoins.mkString("\n  ")}
       |  WHERE s0.vec_id <> qd0.query_id)
       |SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM (
       |  SELECT *, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin
  }

  /** DuckDB replay of [[topkIvfPq]] — the composed search is still fully
    * deterministic, so the whole pipeline is replayable: IVF probe set
    * and bucket assignment exactly as [[ivfOracle]] (anchors double as
    * coarse centroids), candidates restricted to probed buckets, scored
    * with the ADC table lookups of [[pqTopkOracle]] (same `s$j` codes,
    * same `qd$j` tables, same left-assoc sum). */
  private def ivfPqOracle: String = {
    val m = PqM; val sub = 64 / m
    val qds = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = j * sub + sub
      s"""qd$j AS MATERIALIZED (SELECT q.query_id, a.code,
         |  list_reduce(list_prepend(0.0, list_transform(
         |    list_zip(q.qv[$lo:$hi], a.av[$lo:$hi]),
         |    p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y) AS qdist
         |  FROM q, a)""".stripMargin
    }.mkString(",\n")
    val sJoins = (1 until m)
      .map(j => s"JOIN s$j ON s$j.vec_id = s0.vec_id").mkString(" ")
    val qdJoins = "JOIN qd0 ON qd0.code = s0.code AND qd0.query_id = p.query_id" +:
      (1 until m).map(j =>
        s"JOIN qd$j ON qd$j.code = s$j.code AND qd$j.query_id = p.query_id")
    val dist = (0 until m).map(j => s"qd$j.qdist").mkString(" + ")
    s"""WITH $pqCodeCtes,
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0 AND vec_id < $CodebookSpan),
       |asgn AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id, row_number() OVER
       |    (PARTITION BY e.vec_id
       |     ORDER BY ${duckCosine("e.v", "c.cv")} DESC, c.centroid_id ASC) AS rn
       |  FROM e, c) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |probes AS MATERIALIZED (SELECT query_id, centroid_id FROM (
       |  SELECT q.query_id, c.centroid_id, row_number() OVER
       |    (PARTITION BY q.query_id
       |     ORDER BY ${duckCosine("q.qv", "c.cv")} DESC, c.centroid_id ASC) AS rn
       |  FROM q, c) WHERE rn <= 3),
       |$qds,
       |scored AS (
       |  SELECT p.query_id, s0.vec_id AS cand_id, -($dist) AS sim
       |  FROM probes p JOIN asgn g USING (centroid_id)
       |  JOIN s0 ON s0.vec_id = g.vec_id $sJoins
       |  ${qdJoins.mkString("\n  ")}
       |  WHERE s0.vec_id <> p.query_id)
       |SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM (
       |  SELECT *, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin
  }

  /** DuckDB replay of [[topkIvf]]: the probe set and in-bucket distances
    * are fully deterministic (anchor centroids = every 50th vector), so
    * the whole approximate search is exactly replayable — assign = argmin
    * via (csim DESC, centroid_id ASC) row_number, probes = the nprobe=3
    * head of the same ordering per query, then the brute-force top-k
    * restricted to probed buckets. Same [[duckCosine]] fold as the Spark
    * kernel, rank on the unrounded sim like `sim_topk_brute`. */
  /** Shared IVF CTE prefix (double vectors, centroid table, bucket
    * assignment, query set) + a per-nprobe probes/scored/topk chain
    * generator — written once so [[ivfOracle]] (nprobe = 3) and the
    * probe-curve oracle stay one implementation. */
  private def ivfPrefix: String =
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0 AND vec_id < $CodebookSpan),
       |asgn AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id, row_number() OVER
       |    (PARTITION BY e.vec_id
       |     ORDER BY ${duckCosine("e.v", "c.cv")} DESC, c.centroid_id ASC) AS rn
       |  FROM e, c) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries)"""
      .stripMargin

  /** probes/scored/topk CTEs for one probe count; topk CTE is named
    * `tk$np` with columns (query_id, cand_id, rank, sim). */
  private def ivfChain(np: Int): String =
    s"""p$np AS (SELECT query_id, qv, centroid_id FROM (
       |  SELECT q.query_id, q.qv, c.centroid_id, row_number() OVER
       |    (PARTITION BY q.query_id
       |     ORDER BY ${duckCosine("q.qv", "c.cv")} DESC, c.centroid_id ASC) AS rn
       |  FROM q, c) WHERE rn <= $np),
       |s$np AS (
       |  SELECT p.query_id, a.vec_id AS cand_id,
       |    ${duckCosine("p.qv", "e.v")} AS sim
       |  FROM p$np p JOIN asgn a USING (centroid_id)
       |  JOIN e ON e.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.query_id),
       |tk$np AS (SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM (
       |  SELECT *, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
       |  FROM s$np)
       |WHERE rank <= $K)""".stripMargin

  private def ivfOracle: String =
    s"""WITH $ivfPrefix,
       |${ivfChain(3)}
       |SELECT query_id, cand_id, rank, sim FROM tk3""".stripMargin

  /** DuckDB replay of [[Similarity.kmeans]] (k=8, 2 rounds), generated
    * so the assign/update blocks are written once: every float fold runs
    * in the same order as the Spark side (dist = left-to-right dim fold;
    * mean = vec_id-ordered member fold / count). */
  private def kmeansOracle: String = {
    def distCte(alias: String, cent: String) =
      s"""$alias AS (SELECT e.vec_id, c.cluster,
         |  list_reduce(list_prepend(0.0, list_transform(list_zip(e.v, c.cv),
         |    q -> (q[1] - q[2]) * (q[1] - q[2]))), (a, b) -> a + b) AS dist
         |  FROM e, $cent c)""".stripMargin
    def assignCte(alias: String, dist: String) =
      s"""$alias AS (SELECT vec_id, cluster, dist FROM (
         |  SELECT vec_id, cluster, dist, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
         |  FROM $dist) WHERE rn = 1)""".stripMargin
    def updateCte(pAlias: String, mAlias: String, cAlias: String,
        assign: String) =
      s"""$pAlias AS (SELECT a.cluster, e.vec_id,
         |  e.vec_id // ${Similarity.KmBlock} AS blk, unnest(e.v) AS x,
         |  generate_subscripts(e.v, 1) AS pos
         |  FROM e JOIN $assign a USING (vec_id)),
         |${pAlias}b AS (SELECT cluster, pos, blk,
         |  list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
         |    (a, b) -> a + b) AS s, count(*) AS n
         |  FROM $pAlias GROUP BY 1, 2, 3),
         |$mAlias AS (SELECT cluster, pos,
         |  list_reduce(list_prepend(0.0, list(s ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(n) AS DOUBLE) AS c
         |  FROM ${pAlias}b GROUP BY 1, 2),
         |$cAlias AS (SELECT cluster, list(c ORDER BY pos) AS cv
         |  FROM $mAlias GROUP BY 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv
       |       FROM e ORDER BY vec_id LIMIT 8),
       |${distCte("d1", "c0")},
       |${assignCte("a1", "d1")},
       |${updateCte("p1", "m1", "c1", "a1")},
       |${distCte("d2", "c1")},
       |${assignCte("a2", "d2")},
       |${updateCte("p2", "m2", "c2", "a2")},
       |${distCte("d3", "c2")},
       |${assignCte("a3", "d3")}
       |SELECT vec_id, cluster, round(sqrt(dist), 6) AS dist FROM a3""".stripMargin
  }

  /** DuckDB cosine with the exact same operation order as
    * [[Similarity.cosine]]: elementwise products folded left-to-right,
    * then dot / (sqrt(na) * sqrt(nb)). */
  private def duckCosine(a: String, b: String): String =
    s"""(list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)
       | / (sqrt(list_reduce(list_prepend(0.0, list_transform($a,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))
       |    * sqrt(list_reduce(list_prepend(0.0, list_transform($b,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))))"""
      .stripMargin.replaceAll("\n", " ")

  /** DuckDB replay of [[mmrDiverse]] with one generated CTE per greedy
    * round (the BPE/kmeans oracle discipline): `cand` is the top-kCand
    * pool (ORDER BY rel DESC, cand_id), `pairs` the full in-pool cosine
    * matrix, and each `sel_r` picks the argmax of
    * lambdaRel*rel - lambdaDiv*max(sim to sel_1..sel_{r-1}) among the
    * not-yet-selected — unrounded doubles, cand_id tiebreak, exactly the
    * driver greedy. */
  private def mmrOracle: String = {
    def selu(r: Int): String =
      (1 to r).map(i => s"SELECT cand_id FROM sel$i").mkString(" UNION ALL ")
    val steps = (2 to MmrK).map { r =>
      s"""sel$r AS MATERIALIZED (SELECT c.cand_id, c.rel,
         |    $MmrLambdaRel * c.rel - $MmrLambdaDiv * max(p.s) AS score,
         |    $r AS r
         |  FROM cand c JOIN pairs p ON p.ia = c.cand_id
         |  WHERE p.ib IN (${selu(r - 1)})
         |    AND c.cand_id NOT IN (${selu(r - 1)})
         |  GROUP BY c.cand_id, c.rel
         |  ORDER BY score DESC, c.cand_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
       |    AS qv FROM embeddings WHERE vec_id = 0),
       |c0 AS (SELECT vec_id AS cand_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id <> 0),
       |scored AS (SELECT cand_id, cv, ${duckCosine("qv", "cv")} AS rel
       |  FROM c0 CROSS JOIN q),
       |cand AS MATERIALIZED (SELECT cand_id, cv, rel FROM scored
       |  ORDER BY rel DESC, cand_id LIMIT $MmrKCand),
       |pairs AS MATERIALIZED (SELECT a.cand_id AS ia, b.cand_id AS ib,
       |    ${duckCosine("a.cv", "b.cv")} AS s
       |  FROM cand a JOIN cand b ON a.cand_id <> b.cand_id),
       |sel1 AS MATERIALIZED (SELECT cand_id, rel,
       |    $MmrLambdaRel * rel AS score, 1 AS r
       |  FROM cand ORDER BY score DESC, cand_id LIMIT 1),
       |$steps
       |SELECT r AS sel_rank, cand_id AS vec_id, round(rel, 6) AS rel,
       |  round(score, 6) AS mmr_score
       |FROM (${(1 to MmrK).map(i => s"SELECT * FROM sel$i")
          .mkString(" UNION ALL ")})""".stripMargin
  }

  /** Single-sourced DuckDB replay of [[covParts]]'s blocked moment
    * chain — the exploded vector table, then the TWO-LEVEL fold
    * [[Similarity.blockedMoments]] fixes: per-(blk, cell) partials in
    * vec_id order, per-cell totals in blk order. Compositional pieces
    * so [[graft.OraclePrelude]] can materialize `sij`/`si` once per
    * gate run without re-deriving the other's chain. */
  private[graft] val covPCte: String =
    s"""p AS (SELECT vec_id, vec_id // $CovBlock AS blk,
       |    CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings)""".stripMargin
  private[graft] val covSijCtes: String =
    """pr AS (SELECT a.vec_id, a.blk, a.i, b.i AS j, a.x * b.x AS xy
      |  FROM p a JOIN p b ON a.vec_id = b.vec_id AND a.i <= b.i),
      |bsij AS (SELECT blk, i, j,
      |    list_reduce(list_prepend(0.0, list(xy ORDER BY vec_id)),
      |      (u, v) -> u + v) AS s
      |  FROM pr GROUP BY 1, 2, 3),
      |sij AS MATERIALIZED (SELECT i, j,
      |    list_reduce(list_prepend(0.0, list(s ORDER BY blk)),
      |      (u, v) -> u + v) AS s_ij
      |  FROM bsij GROUP BY 1, 2)""".stripMargin
  private[graft] val covSiCtes: String =
    """bsi AS (SELECT blk, i,
      |    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
      |      (u, v) -> u + v) AS s
      |  FROM p GROUP BY 1, 2),
      |si AS MATERIALIZED (SELECT i,
      |    list_reduce(list_prepend(0.0, list(s ORDER BY blk)),
      |      (u, v) -> u + v) AS s
      |  FROM bsi GROUP BY 1)""".stripMargin
  private[graft] val covMomentCtes: String =
    s"$covPCte,\n$covSijCtes,\n$covSiCtes"

  /** DuckDB replay of [[pcaProjection]]: blocked moment CTEs, the
    * mirrored full matrix, one generated (w, norm, v) CTE triple per
    * power-iteration round (ascending-index folds matching the driver
    * loops bit-for-bit), then the grouped projection fold. */
  private def pcaOracle: String = {
    val rounds = (1 to PcaRounds).map { k =>
      s"""w$k AS MATERIALIZED (SELECT c.i,
         |    list_reduce(list_prepend(0.0, list(c.cov * p.v ORDER BY c.j)),
         |      (a, b) -> a + b) AS w
         |  FROM cv c JOIN v${k - 1} p ON c.j = p.i GROUP BY c.i),
         |n$k AS (SELECT sqrt(list_reduce(list_prepend(0.0,
         |    list(w * w ORDER BY i)), (a, b) -> a + b)) AS nrm FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, w / nrm AS v
         |  FROM w$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $covMomentCtes,
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |cvu AS (SELECT s.i, s.j, (s.s_ij - a.s * b.s / n.n) / (n.n - 1) AS cov
       |  FROM sij s JOIN si a ON s.i = a.i JOIN si b ON s.j = b.i
       |  CROSS JOIN nn n),
       |cv AS MATERIALIZED (SELECT i, j, cov FROM cvu
       |  UNION ALL SELECT j AS i, i AS j, cov FROM cvu WHERE i <> j),
       |v0 AS (SELECT i, 1.0 AS v FROM range(1, 65) t(i)),
       |$rounds,
       |mu AS (SELECT si.i, si.s / nn.n AS m FROM si CROSS JOIN nn)
       |SELECT p.vec_id,
       |  round(list_reduce(list_prepend(0.0,
       |      list((p.x - mu.m) * vv.v ORDER BY p.i)), (a, b) -> a + b), 6)
       |    + 0.0 AS proj
       |FROM p JOIN mu ON p.i = mu.i JOIN v$PcaRounds vv ON p.i = vv.i
       |GROUP BY p.vec_id""".stripMargin
  }

  private def bruteOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < $NQueries),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, cand_id,
       |    ${duckCosine("qv", "cv")} AS sim
       |  FROM q JOIN c ON query_id <> cand_id
       |)
       |SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM (
       |  SELECT *, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the streaming ANN runs the SAME query set through the SAME IVF
    // geometry as sim_ivf_topk — one oracle proves both plans (and that
    // the stream-safe reorientation changed nothing)
    "stream_ann" -> ivfOracle,
    "sim_pca_proj" -> pcaOracle,
    "sim_mmr" -> mmrOracle,
    "sim_topk_brute" -> bruteOracle,
    // both sides of the recall report are themselves oracled queries, so
    // the report composes their replays — an index-quality audit that is
    // hash-gated rather than spec-bounded
    "sim_pq_recall" -> {
      val l2 =
        s"""-(list_reduce(list_prepend(0.0, list_transform(
           |  list_zip(q.qv, c.cv),
           |  p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
           |    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
           |  (a, x) -> a + x))""".stripMargin.replaceAll("\n", " ")
      s"""WITH ex AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM (SELECT q.query_id, c.cand_id, $l2 AS sim
         |      FROM (SELECT vec_id AS query_id, embedding AS qv
         |            FROM embeddings WHERE vec_id < $NQueries) q
         |      JOIN (SELECT vec_id AS cand_id, embedding AS cv
         |            FROM embeddings) c
         |        ON query_id <> cand_id))
         |  WHERE rank <= $K),
         |pqt AS (SELECT query_id, cand_id FROM ($pqTopkOracle)),
         |hits AS (SELECT ex.query_id,
         |    CAST(count(pqt.query_id) AS BIGINT) AS n_hit
         |  FROM ex LEFT JOIN pqt
         |    ON ex.query_id = pqt.query_id AND ex.cand_id = pqt.cand_id
         |  GROUP BY ex.query_id)
         |SELECT query_id, n_hit, round(n_hit / $K.0, 6) AS recall
         |FROM hits""".stripMargin
    },
    "sim_matryoshka_recall" ->
      s"""WITH br AS (SELECT query_id, cand_id FROM ($bruteOracle)),
         |qt AS (SELECT vec_id AS query_id, embedding[1:$MatryoshkaDims] AS qv
         |       FROM embeddings WHERE vec_id < $NQueries),
         |ct AS (SELECT vec_id AS cand_id, embedding[1:$MatryoshkaDims] AS cv
         |       FROM embeddings),
         |ts AS (SELECT query_id, cand_id, ${duckCosine("qv", "cv")} AS sim
         |       FROM qt JOIN ct ON query_id <> cand_id),
         |tr AS (SELECT query_id, cand_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM ts)
         |  WHERE rank <= $K),
         |hits AS (SELECT br.query_id,
         |    CAST(count(tr.query_id) AS BIGINT) AS n_hit
         |  FROM br LEFT JOIN tr
         |    ON br.query_id = tr.query_id AND br.cand_id = tr.cand_id
         |  GROUP BY br.query_id)
         |SELECT query_id, n_hit, round(n_hit / $K.0, 6) AS recall
         |FROM hits""".stripMargin,
    "sim_ivf_probe_curve" -> {
      val chains = ProbeCurve.map(ivfChain).mkString(",\n")
      val unions = ProbeCurve.map(np =>
        s"""SELECT $np AS nprobe, (SELECT count(*) FROM br
           |  JOIN tk$np USING (query_id, cand_id)) AS n_hit""".stripMargin)
        .mkString(" UNION ALL ")
      s"""WITH $ivfPrefix,
         |br AS (SELECT query_id, cand_id FROM ($bruteOracle)),
         |$chains
         |SELECT nprobe, CAST(n_hit AS BIGINT) AS n_hit,
         |  round(n_hit * 1.0 / ${NQueries * K}, 6) AS recall
         |FROM ($unions)""".stripMargin
    },
    "sim_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
         |  FROM embeddings WHERE vec_id < $KnnSample),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv,
         |  label AS nbr_label FROM embeddings),
         |scored AS (SELECT query_id, cand_id, nbr_label,
         |    ${duckCosine("qv", "cv")} AS sim
         |  FROM q JOIN c ON query_id <> cand_id),
         |tk AS (SELECT query_id, nbr_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= $KnnK),
         |v AS (SELECT query_id, nbr_label, count(*) AS n
         |  FROM tk GROUP BY 1, 2),
         |pred AS (SELECT query_id, nbr_label AS pred_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY n DESC, nbr_label ASC) AS rn
         |    FROM v)
         |  WHERE rn = 1)
         |SELECT e.label, CAST(pred.pred_label AS INT) AS pred_label,
         |  count(*) AS n
         |FROM pred JOIN embeddings e ON pred.query_id = e.vec_id
         |GROUP BY 1, 2""".stripMargin,
    "sim_sq8_recall" ->
      s"""WITH br AS (SELECT query_id, cand_id FROM ($bruteOracle)),
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |s AS (SELECT vec_id, dv,
         |  list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
         |  FROM e),
         |r AS MATERIALIZED (SELECT vec_id,
         |  list_transform(dv, x -> CASE WHEN scale <> 0
         |    THEN CAST(CAST(least(127.0, greatest(-127.0,
         |           round(x / scale, 0))) AS INT) AS DOUBLE) * scale
         |    ELSE 0.0 END) AS rv
         |  FROM s),
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${duckCosine("q.rv", "c.rv")} AS sim
         |  FROM (SELECT * FROM r WHERE vec_id < $NQueries) q
         |  JOIN r c ON q.vec_id <> c.vec_id),
         |sq AS (SELECT query_id, cand_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM ts)
         |  WHERE rank <= $K),
         |hits AS (SELECT br.query_id,
         |    CAST(count(sq.query_id) AS BIGINT) AS n_hit
         |  FROM br LEFT JOIN sq
         |    ON br.query_id = sq.query_id AND br.cand_id = sq.cand_id
         |  GROUP BY br.query_id)
         |SELECT query_id, n_hit, round(n_hit / $K.0, 6) AS recall
         |FROM hits""".stripMargin,
    "sim_ivf_ndcg" ->
      s"""WITH br AS (SELECT query_id, cand_id FROM ($bruteOracle)),
         |iv AS (SELECT query_id, cand_id, rank FROM ($ivfOracle)),
         |h AS (SELECT iv.query_id, iv.rank
         |  FROM iv JOIN br USING (query_id, cand_id)),
         |d AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(CAST(1.0 AS DOUBLE) / log2(rank + 1) ORDER BY rank)),
         |      (a, b) -> a + b) AS dcg
         |  FROM h GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(d.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(coalesce(d.dcg, CAST(0.0 AS DOUBLE))
         |    / CAST($IdcgK AS DOUBLE), 6) AS ndcg
         |FROM (SELECT DISTINCT query_id FROM br) q
         |LEFT JOIN d USING (query_id)""".stripMargin,
    "sim_ivf_recall" ->
      s"""WITH br AS (SELECT query_id, cand_id FROM ($bruteOracle)),
         |iv AS (SELECT query_id, cand_id FROM ($ivfOracle)),
         |hits AS (SELECT br.query_id,
         |    CAST(count(iv.query_id) AS BIGINT) AS n_hit
         |  FROM br LEFT JOIN iv
         |    ON br.query_id = iv.query_id AND br.cand_id = iv.cand_id
         |  GROUP BY br.query_id)
         |SELECT query_id, n_hit, round(n_hit / $K.0, 6) AS recall
         |FROM hits""".stripMargin,
    "sim_neardups_exact_oracle" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${duckCosine("a.embedding", "b.embedding")}, 6) AS sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${duckCosine("a.embedding", "b.embedding")} > $NearDupThreshold"""
        .stripMargin,
    // the RP-LSH pair/top-k queries are deterministic end-to-end: the
    // hyperplanes are fmix64-derived (replayed by XxHashSql's staged
    // mix), the sign dots fold left-to-right in both engines, and the
    // verify is the exact shared-contract cosine — only RECALL vs the
    // full pair set is approximate (SimilaritySpec bound)
    "sim_neardups_rplsh" ->
      s"""WITH ${graft.core.XxHashSql.rpLshSigCtes(tables = 32, bits = 8, dim = 64)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sigs a JOIN sigs b
         |    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT c.vec_a, c.vec_b, ${duckCosine("ea.embedding", "eb.embedding")} AS sim
         |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b)
         |SELECT vec_a, vec_b, round(sim, 6) AS sim FROM scored
         |WHERE sim > $NearDupThreshold""".stripMargin,
    "sim_topk_rplsh" ->
      s"""WITH ${graft.core.XxHashSql.rpLshSigCtes(tables = 32, bits = 8, dim = 64)},
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
         |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
         |  WHERE q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
         |scored AS (
         |  SELECT c.query_id, c.cand_id, ${duckCosine("ea.embedding", "eb.embedding")} AS sim
         |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.query_id
         |  JOIN embeddings eb ON eb.vec_id = c.cand_id)
         |SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "sim_quantize_stats" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |s AS (SELECT vec_id, dv,
        |  list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, scale, dv,
        |  list_transform(dv, x -> CASE WHEN scale <> 0
        |    THEN CAST(least(127.0, greatest(-127.0, round(x / scale, 0))) AS INT)
        |    ELSE 0 END) AS qs
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_max(list_transform(list_zip(qs, dv),
        |    p -> abs(CAST(p[1] AS DOUBLE) * scale - p[2]))), 6) AS max_abs_err
        |FROM q""".stripMargin,
    "sim_kmeans" -> kmeansOracle,
    "sim_cluster_purity" ->
      s"""WITH km AS ($kmeansOracle),
         |ct AS (SELECT km.cluster, e.label, count(*) AS c
         |  FROM km JOIN embeddings e ON km.vec_id = e.vec_id
         |  GROUP BY 1, 2),
         |r AS (SELECT cluster, label, c,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY c DESC, label ASC) AS rk,
         |    CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
         |  FROM ct)
         |SELECT cluster, n_members, CAST(label AS INT) AS majority_label,
         |  round(CAST(c AS DOUBLE) / n_members, 6) AS purity
         |FROM r WHERE rk = 1""".stripMargin,
    "sim_topk_ivf" -> ivfOracle,
    "sim_pq_stats" -> pqOracle,
    "sim_topk_pq" -> pqTopkOracle,
    "sim_topk_ivfpq" -> ivfPqOracle,
    "sim_covariance" ->
      s"""WITH $covMomentCtes,
        |n AS (SELECT count(*) AS n FROM embeddings)
        |SELECT s.i, s.j,
        |  round((s.s_ij - a.s * b.s / n.n) / (n.n - 1), 6) + 0.0 AS cov
        |FROM sij s JOIN si a ON s.i = a.i JOIN si b ON s.j = b.i
        |CROSS JOIN n""".stripMargin,
    "sim_centroid_drift" ->
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(vec_id % 2 AS INT) AS cohort,
         |    vec_id // $DriftBlock AS blk,
         |    unnest(range(0, len(embedding))) AS d,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |l1 AS (SELECT cohort, d, blk,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(v ORDER BY vec_id)), (a, x) -> a + x) AS s,
         |    count(*) AS c
         |  FROM ex GROUP BY 1, 2, 3),
         |l2 AS (SELECT cohort, d,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(s ORDER BY blk)), (a, x) -> a + x) AS s,
         |    CAST(sum(c) AS BIGINT) AS n
         |  FROM l1 GROUP BY 1, 2),
         |ms AS (SELECT cohort, d, s / CAST(n AS DOUBLE) AS m, n FROM l2),
         |j AS (SELECT a.d, a.m AS ma, b.m AS mb, a.n AS na, b.n AS nb
         |  FROM ms a JOIN ms b ON a.d = b.d
         |  WHERE a.cohort = 0 AND b.cohort = 1),
         |agg AS (SELECT max(na) AS n_a, max(nb) AS n_b,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list((ma - mb) * (ma - mb) ORDER BY d)), (a, x) -> a + x) AS sq,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(ma * mb ORDER BY d)), (a, x) -> a + x) AS dot,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(ma * ma ORDER BY d)), (a, x) -> a + x) AS qa,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(mb * mb ORDER BY d)), (a, x) -> a + x) AS qb,
         |    max({'s': abs(ma - mb), 'd': d}) AS mx
         |  FROM j)
         |SELECT n_a, n_b, round(sqrt(sq), 6) AS l2_dist,
         |  round(dot / (sqrt(qa) * sqrt(qb)), 6) AS cosine,
         |  round(mx.s, 6) AS max_abs_shift, mx.d AS max_shift_dim
         |FROM agg""".stripMargin,
    "sim_semantic_dedup" ->
      s"""WITH km AS ($kmeansOracle)
         |SELECT cluster, vec_id, CAST(rn AS INT) AS rn FROM (
         |  SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
         |      ORDER BY dist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS c
         |  FROM km) WHERE rn <= (c + 1) / 2""".stripMargin,
    "sim_cluster_sample" ->
      s"""WITH km AS ($kmeansOracle)
         |SELECT cluster, vec_id, CAST(rn AS INT) AS rn FROM (
         |  SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM km) WHERE rn <= 20""".stripMargin,
    "sim_diversity" ->
      s"""WITH p AS (SELECT vec_id, label,
        |    vec_id // ${Similarity.KmBlock} AS blk,
        |    CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |svb AS (SELECT label, pos, blk,
        |    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
        |      (a, b) -> a + b) AS bs
        |  FROM p GROUP BY 1, 2, 3),
        |sv AS (SELECT label, pos,
        |    list_reduce(list_prepend(0.0, list(bs ORDER BY blk)),
        |      (a, b) -> a + b) AS s
        |  FROM svb GROUP BY 1, 2),
        |nsq AS (SELECT label,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(list(s ORDER BY pos), v -> v * v)),
        |      (a, b) -> a + b) AS nsq
        |  FROM sv GROUP BY 1),
        |norms AS (SELECT label, vec_id,
        |    vec_id // ${Similarity.KmBlock} AS blk,
        |    list_reduce(list_prepend(0.0, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (a, b) -> a + b) AS nrm
        |  FROM embeddings),
        |ssqb AS (SELECT label, blk, count(*) AS bn,
        |    list_reduce(list_prepend(0.0, list(nrm ORDER BY vec_id)),
        |      (a, b) -> a + b) AS bssq
        |  FROM norms GROUP BY 1, 2),
        |ssq AS (SELECT label, CAST(sum(bn) AS BIGINT) AS n,
        |    list_reduce(list_prepend(0.0, list(bssq ORDER BY blk)),
        |      (a, b) -> a + b) AS ssq
        |  FROM ssqb GROUP BY 1)
        |SELECT s.label, s.n,
        |  round(2.0 * (CAST(s.n AS DOUBLE) * s.ssq - q.nsq)
        |    / (CAST(s.n AS DOUBLE) * (CAST(s.n AS DOUBLE) - 1.0)), 6)
        |    AS mean_pair_sqdist
        |FROM ssq s JOIN nsq q USING (label)""".stripMargin,
    "sim_centroid_dist" ->
      s"WITH $centroidDistCtes\nSELECT vec_id, label, dist FROM dist",
    "sim_nearest_centroid" ->
      s"""WITH $centroidCtes,
         |a AS MATERIALIZED (SELECT e.vec_id, e.label, c.label AS pred_label,
         |  ${duckCosine("e.embedding", "c.cv")} AS csim
         |  FROM embeddings e, cent c),
         |b AS (SELECT label, pred_label, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY csim DESC, pred_label ASC) AS rn
         |  FROM a)
         |SELECT label, pred_label, count(*) AS n FROM b
         |WHERE rn = 1 GROUP BY label, pred_label""".stripMargin,
    "sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
         |           embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
         |c AS (SELECT vec_id AS cand_id, label AS clabel, embedding AS cv
         |      FROM embeddings),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    ${duckCosine("qv", "cv")} AS sim
         |  FROM q JOIN c ON qlabel <> clabel
         |)
         |SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "sim_label_outliers" ->
      s"""WITH $centroidDistCtes,
         |mub AS (SELECT label, vec_id // ${Similarity.KmBlock} AS blk,
         |  list_reduce(list_prepend(0.0, list(dist ORDER BY vec_id)),
         |    (acc, v) -> acc + v) AS s, count(*) AS cnt
         |  FROM dist GROUP BY 1, 2),
         |mu AS (SELECT label,
         |  list_reduce(list_prepend(0.0, list(s ORDER BY blk)),
         |    (acc, v) -> acc + v) / CAST(sum(cnt) AS DOUBLE) AS mu
         |  FROM mub GROUP BY label),
         |sgb AS (SELECT d.label, d.vec_id // ${Similarity.KmBlock} AS blk,
         |  list_reduce(list_prepend(0.0,
         |    list((d.dist - m.mu) * (d.dist - m.mu) ORDER BY d.vec_id)),
         |    (acc, v) -> acc + v) AS s, count(*) AS cnt
         |  FROM dist d JOIN mu m USING (label) GROUP BY 1, 2),
         |sg AS (SELECT label,
         |  sqrt(list_reduce(list_prepend(0.0, list(s ORDER BY blk)),
         |    (acc, v) -> acc + v) / CAST(sum(cnt) AS DOUBLE)) AS sigma
         |  FROM sgb GROUP BY label)
         |SELECT d.vec_id, d.label, d.dist,
         |  round((d.dist - m.mu) / s.sigma, 4) AS z
         |FROM dist d JOIN mu m USING (label) JOIN sg s ON d.label = s.label
         |WHERE s.sigma > 0 AND round((d.dist - m.mu) / s.sigma, 4) >= 2.0"""
        .stripMargin,
  )

  /** Shared per-label centroid CTEs — the [[labelCentroids]] replay
    * (ordered folds per (label, pos), components reassembled in pos
    * order). MATERIALIZED: consumers reference `cent` from joins. */
  private def centroidCtes: String =
    s"""p AS (SELECT vec_id, label, vec_id // ${Similarity.KmBlock} AS blk,
      |    CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings),
      |centb AS (SELECT label, pos, blk,
      |    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
      |      (acc, v) -> acc + v) AS s, count(*) AS cnt
      |  FROM p GROUP BY label, pos, blk),
      |cent0 AS (SELECT label, pos,
      |    list_reduce(list_prepend(0.0, list(s ORDER BY blk)),
      |      (acc, v) -> acc + v) / CAST(sum(cnt) AS DOUBLE) AS c
      |  FROM centb GROUP BY label, pos),
      |cent AS MATERIALIZED (SELECT label, list(c ORDER BY pos) AS cv
      |         FROM cent0 GROUP BY label)""".stripMargin

  /** [[centroidCtes]] + the rounded own-centroid L2 distance per vector
    * (the [[centroidDist]] replay); `dist` is MATERIALIZED because the
    * outlier oracle references it from three joins. */
  private def centroidDistCtes: String =
    s"""$centroidCtes,
       |dist AS MATERIALIZED (SELECT e.vec_id, e.label,
       |  round(sqrt(list_reduce(list_prepend(0.0,
       |    list_transform(list_zip(e.embedding, c.cv),
       |      q -> (CAST(q[1] AS DOUBLE) - q[2]) * (CAST(q[1] AS DOUBLE) - q[2]))),
       |    (acc, v) -> acc + v)), 6) AS dist
       |FROM embeddings e JOIN cent c USING (label))""".stripMargin
}
