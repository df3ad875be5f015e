package graft.queries

import graft.core.Checkpoints.StableOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Tokenizer
import graft.operators.{Dedup, LinearModel, Multimodal, TextAnalysis}

/** Text-analysis + multimodal-plumbing query coverage (north-star ops:
  * quality scoring, language-ID, fingerprinting [in DedupQueries],
  * binary-column decode pipeline). */
object AnalysisQueries extends graft.QueryModule {

  /** Per-doc quality features + composite score. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val feats = TextAnalysis.qualityFeatures(col("text"))
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
  }

  private[queries] val LrIters = 20
  private[queries] val LrRate = 2.0
  private[queries] val LrLabelThreshold = 0.6

  /** Model-based quality classifier (the CCNet / LLaMA-pretraining
    * filtering move): train a linear scorer by full-batch GD
    * ([[LinearModel.trainSoftsignGd]], [[LrIters]] rounds at rate
    * [[LrRate]]) on per-doc features — capped length score, stopword
    * ratio, mean token length — against a rule-derived label (composite
    * quality >= [[LrLabelThreshold]], i.e. the heuristic gate distilled
    * into a learned scorer), then score EVERY document with the trained
    * weights. Output: (doc_id, p, pred, label).
    *
    * Every feature is a ROUNDED double (the 4-dp convention), the link
    * is exp-free, and gradient folds run in a fixed two-level order, so
    * all 20 training rounds and the final scores replay bit-for-bit in
    * the DuckDB oracle (generated per-round CTEs, the BPE/kmeans
    * discipline). Scale shape: one cached 5-column projection; each
    * round is a bounded two-level aggregation (no global sort, no
    * per-row UDF), and the weight vector — the only driver state — is
    * 4 doubles. */
  def qualityLr(spark: SparkSession, dir: String): DataFrame = {
    val fmap = TextAnalysis.qualityFeatures(col("text")).toMap
    // no blk column / repartition here since the r17 RDD-round rewrite:
    // the trainer owns its block layout (one internal shuffle +
    // in-partition sort, see [[LinearModel.trainSoftsignGd]]), so a
    // df-level repartition by blk would be a second, dead shuffle. The
    // cache serves the trainer's projection pass and the final scoring.
    val feats = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        round(least(fmap("n_tokens") / lit(500.0), lit(1.0)), 4).as("x1"),
        (fmap("stopword_ratio") * lit(10.0)).as("x2"),
        (fmap("mean_token_len") / lit(8.0)).as("x3"),
        when(fmap("quality") >= lit(LrLabelThreshold), lit(1.0))
          .otherwise(lit(0.0)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = LinearModel.trainSoftsignGd(feats, "doc_id",
      Seq("x1", "x2", "x3"), "y", LrRate, LrIters)
    val p = LinearModel.softsign(LinearModel.response(w, Seq("x1", "x2", "x3")))
    // cache intentionally retained for the result's lineage (the kmeans
    // note); callers running many engines can clearCache()
    feats.select(col("doc_id"), round(p, 4).as("p"),
      when(p > lit(0.5), 1).otherwise(0).as("pred"),
      col("y").cast("int").as("label"))
  }

  /** Trained quality-classifier scores via [[graft.core.DfCache]]
    * (PRIMARY `ta_quality_lr` stays uncached and honest — calibration
    * would otherwise re-run the 20-round GD training to reproduce the
    * identical score table). */
  private def cachedQualityLr(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "ta:quality_lr")(
      qualityLr(spark, dir))

  /** Shared unigram term-frequency explode — (doc_id, term, tf), one row
    * per distinct (doc, term) — via [[graft.core.DfCache]]. Five
    * sparse-retrieval entries (`ta_bm25`, `ta_rrf`, `ta_hybrid_related`,
    * `ta_sparse_sim`, and the PRIMARY `ta_tfidf_top`) derive everything
    * from this identical table; before the cache each rebuilt it
    * (~1.5-2.6 s of the suite apiece at sf0.1). Graph-family
    * discipline: the primary (`ta_tfidf_top`) keeps its own uncached
    * build so one catalog entry still reports the honest standalone
    * derivation cost; the other four read through here. */
  private def cachedTf(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "ta:tf")(
      Tables.loadSpread(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.term_counts(col("text")))
            .as(Seq("term", "tf"))))

  /** Full-vector tf-idf weights `(doc_id, term, df, w)` shared by the
    * two rank-fusion entries (`ta_rrf`, `ta_hybrid_related`), which
    * previously each rebuilt the identical tf ⋈ df ⋈ ln(n/df) weighting
    * on top of [[cachedTf]]; `ta_tfidf_top` remains the family's
    * UNCACHED primary (same derivation shape, honest standalone
    * timing). Builder reads through [[cachedTf]] — built outside the
    * store lock, the documented nested-cache pattern. */
  /** Session memo for the tf-distinct document count the tf-idf family
    * keys its idf on (r18): `cachedTfidfW`'s builder and `rrfFusion`
    * each ran the identical distinct-count over the million-row tf
    * explode as an eager per-call action. Same sharing category as
    * [[graft.core.DfCache]] (cross-entry, session-scoped, nothing
    * persisted across runs); cleared alongside it by
    * [[graft.GraftSession.coldReset]] ([[nDocsTfMemoClear]]) so a cold
    * rep pays the standalone count. */
  private val nDocsTfMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.lang.Double]()
  private[graft] def nDocsTfMemoClear(): Unit = nDocsTfMemo.clear()
  private[graft] def nDocsTfMemoSize: Int = nDocsTfMemo.size()
  private def nDocsOfTf(spark: SparkSession, dir: String): Double =
    nDocsTfMemo.computeIfAbsent((spark, dir),
      _ => cachedTf(spark, dir).select(col("doc_id")).distinct()
        .count().toDouble).doubleValue()

  private def cachedTfidfW(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "ta:tfidf_w") {
      val tf = cachedTf(spark, dir)
      val nDocs = nDocsOfTf(spark, dir)
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // df is VOCABULARY-sized: no forced broadcast (a real vocabulary
      // outgrows it) — Catalyst/AQE picks broadcast at test scale
      tf.join(dfT, "term")
        .withColumn("w", col("tf").cast("double") * log(lit(nDocs) / col("df")))
        .select(col("doc_id"), col("term"), col("df"), col("w"))
    }

  /** Full-vector document norms over [[cachedTfidfW]] — one double per
    * doc, the other half of the work both fusion rankers repeated. */
  private def cachedTfidfNorms(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "ta:tfidf_norms")(
      cachedTfidfW(spark, dir).groupBy(col("doc_id"))
        .agg(sqrt(graft.functions.TextFunctions.ordered_sum(
          col("w") * col("w"), col("term"))).as("nrm")))

  /** Calibration (reliability-curve) audit of the trained quality
    * classifier: bucket predicted probabilities into deciles and report
    * per-bin count, mean predicted p, empirical positive rate, and the
    * |gap| — the "can I trust 0.8 to mean 80%" check run before using
    * model scores as sampling weights or quality gates. A model whose
    * curve hugs the diagonal can drive proportional sampling; one that
    * doesn't should only be thresholded.
    *
    * One decile aggregate over the (already-oracled, cached) score
    * table; mean-p folds doc_id-ordered for cross-engine bit equality;
    * p = 1.0 joins the top bin (`least(floor(10p), 9)`), the standard
    * right-closed convention. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = cachedQualityLr(spark, dir)
    scored
      .withColumn("bin",
        least(floor(col("p") * 10), lit(9.0)).cast("int"))
      // two-level mean-p fold (doc_id within LinearModel.BlockSize-d
      // blocks, blk across): a bin's membership is corpus/10, so a flat
      // doc_id fold buffers corpus-proportional state
      .withColumn("blk", expr(
        s"doc_id div ${graft.operators.LinearModel.BlockSize}"))
      .groupBy(col("bin"), col("blk"))
      .agg(count(lit(1)).as("bn"),
        graft.functions.TextFunctions.ordered_sum(
          col("p"), col("doc_id")).as("bp"),
        sum(col("label")).as("bl"))
      .groupBy(col("bin"))
      .agg(sum(col("bn")).as("n"),
        round(graft.functions.TextFunctions.ordered_sum(
          col("bp"), col("blk")) / sum(col("bn")), 6).as("mean_p"),
        round(sum(col("bl")) * lit(1.0) / sum(col("bn")), 6)
          .as("frac_pos"))
      .select(col("bin"), round(col("bin") / 10.0, 1).as("p_lo"),
        col("n"), col("mean_p"), col("frac_pos"),
        round(abs(col("mean_p") - col("frac_pos")), 6).as("gap"))
  }

  /** Decile lift/gains table of the trained quality classifier — the
    * "is the model worth using as a ranker" audit that complements
    * [[qualityCalibration]]'s "can I trust the probabilities": rank all
    * docs by predicted score (exact rank deciles, not p-value bins),
    * and per decile report the positive rate, the cumulative share of
    * all positives captured, and the cumulative lift over the base
    * rate. Decile 1 of a useful model captures far more than 10% of
    * positives; lift ~1 everywhere means the scores are noise.
    *
    * Ranking uses [[Quantiles.ntileBy]] over the 4-dp score
    * distribution (doc_id tiebreak) — exact SQL `ntile(10) OVER
    * (ORDER BY p DESC, doc_id)` without a global row sort. Everything
    * after is integer counts; the final rates divide exact BIGINTs, so
    * the curve replays bit-for-bit. Rides the [[cachedQualityLr]]
    * score table (primary `ta_quality_lr` stays uncached). */
  def qualityLift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = cachedQualityLr(spark, dir)
    val total = scored.agg(count(lit(1)).as("n"))
    val dec = graft.operators.Quantiles.ntileBy(
      scored, -col("p"), col("doc_id"), 10, total, "decile")
    val g = dec.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("label")).cast("long").as("n_pos"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // <= 10 rows
    val totals = scored.agg(count(lit(1)).as("tot_n"),
      sum(col("label")).cast("long").as("tot_pos"))
    g.withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .crossJoin(broadcast(totals))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        round(col("cum_pos").cast("double") / col("tot_pos").cast("double"), 6)
          .as("captured"),
        round((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          (col("tot_pos").cast("double") / col("tot_n").cast("double")), 6)
          .as("lift"))
  }

  /** Closed-form per-language OLS fit of the composite quality score
    * against document length (n_chars) — the descriptive-statistics move
    * behind scaling-law / calibration plots ("does quality drift with
    * length, per language, and how tightly?"). Slope, intercept and r^2
    * come from the five classic sufficient statistics (Sx, Sy, Sxx,
    * Syy, Sxy), each accumulated with the [[LinearModel]] two-level
    * ordered fold (per doc-id block, then across blocks), so the
    * whole fit replays bit-for-bit in SQL. One aggregation pass; the
    * per-lang algebra afterwards is scalar. Degenerate strata (zero
    * variance on either axis) yield NULL slope/intercept/r2 in both
    * engines rather than an engine-specific infinity. */
  def lengthQualityFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.ordered_sum
    val fmap = TextAnalysis.qualityFeatures(col("text")).toMap
    val d = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr(s"doc_id div ${LinearModel.BlockSize}").as("blk"),
        col("n_chars").cast("double").as("x"),
        fmap("quality").as("y"))
    val lvl1 = d.groupBy(col("lang"), col("blk")).agg(
      count(lit(1)).as("c"),
      ordered_sum(col("x"), col("doc_id")).as("sx"),
      ordered_sum(col("y"), col("doc_id")).as("sy"),
      ordered_sum(col("x") * col("x"), col("doc_id")).as("sxx"),
      ordered_sum(col("y") * col("y"), col("doc_id")).as("syy"),
      ordered_sum(col("x") * col("y"), col("doc_id")).as("sxy"))
    val s = lvl1.groupBy(col("lang")).agg(
      sum(col("c")).as("n"),
      ordered_sum(col("sx"), col("blk")).as("sx"),
      ordered_sum(col("sy"), col("blk")).as("sy"),
      ordered_sum(col("sxx"), col("blk")).as("sxx"),
      ordered_sum(col("syy"), col("blk")).as("syy"),
      ordered_sum(col("sxy"), col("blk")).as("sxy"))
    val nd = col("n").cast("double")
    val varx = nd * col("sxx") - col("sx") * col("sx")
    val vary = nd * col("syy") - col("sy") * col("sy")
    val cov = nd * col("sxy") - col("sx") * col("sy")
    val ok = varx > 0.0 && vary > 0.0
    s.select(col("lang"), col("n"),
      when(ok, round(cov / varx, 6)).as("slope"),
      when(ok, round((col("sy") - (cov / varx) * col("sx")) / nd, 6))
        .as("intercept"),
      when(ok, round(cov * cov / (varx * vary), 6)).as("r2"))
  }

  /** Gopher-style quality RULE GATE (Rae et al. 2021 §A1.1) — the
    * published web-corpus filter expressed as named boolean rules per
    * document, distinct from [[quality]]'s weighted composite: word-count
    * bounds [50, 100k], mean word length in [3, 10], >= 80% of words
    * containing a letter, and >= 2 stopword hits. (The bullet/ellipsis
    * line rules need line structure this corpus doesn't have; the
    * symbol-ratio rule is subsumed by the alpha-word rule here.) A pure
    * projection over one tokenization — scan-bound at any scale, no
    * shuffle at all. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(TextAnalysis.Stopwords.map(lit): _*)
    val withTs = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokensOf(col("text")).as("ts"))
    val n = size(col("ts"))
    val nd = n.cast("double")
    val meanLen = when(n > 0,
      aggregate(col("ts"), lit(0L), (a, t) => a + length(t)).cast("double") / nd)
      .otherwise(lit(0.0))
    val alphaFrac = when(n > 0,
      size(filter(col("ts"), t => t.rlike("\\p{L}"))).cast("double") / nd)
      .otherwise(lit(0.0))
    val nStop = size(filter(col("ts"), t => array_contains(stopArr, t)))
    val passWords = n.between(50, 100000)
    val passLen = meanLen.between(3.0, 10.0)
    val passAlpha = alphaFrac >= 0.8
    val passStop = nStop >= 2
    withTs.select(col("doc_id"), n.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaFrac, 4).as("alpha_word_frac"),
      nStop.as("n_stopwords"),
      passWords.as("pass_word_count"),
      passLen.as("pass_word_len"),
      passAlpha.as("pass_alpha"),
      passStop.as("pass_stopwords"),
      (passWords && passLen && passAlpha && passStop).as("pass"))
  }

  private val DsirBuckets = 1024

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-likelihood ratio between a TARGET unigram LM (here lang = 'en')
    * and the RAW corpus LM, both over a HASHED feature space of
    * [[DsirBuckets]] buckets (hashing is what bounds the vocabulary on an
    * open-domain corpus) with add-one smoothing. The bucket hash is the
    * engine's seed-0 XXH64 ([[graft.functions.Hash64]]), replayed exactly
    * by [[graft.core.XxHashSql.hash64Ctes]] in the oracle; the per-doc sum
    * is an [[graft.functions.TextFunctions.ordered_sum]] keyed by bucket
    * id, so the double fold order is fixed cross-engine.
    *
    * Scale shape: one tokenization feeds per-(doc, bucket) counts
    * (persisted — both LMs and the scoring pass derive from it, and
    * Catalyst doesn't CSE self-references); both LMs are bucket-bounded
    * (<= [[DsirBuckets]] rows) and broadcast; scoring is a map-side
    * broadcast join + per-doc aggregate with partial combine. Nothing
    * scales with vocabulary. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val db = docs
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokensOf(col("text"))).as("t"))
      .withColumn("b", graft.functions.TextFunctions.hash64(col("t"))
        .bitwiseAND(lit((DsirBuckets - 1).toLong)).cast("int"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tc = db.filter(col("lang") === "en")
      .groupBy(col("b")).agg(sum(col("c")).as("tc"))
    val rc = db.groupBy(col("b")).agg(sum(col("c")).as("rc"))
    val tTot = tc.agg(sum(col("tc")).as("tt"))
    val rTot = rc.agg(sum(col("rc")).as("tr"))
    val lm = rc.join(tc, Seq("b"), "left_outer")
      .crossJoin(tTot).crossJoin(rTot)
      .select(col("b"),
        (log((coalesce(col("tc"), lit(0L)) + lit(1.0))
            / (col("tt") + lit(DsirBuckets)).cast("double"))
          - log((col("rc") + lit(1.0))
            / (col("tr") + lit(DsirBuckets)).cast("double"))).as("lr"))
    val out = db.join(broadcast(lm), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        graft.functions.TextFunctions
          .ordered_sum(col("c").cast("double") * col("lr"), col("b")).as("w"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("w"), 5).as("log_weight"))
      .stableCheckpoint()
    db.unpersist(blocking = false)
    out
  }

  /** Per-source n-gram diversity (corpus redundancy audit): distinct
    * 3-gram types vs total 3-gram occurrences — the type-token ratio
    * that flags template-heavy or boilerplate sources before training.
    * Totals never materialize grams (arithmetic on the token count);
    * the type count is one distinct + count over the per-doc distinct
    * shingles, so the shuffled unit is a (source, gram) pair, not
    * documents. */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), TextAnalysis.tokensOf(col("text")).as("ts"),
        Dedup.shingles(col("text"), 3).as("sh"))
    val totals = toks.groupBy(col("source"))
      .agg(sum(greatest(size(col("ts")) - 2, lit(0))).as("total_grams"))
    val types = toks.select(col("source"), explode(col("sh")).as("g"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("distinct_grams"))
    totals.join(types, Seq("source"))
      .select(col("source"), col("total_grams"), col("distinct_grams"),
        round(col("distinct_grams") / col("total_grams"), 6).as("diversity"))
  }

  /** Pairwise source content overlap: Jaccard between the distinct
    * 3-gram shingle sets of every source pair that shares at least one
    * gram — the cross-source contamination / mirror-site detector.
    * Scale shape: one distinct over (source, gram), then a postings
    * groupBy per gram whose value set is bounded by the source count
    * (pair expansion is C(sources-with-gram, 2), never document-
    * quadratic); set sizes are a tiny broadcast joined twice. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("g"))
      .distinct()
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = grams.groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss")) - i - 1),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("pr"))
      .groupBy(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
  }

  /** Marker-word language ID vs the labeled lang column, per doc. */
  def langid(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.predictedLang(col("text")).as("predicted"))
      .withColumn("match", col("lang") === col("predicted"))

  /** Character-n-gram language ID (trigram-profile overlap argmax) —
    * the n-gram variant of [[langid]], built purely from distinct +
    * intersect built-ins. */
  def langidNgram(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.predictedLangTrigram(col("text")).as("predicted"))
      .withColumn("match", col("lang") === col("predicted"))

  /** Language-ID confusion counts (A10-shaped over the heuristic). */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame =
    langid(spark, dir)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Multimodal decode pipeline: text-as-blob -> mapPartitions stub decode
    * -> per-type stats. The oracle re-derives the deterministic fake
    * metadata arithmetically — proving the partition-local decode path
    * produced exactly the declared schema/values. */
  def mmDecodeStats(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.asBlobs(Tables.loadSpread(spark, dir, "documents"))
    val meta = Multimodal.decodeMeta(spark, blobs)
    meta.toDF().groupBy(col("media_type")).agg(
      count(lit(1)).as("n_blobs"),
      sum(col("byte_len")).cast("long").as("total_bytes"),
      round(avg(col("width")), 4).as("avg_width"),
      round(avg(col("height")), 4).as("avg_height"),
      sum(col("n_frames")).cast("long").as("total_frames"))
  }

  /** Frame sampling over video blobs (explode path), aggregated. */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.asBlobs(Tables.loadSpread(spark, dir, "documents"))
    val meta = Multimodal.decodeMeta(spark, blobs)
    Multimodal.sampleFrames(spark, meta, stride = 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("last_frame"))
  }

  /** Aspect-fit resize plan over decoded image metadata, per-type stats.
    * Oracle re-derives the stub dims + the fit arithmetic. */
  def mmResizeStats(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.asBlobs(Tables.loadSpread(spark, dir, "documents"))
    val meta = Multimodal.decodeMeta(spark, blobs).toDF()
    Multimodal.resizePlan(meta, maxW = 320, maxH = 240)
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("downscaled"), 1).otherwise(0)).as("n_downscaled"),
        round(avg(col("out_w")), 4).as("avg_out_w"),
        round(avg(col("out_h")), 4).as("avg_out_h"))
  }

  /** Feature extraction over blobs (8-bucket byte histogram + entropy) —
    * real mapPartitions kernel; per-doc projection of two components.
    * Not SQL-expressible (per-byte loop) → rows-only driver check, with
    * the contract (sum(features)==1, entropy bounds) spec-tested. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.asBlobs(Tables.loadSpread(spark, dir, "documents"))
    Multimodal.extractFeatures(spark, blobs).toDF()
      .select(col("doc_id"), col("media_type"),
        round(col("features").getItem(1), 6).as("f1"),
        round(col("features").getItem(3), 6).as("f3"),
        round(col("entropy"), 6).as("entropy"))
  }

  /** Perceptual-hash near-duplicate pairs within a media type
    * ([[Multimodal.phashNearDups]]): banded Hamming blocking over the
    * partition-local aHash, exact popcount verify at <= 3 bits — image
    * dedup for the multimodal tier, oracled via a byte-level SQL replay
    * of the hash plus the quadratic pair definition (equal by pigeonhole
    * at this threshold). */
  def mmPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.asBlobs(Tables.loadSpread(spark, dir, "documents"))
    Multimodal.phashNearDups(spark, blobs, maxHamming = 3)
  }

  /** Perceptual-hash Hamming-distance histogram over the banded
    * candidate pairs — the multimodal member of the threshold-tuning
    * family (text: dedup_sim_histogram; embeddings:
    * sim_ivf_probe_curve): per distance, the pair count and the
    * cumulative at-or-below count a given dedup cutoff would merge.
    * Complete by pigeonhole at hamming <= 3 (the 4x16-bit banding);
    * larger distances are as-observed band collisions — exactly the
    * candidate stream a banded pipeline sees at scale. The cumulative
    * window runs over <= 65 distance rows, bounded by the hash width. */
  def mmPhashHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blobs = Multimodal.asBlobs(Tables.loadSpread(spark, dir, "documents"))
    val hist = Multimodal.phashCandidates(spark, blobs)
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("hamming").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("n_pairs_le", sum(col("n_pairs")).over(w))
      .select(col("hamming"), col("n_pairs"), col("n_pairs_le"))
  }

  /** BM25 keyword scoring (Okapi, k1=1.2 b=0.75) for a fixed query-term
    * set — the retrieval shape behind corpus search and RAG candidate
    * generation. One tf pass feeds document lengths, per-term df, and
    * the scoring rows; df and the 2-scalar corpus stats broadcast back,
    * so the only per-document shuffle key is doc_id. All arithmetic runs
    * on explicit doubles in the same operation order as the oracle, and
    * the per-document term sum folds in term order (<= 3 values). */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("join", "filter", "vector")
    val (k1, b) = (1.2, 0.75)
    // shared tf base ([[cachedTf]]) — the scoring passes below are this
    // query's own work; the explode is family-shared
    val tf = cachedTf(spark, dir)
    val len = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val stats = len.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tot"))
      .select(col("n_docs"),
        (col("tot").cast("double") / col("n_docs")).as("avgdl"))
    val qtf = tf.filter(col("term").isin(queryTerms: _*))
    val dft = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = col("n_docs").cast("double")
    val dfd = col("df").cast("double")
    val idf = log((nd - dfd + lit(0.5)) / (dfd + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("len").cast("double") / col("avgdl"))
    qtf.join(len, "doc_id").join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (idf * col("tf").cast("double") / denom).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(graft.functions.TextFunctions.ordered_sum(
        col("s"), col("term")), 6).as("bm25"))
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis): each document draws u from a content hash
    * (reproducible, no RNG state) and competes with key u^(1/w) — here
    * ranked by the monotone-equivalent ln(u)/w so no pow is needed —
    * with w = n_chars. The top-k selection is a TakeOrdered (per-
    * partition top-k, k rows per partition cross the shuffle), never a
    * full sort: the curation move "sample big documents more often,
    * reproducibly" at any corpus scale. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val key = log((h.cast("double") + lit(0.5)) / lit(4294967296.0)) /
      col("n_chars")
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("weight"), key.as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("weight"),
        round(col("key") * lit(10000.0), 6).as("skey"))
  }

  /** End-to-end corpus curation composite — the operators COMPOSE into
    * one plan: fingerprint dedup (keep-min) -> language + length gates
    * -> per-source document/token budget. One pipeline, three of the
    * engine's curation stages, a single job: dedup's window runs
    * per-fingerprint (parallel), the gates push into the scan above it,
    * and the budget aggregation is map-side combined. This is the
    * "prepare a training corpus" report a data team actually runs. */
  def corpusPrep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("fp", TextAnalysis.fingerprint(col("text"), 32))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("lang").isin("en", "de") &&
        col("n_chars").between(100, 520))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.count_tokens(col("text"))
          .cast("long")).as("total_tokens"))
  }

  /** Heavy hitters via the ApproxTopK sketch (Spark 4 built-in): the
    * one-pass mergeable-summary alternative to the exact
    * explode-groupBy-sort of [[topTerms]]. With maxItemsTracked >= the
    * vocabulary size the sketch is EXACT (every item tracked), which is
    * what makes this oracle-checkable; under-budgeted sketches degrade
    * gracefully and are the 100 TB configuration (constant memory per
    * partition, one merge pass). k=11 keeps the cut boundary tie-free at
    * every test scale factor, so the selected SET is deterministic (ties
    * inside the set don't matter — rows are compared unordered). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(explode(graft.functions.TextFunctions.regex_tokens(col("text")))
        .as("term"))
      .selectExpr("approx_top_k(term, 11, 100000) AS tk")
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("n"))

  /** Sparse TF-IDF cosine similarity join — the text-side ANN shape
    * (dense embeddings get brute/IVF/RP-LSH; sparse vectors get THIS):
    * per-document vectors truncated to the top-10 TF-IDF terms, a query
    * set (first 100 documents — the retrieval shape: queries vs corpus,
    * the sim_topk convention) joined through the term inverted index,
    * pair dot products folded in term order, cosine from precomputed
    * norms. Truncation bounds each document's posting list (the standard
    * sparse-retrieval move); at scale the remaining hot term keys get
    * the df-cap/salt treatment of dedup_ngram_jaccard. Truncation ranks
    * on the ROUNDED weight so cross-engine ulp noise in ln can't change
    * which terms survive.
    *
    * NB the truncated semantics is SPECIFIED (and oracled exactly), not
    * an approximation claiming recall against the full sparse cosine:
    * on a low-entropy corpus like the synthetic one (~220-word
    * vocabulary) nearly every full-vector pair clears a 0.5 cosine (the
    * shared-stopword mass dominates), while the top-10 vectors keep
    * only each document's DISTINCTIVE subspace — measured overlap ~2%.
    * On a realistic Zipfian corpus idf weighting already concentrates
    * the norm in those distinctive terms and the two measures converge. */
  def sparseSim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    sparseSimOver(docs, cachedTf(spark, dir))
  }

  /** Bigram feature family for [[sparseSim]]: identical retrieval
    * pipeline, features = adjacent token PAIRS. On a low-entropy corpus
    * unigram tf-idf leaves little distinctive mass (the ~220-word
    * vocabulary problem documented above); bigrams square the feature
    * space, so the top-10 truncated vectors carry far more
    * document-specific signal — the standard realism upgrade for sparse
    * retrieval over repetitive text. Bigram materialization is map-side
    * (the collocations trick); the per-doc counts are one wordcount
    * shuffle. */
  def sparseSimBigram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    // map-side bigram tf (one fused pass, no wordcount shuffle) — the
    // same kernel discipline as term_counts for the unigram family.
    // Bigram features are this query's own (not family-shared), so the
    // tf persist is query-local: released after the output materializes.
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.bigram_counts(col("text")))
          .as(Seq("term", "tf")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = sparseSimOver(docs, tf)
    tf.unpersist(blocking = false)
    out
  }

  /** Core of the sparse-cosine family. `tf` must already be materialized
    * (persisted by the caller or read through [[cachedTf]]) — it feeds
    * both the df branch and the scoring branch, and Catalyst doesn't CSE
    * across self-references. The output is localCheckpointed before
    * return, so callers may release a query-local tf immediately. */
  private def sparseSimOver(docs: DataFrame, tf: DataFrame): DataFrame = {
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // truncation via the partial top-k aggregate, NOT a row_number
    // window: 10 rows per (doc, partition) cross the shuffle instead of
    // the full (doc, term) table, and nothing is fully sorted. The heap
    // keeps the lexicographically largest (w, term) structs, so the tie
    // break at equal weight is term DESC — mirrored in the oracle.
    //
    // Fused norm (r18, guide §2.4): the document norm is a fold over the
    // SAME truncated vector the top-k aggregation just built, so it is
    // computed here from the 10-element array (term-ASC ordered fold —
    // exactly the old second aggregation's ordered_sum(w*w, term) and
    // the oracle's list_reduce(list(w ORDER BY term))) instead of a
    // second aggregation pass + two broadcast-build jobs over the
    // exploded postings. The interpreted HOF cost is bounded: ≤ 10
    // elements per document row, once per document.
    val agg0 = tf.join(broadcast(dft), "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs") * lit(1.0) / col("df")), 6).as("w"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TextFunctions.top_k_structs(
        struct(col("w"), col("term")), 10).as("tk"))
      .withColumn("nrm", sqrt(aggregate(
        array_sort(transform(col("tk"),
          e => struct(e("term").as("t"), e("w").as("w")))),
        lit(0.0), (acc, e) => acc + e("w") * e("w"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // query postings broadcast: the corpus-side index never moves for
    // the join; only the surviving pair contributions shuffle (by pair)
    // for the ordered fold. Each side carries its doc's norm (one
    // double per posting row) so the cosine needs NO norm re-joins —
    // within a (doc_a, doc_b) group the norms are constant, so max()
    // reads back exactly the value the old broadcast joins attached.
    val a = agg0.filter(col("doc_id") < 100)
      .select(col("doc_id").as("doc_a"), col("nrm").as("na"),
        explode(col("tk")).as("e"))
      .select(col("doc_a"), col("na"), col("e.term").as("term"),
        col("e.w").as("wa"))
    val b = agg0
      .select(col("doc_id").as("doc_b"), col("nrm").as("nb"),
        explode(col("tk")).as("e"))
      .select(col("doc_b"), col("nb"), col("e.term").as("term"),
        col("e.w").as("wb"))
    val out = b.join(broadcast(a), "term").filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("wa") * col("wb"), col("term")).as("dot"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") > 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("cos"))
      .stableCheckpoint()
    agg0.unpersist(blocking = false)
    out
  }

  /** Scale-safe percentile rank: percent_rank without the global sort.
    * The value DISTRIBUTION (distinct value -> count) is dimension-sized;
    * a window over it yields the strictly-below cumulative count, which
    * broadcasts back onto the scan: pct = below / (n - 1) — exactly
    * SQL percent_rank (ties share a rank), with the only total order
    * running over distinct values, never rows. */
  def percentileRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadSpread(spark, dir, "documents")
    val dist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dist
      .withColumn("below", coalesce(sum(col("c")).over(wv), lit(0L)))
    // n derives from the cells — no second scan of the fact table
    val nn = dist.agg(sum(col("c")).as("n"))
    docs.join(broadcast(cum), "n_chars").crossJoin(broadcast(nn))
      .select(col("doc_id"), col("n_chars"),
        round(col("below").cast("double") / (col("n") - lit(1)), 6).as("pct"))
  }

  private val CurriculumShards = 4
  private val BpeRounds = 3

  /** BPE merge induction ([[graft.operators.Bpe.mergeRules]]): learn
    * [[BpeRounds]] byte-pair merges from the corpus word frequencies —
    * tokenizer training's iterate-with-shrinking-vocab dataflow. One
    * corpus-sized aggregation; every round is vocabulary-sized. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.loadSpread(spark, dir, "documents")
      .select(explode(
        graft.functions.TextFunctions.regex_tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    graft.operators.Bpe.mergeRules(spark, words, BpeRounds)
  }

  /** Apply the learned BPE merges back to the corpus — subword
    * tokenization at scale: per doc, how many subword units the
    * [[BpeRounds]]-rule tokenizer produces vs raw tokens. The subword
    * model is the post-merge VOCABULARY (word -> symbol count), attached
    * as a key-partitioned join on `word` — the bigram-LM discipline: a
    * real vocabulary outgrows broadcast, and nothing here forces one. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.regex_tokens(col("text"))).as("word"))
    val words = toks.groupBy(col("word")).agg(count(lit(1)).as("f"))
    val (_, vocab) = graft.operators.Bpe.learn(spark, words, BpeRounds)
    toks
      .join(vocab.select(col("word"), size(col("syms")).as("n_syms")), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_syms")).as("n_subwords"))
      .withColumn("subwords_per_token",
        round(col("n_subwords").cast("double") / col("n_tokens"), 6))
  }

  /** Tokenizer fertility per language — the standard tokenizer-equity
    * audit (how many subword pieces the learned BPE spends per word, and
    * how many characters each piece carries, by language). High fertility
    * for a language means the tokenizer under-serves it — the metric
    * multilingual-corpus pipelines track when sizing vocabularies. Same
    * dataflow as [[bpeEncode]] (vocabulary join, never a broadcast
    * assumption on vocab) aggregated per lang instead of per doc — output
    * is language-cardinality. */
  def fertility(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"), explode(
        graft.functions.TextFunctions.regex_tokens(col("text"))).as("word"))
    val words = toks.groupBy(col("word")).agg(count(lit(1)).as("f"))
    val (_, vocab) = graft.operators.Bpe.learn(spark, words, BpeRounds)
    toks
      .join(vocab.select(col("word"), size(col("syms")).as("n_syms")), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_subwords"),
        sum(length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_subwords"), col("n_chars"),
        round(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_subwords"), 6)
          .as("chars_per_subword"))
  }

  private val StratifiedN = 100

  /** Proportional stratified sample with exact largest-remainder
    * (Hamilton) allocation: a [[StratifiedN]]-document budget is split
    * across language strata proportionally to stratum size — integer
    * base quota `floor(N*c/C)` per stratum, leftover seats to the
    * largest remainders (lang ASC tiebreak) — then each stratum
    * contributes its first `alloc` documents in deterministic
    * content-hash order (the md5-seed convention of [[shuffleOrder]]).
    * The companion to `adv_balanced_sample` (equal per class): this is
    * the allocation a corpus-survey pipeline uses when strata must keep
    * their population shares.
    *
    * Scale shape: the allocation runs on the STRATUM table (|langs|
    * rows — the only unpartitioned window in the plan); per-stratum
    * selection is a bounded `bottom_k_structs` partial aggregate (each
    * map task keeps at most N structs per stratum, no per-stratum
    * window sort), with the tiny allocation table broadcast back. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .withColumn("total", sum(col("c")).over(Window.partitionBy()))
    // integer-exact Hamilton: base = N*c div C, remainder seats by
    // (N*c mod C) DESC, lang ASC — every quantity is a bigint, so the
    // allocation is identical in any engine.
    // bigint div/mod via expr — N*c stays far inside long range
    val base = expr(s"($StratifiedN * c) div total")
    val rem = expr(s"($StratifiedN * c) % total")
    val alloc = cnt
      .select(col("lang"), col("c"), base.as("base"), rem.as("rem"))
      .withColumn("leftover",
        lit(StratifiedN) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("seat", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("lang").asc)))
      .select(col("lang"),
        (col("base") + when(col("seat") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
    docs
      .select(col("lang"),
        md5(encode(concat(lit("42:"), col("doc_id").cast("string")), "UTF-8"))
          .as("skey"),
        col("doc_id"))
      .groupBy(col("lang"))
      .agg(graft.functions.TextFunctions.bottom_k_structs(
        struct(col("skey"), col("doc_id")), StratifiedN).as("sel"))
      .select(col("lang"), posexplode(col("sel")).as(Seq("pos", "p")))
      .select(col("lang"), col("p.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rn"))
      .join(broadcast(alloc), "lang")
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  private val UniMaxPiece = 4
  private val UniTopV = 40
  private val UniRounds = 2
  private val UniMaxWordLen = 12

  /** Unigram-LM subword tokenizer training
    * ([[graft.operators.UnigramLm]], [[UniRounds]] hard-EM rounds,
    * top-[[UniTopV]] multi-char seed pieces + all single chars, pieces
    * up to [[UniMaxPiece]] chars) — the SentencePiece-style companion
    * to `ta_bpe_merges`. Output: each vocabulary word (up to
    * [[UniMaxWordLen]] chars — the generated-CTE replay bound, enforced
    * identically on both engines) with its final maximum-likelihood
    * segmentation and piece count. Exp-free Viterbi (IEEE products with
    * a longer-piece tie-break) keeps every round bit-replayable. */
  def unigramSegment(spark: SparkSession, dir: String): DataFrame =
    unigramSegTable(spark, dir)
      .select(col("word"), col("wc"),
        concat_ws(" ", col("pieces")).as("segmentation"),
        size(col("pieces")).cast("int").as("n_pieces"))

  // Trained-segmentation table shared by the segment + fertility
  // entries (DfCache with checkpoint=false: the builder checkpoints
  // itself so the training-time vocab cache can be released
  // immediately after materialization).
  private def unigramSegTable(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "ta:unigram_seg",
      checkpoint = false) {
      val v = graft.operators.UnigramLm
        .vocab(Tables.loadSpread(spark, dir, "documents"), "text")
        .filter(length(col("word")) <= UniMaxWordLen)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val built = graft.operators.UnigramLm
        .train(v, UniMaxPiece, UniTopV, UniRounds)
        .stableCheckpoint()
      v.unpersist(blocking = false)
      built
    }

  /** Unigram-tokenizer fertility per language — the [[fertility]] (BPE)
    * report recomputed under the [[unigramSegment]] model, giving the
    * side-by-side compression comparison that drives tokenizer choice
    * per language (pieces/word and chars/piece under each scheme).
    * Words beyond [[UniMaxWordLen]] drop via the vocabulary join, the
    * same bound as the segment query. */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"), explode(
        graft.functions.TextFunctions.regex_tokens(col("text"))).as("word"))
    val seg = unigramSegTable(spark, dir)
      .select(col("word"), size(col("pieces")).as("n_pieces"))
    toks.join(seg, "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        round(col("n_pieces").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_pieces"), 6)
          .as("chars_per_piece"))
  }

  /** N-gram novelty curve over the training order — per shuffle-order
    * decile, the fraction of (doc, 3-gram) observations whose gram was
    * never seen in an earlier-ordered document. The standard "is the
    * tail of my epoch still teaching anything new" memorization/
    * saturation diagnostic, composed from the [[shuffleOrder]]
    * permutation and the dedup tier's distinct shingles.
    *
    * Scale shape: grams explode map-side (distinct per doc); the first
    * occurrence is a keyed `min(pos)` aggregate; deciles are integer
    * arithmetic on the dense position ((pos-1)*10 div n); the output is
    * 10 rows. Positions are unique, so the minimum picks exactly one
    * novel observation per gram on both engines. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val ord = shuffleOrder(spark, dir)
      .select(col("doc_id"), col("shuffle_pos").as("pos"))
    val grams = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.operators.Dedup.shingles(col("text"), 3)).as("gram"))
    // both joins PINNED shuffled-hash: `grams` is the RAW shingle
    // explode of the corpus (fan-out ≈ tokens/doc, estimate rides the
    // compressed scan — the rel_edit_pairs misestimate class,
    // CatalogPlanLintSpec rule 4), and neither `ord` (|docs| rows) nor
    // `firsts` (vocabulary-sized) may broadcast at corpus scale; the
    // hinted side is the BUILD side, always the smaller of the pair
    val gp = grams.join(ord.hint("shuffle_hash"), "doc_id")
    val firsts = gp.groupBy(col("gram")).agg(min(col("pos")).as("fpos"))
    // n = |documents| exactly (shuffleOrder emits one dense position per
    // document row) — counting the parquet table reads row-group stats,
    // where ord.count() re-executed the whole GlobalOrder range-sort
    // pipeline a second time just for the scalar (r18, guide §1.2)
    val n = Tables.load(spark, dir, "documents").count()
    gp.join(firsts.hint("shuffle_hash"), "gram")
      .select(expr(s"((pos - 1) * 10) div $n").as("decile0"),
        when(col("pos") === col("fpos"), 1L).otherwise(0L).as("novel"))
      .groupBy((col("decile0") + 1L).cast("int").as("decile"))
      .agg(count(lit(1)).as("n_grams"), sum(col("novel")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Deterministic epoch shuffle — the training-order randomization step:
    * every document gets a dense 1-based shuffle position keyed by
    * md5(seed ':' doc_id), reproducible across engines and runs (a new
    * seed is a new permutation). The total order is materialized
    * scale-safely by [[graft.operators.GlobalOrder]] (range partition +
    * per-partition offsets), never a single-task sort. */
  def shuffleOrder(spark: SparkSession, dir: String): DataFrame = {
    // plain load: GlobalOrder range-partitions on the shuffle key anyway,
    // so loadSpread's round-robin would be a second, wasted shuffle
    val keyed = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        md5(encode(concat(lit("42:"), col("doc_id").cast("string")), "UTF-8"))
          .as("skey"))
    graft.operators.GlobalOrder
      .withRowNumber(keyed, struct(col("skey"), col("doc_id")),
        out = "shuffle_pos")
      .select(col("doc_id"), col("shuffle_pos"))
  }

  /** Curriculum sharding by difficulty quantile — the data-ordering step
    * of a staged training pipeline: split the corpus into
    * [[CurriculumShards]] equal-size difficulty buckets (composite
    * quality score ascending, doc_id tiebreak), exactly SQL
    * `ntile(k) OVER (ORDER BY quality, doc_id)`.
    *
    * Scale-safe ntile without the global row sort: the score
    * DISTRIBUTION (distinct quality -> count) is dimension-sized and
    * takes the only unpartitioned window (the [[percentileRank]]
    * discipline); a row's global position is then
    * below(score) + rank-within-tie-group, where the tie-group
    * row_number is a window PARTITIONED by score (per-group bounded
    * sort, never a single-partition exchange). The ntile bucket is pure
    * arithmetic over that position: the first n mod k buckets take
    * ceil(n/k) rows, the rest floor(n/k). */
  def curriculumShards(spark: SparkSession, dir: String): DataFrame = {
    val feats = TextAnalysis.qualityFeatures(col("text")).toMap
    val scored = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), feats("quality").as("quality"))
    // total count is score-independent: a pruned doc_id-only scan, not a
    // second pass of the tokenizing quality kernel
    val nn = Tables.loadSpread(spark, dir, "documents")
      .agg(count(lit(1)).as("n"))
    graft.operators.Quantiles
      .ntileBy(scored, col("quality"), col("doc_id"), CurriculumShards,
        nn, out = "shard")
      .select(col("doc_id"), col("quality"), col("shard"))
  }

  /** Per-language curriculum: difficulty quartiles WITHIN each language
    * ([[graft.operators.Quantiles.ntileWithin]]) — the per-domain
    * variant of [[curriculumShards]], so each stratum orders its own
    * curriculum instead of being dominated by the corpus-wide
    * distribution. Exactly
    * `ntile(4) OVER (PARTITION BY lang ORDER BY quality, doc_id)`. */
  def curriculumByLang(spark: SparkSession, dir: String): DataFrame = {
    val feats = TextAnalysis.qualityFeatures(col("text")).toMap
    val scored = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), feats("quality").as("quality"))
    val totals = Tables.loadSpread(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    graft.operators.Quantiles
      .ntileWithin(scored, col("lang"), col("quality"), col("doc_id"),
        CurriculumShards, totals, out = "shard")
      .select(col("doc_id"), col("lang"), col("quality"), col("shard"))
  }

  private val TokenBudget = 75000L

  /** Quality-first selection under a global token budget — the
    * data-selection step of budgeted training runs: walk the corpus in
    * (quality DESC, doc_id) order and keep documents while the running
    * character total stays within [[TokenBudget]].
    *
    * The running total is computed WITHOUT a global sort: the score
    * distribution carries per-value (count, char-sum) cells, a window
    * over IT yields the chars consumed by strictly-better scores, and
    * each row adds its within-tie-group running sum (a score-partitioned
    * window, bounded). The cumulative sums are integer arithmetic, so
    * the cut is exact in both engines. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = TextAnalysis.qualityFeatures(col("text")).toMap
    val scored = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), feats("quality").as("quality"))
    val dist = scored.groupBy(col("quality"))
      .agg(sum(col("n_chars")).as("t"))
    val wv = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dist
      .withColumn("above", coalesce(sum(col("t")).over(wv), lit(0L)))
      .select(col("quality"), col("above"))
    val wt = Window.partitionBy(col("quality")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("within", sum(col("n_chars")).over(wt))
      .join(broadcast(cum), "quality")
      .withColumn("cum", col("above") + col("within"))
      .filter(col("cum") <= TokenBudget)
      .select(col("doc_id"), col("quality"), col("n_chars"), col("cum"))
  }

  private val PackBudget = 2048L
  private val PackShardWidth = 256L

  /** Sequence packing — the pretraining step that concatenates the
    * corpus in ingest order and slices it into fixed token-budget
    * training sequences (GPT-style "pack then split at the boundary").
    * The complement of [[packBins]]: that one is the greedy whole-
    * document packer (no doc ever splits, bins can underfill); this one
    * fills every bin exactly and reports the cuts. Output:
    * per document, the bin it starts in, its offset inside that bin,
    * and how many bin boundaries cut it (`n_splits` — the attention-
    * fragmentation metric packing efficiency reports track). Everything
    * derives from the global ordered cumulative token count, computed
    * scale-safe as a two-level running sum (the [[tokenBudget]]
    * discipline): per-shard windows are partitioned (parallel), shard
    * offsets come from one window over the dimension-sized shard-total
    * table and broadcast back. [[PackShardWidth]] is the knob that
    * keeps the shard table dimension-sized as the corpus grows (width
    * ~ n/10⁴ at 100 TB). Integer arithmetic throughout — exact in both
    * engines; the oracle's textbook single window over doc_id is the
    * semantics, this plan is the distributed formulation of it. */
  def seqPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.count_tokens(col("text"))
          .cast("long").as("tok"),
        (col("doc_id") / PackShardWidth).cast("long").as("shard"))
    val shardTot = toks.groupBy(col("shard")).agg(sum(col("tok")).as("t"))
    val wS = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = shardTot
      .withColumn("off", coalesce(sum(col("t")).over(wS), lit(0L)))
      .select(col("shard"), col("off"))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("within", sum(col("tok")).over(wIn))
      .join(broadcast(offsets), "shard")
      .withColumn("cum", col("off") + col("within"))
      // integer `div` per term (Spark's `/` on longs is a double
      // divide; flooring a DIFFERENCE of double quotients is not the
      // difference of floors)
      .selectExpr("doc_id", "tok",
        s"(cum - tok) div $PackBudget AS bin",
        s"(cum - tok) % $PackBudget AS offset_in_bin",
        s"greatest((cum - 1) div $PackBudget - (cum - tok) div $PackBudget, 0L) AS n_splits")
  }

  /** Per-language adaptive quality gate: keep documents at or above their
    * OWN language's 25th quality percentile — the per-domain threshold
    * curation step (a global cut over-prunes low-resource strata). Same
    * distribution-count rank as [[percentileRank]], but the windows run
    * PARTITIONED by language over per-language score distributions, so
    * unlike the global variant there is no single-partition exchange
    * anywhere in the plan. Exactly SQL
    * `percent_rank() OVER (PARTITION BY lang ORDER BY quality)`. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityPct(spark, dir)
      .filter(col("pct") >= 0.25)
      .select(col("doc_id"), col("lang"), col("quality"), col("pct"))

  /** The unfiltered per-doc quality percentile behind [[qualityGate]]
    * (and the quality stage of `dedup_curation_manifest`): exact
    * per-language percent_rank via distribution cells — no
    * single-partition exchange anywhere. */
  private[queries] def qualityPct(spark: SparkSession, dir: String): DataFrame =
    qualityPctOf(Tables.loadSpread(spark, dir, "documents"))

  /** Same rank over an arbitrary documents-shaped frame (the corpus side
    * of `stream_curation` gates on a SUBSET's percentiles). */
  private[queries] def qualityPctOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = TextAnalysis.qualityFeatures(col("text")).toMap
    val scored = docs
      .select(col("doc_id"), col("lang"), feats("quality").as("quality"))
    val dist = scored.groupBy(col("lang"), col("quality"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("lang")).orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dist
      .withColumn("below", coalesce(sum(col("c")).over(wv), lit(0L)))
      .select(col("lang"), col("quality"), col("below"))
    val nn = dist.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    scored
      .join(broadcast(cum), Seq("lang", "quality"))
      .join(broadcast(nn), "lang")
      .withColumn("pct",
        // SQL percent_rank is 0 for a single-row partition; the ratio
        // would be 0/0 there
        when(col("n") === 1, lit(0.0)).otherwise(
          round(col("below").cast("double") / (col("n") - lit(1)), 6)))
      .select(col("doc_id"), col("lang"), col("quality"), col("pct"))
  }

  /** Deterministic train/val/test split (80/10/10): assignment is a pure
    * PROJECTION over a seed-keyed md5 — no shuffle, no state, stable
    * under re-runs and appends (a new doc's split never changes an old
    * doc's). Uniform hashing stratifies each language/source
    * automatically in expectation; exact within-stratum quantiles are
    * the [[curriculumShards]] dataflow if a pipeline needs them. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    // plain load, not loadSpread: at real scale the scan parallelizes by
    // file split, and a pure projection this cheap should not pay a
    // round-robin shuffle of the row stream (the dedup_simhash reasoning)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.core.SplitHash.splitCol(col("doc_id")).as("split"))

  /** Split-drift audit: the exact two-sample Kolmogorov–Smirnov
    * statistic between the train and test quality-score distributions,
    * per language — the "did the hash split skew any stratum" check run
    * before training. KS = max over distinct scores of |F_train - F_test|.
    *
    * Scale shape: scores collapse to (lang, score) cells first, the
    * CDFs are integer running counts over a lang-partitioned window
    * (cells per lang are bounded by the score grid, never by corpus
    * size), and every division happens at the end from exact integers —
    * no float accumulates across rows, so the statistic is
    * engine-bit-exact. */
  def splitKs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qcol = TextAnalysis.qualityFeatures(col("text")).toMap.apply("quality")
    val g = Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"),
        graft.core.SplitHash.splitCol(col("doc_id")).as("split"),
        qcol.as("q"))
      .filter(col("split") =!= "val")
    val counts = g.groupBy(col("lang"), col("q"))
      .agg(sum(when(col("split") === "train", 1).otherwise(0)).as("ct"),
        sum(when(col("split") === "test", 1).otherwise(0)).as("cv"))
    val w = Window.partitionBy(col("lang")).orderBy(col("q"))
    val cum = counts
      .withColumn("cum_t", sum(col("ct")).over(w))
      .withColumn("cum_v", sum(col("cv")).over(w))
    // totals derive from the tiny counts grid (one pass over the corpus
    // total, not a second scan+rescore); a stratum missing either side
    // has no defined KS — dropped on BOTH engines
    val totals = counts.groupBy(col("lang"))
      .agg(sum(col("ct")).as("n_train"), sum(col("cv")).as("n_test"))
      .filter(col("n_train") > 0 && col("n_test") > 0)
    cum.join(broadcast(totals), "lang")
      .withColumn("diff",
        abs(col("cum_t") / col("n_train") - col("cum_v") / col("n_test")))
      .groupBy(col("lang"), col("n_train"), col("n_test"))
      .agg(round(max(col("diff")), 6).as("ks"))
  }

  /** Vocabulary-coverage audit: per-document out-of-vocabulary token
    * rate against the corpus top-16 term vocabulary (ties broken by
    * term) — the "how much of this doc will tokenize to <unk>" signal.
    * (16 is sized to the synthetic corpus' 31-term vocabulary so the
    * rate discriminates; a production run would use a real vocab size —
    * the plan is identical.) The vocabulary is a bounded TakeOrdered
    * over the term counts and rides as a broadcast to the token stream;
    * nothing document-sized shuffles. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.tokensOf(col("text"))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(16)
      .select(col("term"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
  }

  /** Hybrid retrieval fusion: reciprocal-rank fusion (RRF, k=60) of two
    * lexical rankers for the fixed query-term set — [[bm25]] and a
    * TF-IDF cosine scorer (idf = ln(n/df), doc norm over the FULL tfidf
    * vector). The fusion shape is the RAG-stack standard: each ranker's
    * top-100 comes from orderBy+limit (per-partition top-k, no global
    * sort), ranks are assigned on ROUNDED scores (the tfidfTop
    * discipline — cross-engine ulp noise cannot flip a rank), and the
    * two 100-row lists full-outer-join on doc_id with absent ranks
    * contributing zero. Output: fused top-20. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queryTerms = Seq("join", "filter", "vector")
    val rrfK = 60.0
    // ONE tokenization feeds BOTH rankers, and it's the family-shared
    // [[cachedTf]] base — the floor here is the two real aggregation
    // passes (BM25 scoring + full-vector cosine norms), each
    // sparse_sim-class work.
    val tf = cachedTf(spark, dir)
    val nDocs = nDocsOfTf(spark, dir) // family memo — same count expr
    // tf-idf weights + norms from the family-shared caches (identical
    // values: same expression over the same cachedTf base)
    val w = cachedTfidfW(spark, dir)
    // BM25 ranker from the same tf (identical arithmetic to [[bm25]] /
    // the shared bm25Ctes oracle text: same fold order, same casts)
    val (k1, b) = (1.2, 0.75)
    val len = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val avgdl = len.agg((sum(col("len")).cast("double") /
      count(lit(1))).as("avgdl"))
    val dftQ = tf.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val bmScored = tf.filter(col("term").isin(queryTerms: _*))
      .join(len, "doc_id").join(broadcast(dftQ), "term")
      .crossJoin(broadcast(avgdl))
      .withColumn("s",
        log((lit(nDocs) - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)) + lit(1.0))
          * col("tf").cast("double")
          / (col("tf").cast("double") + lit(k1) * (lit(1.0) - lit(b)
              + lit(b) * col("len").cast("double") / col("avgdl"))))
    val bm = bmScored.groupBy(col("doc_id"))
      .agg(round(graft.functions.TextFunctions.ordered_sum(
        col("s"), col("term")), 6).as("bm25"))
    // full-vector doc norms, term-ordered fold (sparse-sim discipline)
    val norms = cachedTfidfNorms(spark, dir)
    val qIdf = w.filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("df")).distinct()
      .withColumn("idf", log(lit(nDocs) / col("df")))
    val qNorm = qIdf.agg(sqrt(graft.functions.TextFunctions.ordered_sum(
      col("idf") * col("idf"), col("term"))).as("qn"))
    val cos = w.filter(col("term").isin(queryTerms: _*))
      .join(broadcast(qIdf.select(col("term"), col("idf"))), "term")
      .groupBy(col("doc_id"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("w") * col("idf"), col("term")).as("dot"))
      .join(norms, "doc_id").crossJoin(broadcast(qNorm))
      .select(col("doc_id"),
        round(col("dot") / (col("nrm") * col("qn")), 6).as("cos"))
    def top100(scored: DataFrame, score: String, rank: String): DataFrame =
      scored.orderBy(col(score).desc, col("doc_id")).limit(100)
        .withColumn(rank, row_number()
          .over(Window.orderBy(col(score).desc, col("doc_id"))).cast("int"))
        .select(col("doc_id"), col(rank))
    val ra = top100(bm, "bm25", "rank_bm25")
    val rb = top100(cos, "cos", "rank_cos")
    val fused = ra.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0)).as("rank_bm25"),
        coalesce(col("rank_cos"), lit(0)).as("rank_cos"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_cos")), lit(0.0)), 6)
          .as("rrf"))
    fused
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .withColumn("fused_rank", row_number()
        .over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("int"))
  }

  /** Dense + lexical hybrid related-document retrieval — the fusion RAG
    * stacks actually run: for a query DOCUMENT (id 0), rank the corpus
    * by embedding cosine (dense) and by full-vector TF-IDF cosine
    * (lexical, shared-term candidates only), then reciprocal-rank-fuse
    * (k=60) as in [[rrfFusion]]. The embeddings and documents tables
    * share the 0..n id space, so one entity has both representations.
    * Scale shape: the query doc's term vector broadcasts onto the
    * inverted index (candidates = docs sharing >= 1 term — never an
    * all-pairs scan), the dense ranker is the broadcast-query brute
    * kernel, and both top-100 cuts are orderBy+limit. */
  def hybridRelated(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queryDoc = 0L
    val rrfK = 60.0
    // dense ranker: existing broadcast-query brute-force kernel
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    val dense = graft.operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === queryDoc), emb, 100)
      .select(col("cand_id").as("doc_id"), col("rank").as("rank_dense"))
    // lexical ranker: tfidf cosine vs the query doc's vector, over the
    // family-shared weight/norm caches (ta_tfidf_top stays the
    // uncached primary of this derivation)
    val w = cachedTfidfW(spark, dir)
    val norms = cachedTfidfNorms(spark, dir)
    val w0 = w.filter(col("doc_id") === queryDoc)
      .select(col("term"), col("w").as("w0"))
    val n0 = norms.filter(col("doc_id") === queryDoc)
      .select(col("nrm").as("n0"))
    val cos = w.join(broadcast(w0), "term")
      .filter(col("doc_id") =!= queryDoc)
      .groupBy(col("doc_id"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("w") * col("w0"), col("term")).as("dot"))
      .join(norms, "doc_id").crossJoin(broadcast(n0))
      .select(col("doc_id"),
        round(col("dot") / (col("nrm") * col("n0")), 6).as("cos"))
    val lex = cos.orderBy(col("cos").desc, col("doc_id")).limit(100)
      .withColumn("rank_lex", row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("rank_lex"))
    val fused = dense.join(lex, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_dense"), lit(0)).as("rank_dense"),
        coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_dense")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)), 6)
          .as("rrf"))
    fused
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .withColumn("fused_rank", row_number()
        .over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("int"))
  }

  /** Bigram PMI collocations: pointwise mutual information
    * ln(p(xy) / (p(x)p(y))) over adjacent token pairs, for bigrams seen
    * at least 5 times. Bigrams are materialized map-side from each
    * document's token array (zero extra shuffle vs the token explode);
    * the unigram vocabulary is broadcast onto the bigram counts twice
    * (w1, w2). Ranking uses the ROUNDED score so cross-engine ulp noise
    * in ln can't flip the cut (the tfidfTop discipline). */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE: toks feeds bigram counts, the unigram vocabulary
    // AND the bigram-total scalar (three consumers of the most
    // expensive kernel in the module)
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(graft.functions.TextFunctions.regex_tokens(col("text")).as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bigrams = toks
      .select(explode(expr(
        """transform(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |  (t, i) -> struct(t AS w1, element_at(ts, i + 2) AS w2))"""
          .stripMargin)).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nu = uni.agg(sum(col("c")).as("nu"))
    val nb = toks.agg(sum(greatest(size(col("ts")) - 1, lit(0))).as("nb"))
    val pmi = log(
      (col("c_xy").cast("double") / col("nb"))
        / ((col("c1").cast("double") / col("nu"))
          * (col("c2").cast("double") / col("nu"))))
    val out = bigrams
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c1")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c2")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c_xy"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(100)
      .stableCheckpoint()
    uni.unpersist(blocking = false)
    toks.unpersist(blocking = false)
    out
  }

  /** Hash-bucket geometry for the vocabulary-keyed corpus folds
    * ([[termEntropy]] / [[entropyRate]] / [[mutualInfo]]): terms bucket
    * by `xxh64(term) & VocabFineMask` (2^24 fine buckets), fine ids roll
    * up by `fine div VocabCoarseDiv` (4096 coarse ids, ≤ 4096 fine per
    * coarse). The three fold levels then buffer at most
    * max(V/2^24, 4096) elements per task — corpus-size independent for
    * any practical vocabulary (a 16M-term vocab still folds ~1 element
    * per fine bucket), where the previous single term-ordered fold
    * buffered the whole per-source vocabulary. Both constants are
    * interpolated into the DuckDB oracles so the fold tree replays
    * bit-for-bit. */
  private[graft] val VocabFineMask = (1L << 24) - 1
  private[graft] val VocabCoarseDiv = 4096L

  /** Shannon entropy of each source's term distribution — the
    * "vocabulary richness / repetitiveness" corpus signal (a collapsed
    * source has low entropy; a diverse one approaches ln|V|). Counts
    * aggregate map-side; the per-source entropy folds through the
    * three-level [[VocabFineMask]] hash-bucket tree (term order within
    * a fine bucket, fine order within a coarse bucket, coarse order
    * across) for cross-engine equality WITHOUT a vocabulary-sized
    * aggregation buffer — the flat term-ordered fold collected one
    * element per distinct term per source, the last state shape that
    * grew with the corpus. */
  def termEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tfn = graft.functions.TextFunctions
    val tc = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"),
        explode(tfn.term_counts(col("text"))).as(Seq("term", "tf")))
      .groupBy(col("source"), col("term")).agg(sum(col("tf")).as("c"))
    val tot = tc.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n")
    tc.join(broadcast(tot), "source")
      .select(col("source"), col("term"),
        tfn.hash64(col("term")).bitwiseAND(lit(VocabFineMask)).as("fine"),
        (p * log(p)).as("t"))
      .groupBy(col("source"), col("fine"))
      .agg(count(lit(1)).as("bn"),
        tfn.ordered_sum(col("t"), col("term")).as("bt"))
      .groupBy(col("source"), expr(s"fine div $VocabCoarseDiv").as("coarse"))
      .agg(sum(col("bn")).as("bn"),
        tfn.ordered_sum(col("bt"), col("fine")).as("bt"))
      .groupBy(col("source"))
      .agg(sum(col("bn")).as("n_terms"),
        round(-tfn.ordered_sum(col("bt"), col("coarse")), 6).as("entropy"))
  }

  /** Mutual information between two categorical columns (lang x source)
    * — the "how much does provenance predict language" curation signal.
    * Everything derives from one contingency-table aggregation (25ish
    * cells) + margins computed FROM the cells (no second scan); the MI
    * sum folds through the [[VocabFineMask]] hash-bucket tree keyed by
    * `lang:source` (cell order within fine, fine within coarse, coarse
    * across) so even a category product that grows with the corpus
    * never sizes an aggregation buffer. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val tfn = graft.functions.TextFunctions
    // NULL lang/source become a real "\\u0001" category (matched by
    // chr(1) in the oracle) — without this a NULL cell would silently
    // drop at the null-unsafe margin joins on BOTH engines, and the
    // fine-bucket hash would see engine-specific NULL-concat behavior
    val cells = Tables.loadSpread(spark, dir, "documents")
      .select(coalesce(col("lang"), lit("\u0001")).as("lang"),
        coalesce(col("source"), lit("\u0001")).as("source"))
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = cells.groupBy(col("lang")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("source")).agg(sum(col("n_xy")).as("n_y"))
    val nn = cells.agg(sum(col("n_xy")).as("n"))
    val term = (col("n_xy").cast("double") / col("n")) * log(
      (col("n_xy").cast("double") / col("n"))
        / ((col("n_x").cast("double") / col("n"))
          * (col("n_y").cast("double") / col("n"))))
    val out = cells.join(broadcast(mx), "lang").join(broadcast(my), "source")
      .crossJoin(broadcast(nn))
      .select(col("lang"), col("source"),
        tfn.hash64(concat(col("lang"), lit(":"), col("source")))
          .bitwiseAND(lit(VocabFineMask)).as("fine"),
        term.as("t"))
      .groupBy(col("fine"))
      .agg(count(lit(1)).as("bn"),
        tfn.ordered_sum(col("t"), col("lang"), col("source")).as("bt"))
      .groupBy(expr(s"fine div $VocabCoarseDiv").as("coarse"))
      .agg(sum(col("bn")).as("bn"),
        tfn.ordered_sum(col("bt"), col("fine")).as("bt"))
      .agg(sum(col("bn")).as("n_cells"),
        round(tfn.ordered_sum(col("bt"), col("coarse")), 6).as("mi"))
      .stableCheckpoint()
    cells.unpersist(blocking = false)
    out
  }

  /** Corpus term frequency, top-50 (ties broken lexicographically): the
    * explode shuffles (term, partial-count) thanks to map-side combine —
    * never raw token rows. */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(explode(graft.functions.TextFunctions.regex_tokens(col("text")))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(50)

  /** Per-document top TF-IDF term: tf from the per-row `term_counts`
    * kernel (one map<term,n> per document — NO shuffle to build tf; the
    * explode emits one row per distinct (doc, term), not per token
    * occurrence), df over the (doc, term) pairs, idf = ln(N/df). Ranking
    * uses the ROUNDED score (cross-engine ulp differences in ln can't
    * flip the order) with a lexicographic tie-break (term DESC — chosen
    * so the argmax is a plain `max(struct(tfidf, term))` aggregation with
    * partial combine, not a row_number window that would shuffle and sort
    * every (doc, term) row). tf feeds BOTH the df branch and the scoring
    * branch — Catalyst doesn't CSE across self-references, so it is
    * persisted for the run (the Dedup.minhashNearDups pattern). */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.term_counts(col("text")))
          .as(Seq("term", "tf")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // vocabulary << corpus: broadcasting df avoids re-shuffling the whole
    // (doc, term) tf table on term
    val out = tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") * lit(1.0) / col("df")), 6))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("tfidf"), col("term"))).as("m"))
      .select(col("doc_id"), col("m.term").as("term"), col("m.tfidf").as("tfidf"))
      .stableCheckpoint() // materialize, then free the tf cache
    tf.unpersist(blocking = false)
    out
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021
    * §A1.1): duplicate-word fraction plus the most frequent word 2-gram
    * and the fraction of text characters it covers. The 2-gram argmax is
    * a max(struct) aggregation with partial combine (tiebreak: count
    * DESC, gram DESC), same discipline as [[tfidfTop]]. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val base = docs.select(col("doc_id"), length(col("text")).as("n_chars"),
      TextAnalysis.dupWordFrac(col("text")).as("dup_word_frac"),
      graft.functions.TextFunctions.regex_tokens(col("text")).as("ts"))
    val grams = base.select(col("doc_id"), col("n_chars"), col("dup_word_frac"),
      // guard: sequence(0, -1) would generate a DESCENDING range; docs
      // with < 2 tokens have no 2-grams and drop out (both engines)
      explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(0), size(col("ts")) - 2),
          i => concat_ws(" ", element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2))))
        .otherwise(array().cast("array<string>"))).as("gram"))
    grams.groupBy(col("doc_id"), col("n_chars"), col("dup_word_frac"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("n_chars"), col("dup_word_frac"))
      .agg(max(struct(col("cnt"), col("gram"))).as("m"))
      .select(col("doc_id"), col("dup_word_frac"),
        col("m.gram").as("top_2gram"),
        round(col("m.cnt") * length(col("m.gram")).cast("double")
          / col("n_chars"), 6).as("top_2gram_char_frac"))
  }

  /** PII scrubbing (training-data sanitization): emails, phone numbers
    * and account amounts replaced by typed tags, with per-row redaction
    * counts — the P10 scrub generalized to the structured-PII families a
    * corpus pipeline redacts before training. Text is built
    * deterministically from the customer table (identical construction in
    * the oracle), the scrub itself is three codegen'd regexp_replace
    * passes — a pure projection at any scale. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9.#]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+1-555-\\d{4}"
    val amountRe = "\\$\\d+(?:\\.\\d+)?"
    val txt = concat(
      lit("Contact "), col("c_name"),
      lit(" at "), lower(replace(col("c_name"), lit("#"), lit("."))),
      lit("@example.com or +1-555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" about the $"), col("c_acctbal").cast("string"),
      lit(" balance in "), col("c_mktsegment"))
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), txt.as("text"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), amountRe, "<AMOUNT>"))
      .withColumn("n_emails",
        (size(split(col("text"), emailRe, -1)) - 1).cast("int"))
      .withColumn("n_phones",
        (size(split(col("text"), phoneRe, -1)) - 1).cast("int"))
      .select(col("c_custkey"), col("scrubbed"), col("n_emails"), col("n_phones"))
  }

  /** Test-set decontamination (the pretraining-pipeline step that drops
    * training docs overlapping an eval benchmark; GPT-3 appendix C /
    * Llama-style n-gram matching, here token 5-grams over this corpus's
    * 31-term vocabulary). `src0` documents play the benchmark split.
    *
    * Scale shape: the BENCHMARK shingle set is tiny next to the corpus
    * (eval sets are thousands of docs, the corpus is the 100 TB side), so
    * it is broadcast — the corpus explodes its shingles map-side, hash-
    * probes the broadcast set, and aggregates per doc with partial
    * combine. The corpus never shuffles its text, and nothing quadratic
    * exists anywhere. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val benchGrams = docs.filter(col("source") === "src0")
      .select(explode(graft.operators.Dedup.shingles(col("text"), 5)).as("g"))
      .distinct()
    val corpus = docs.filter(col("source") =!= "src0")
    val hits = corpus
      .select(col("doc_id"),
        explode(graft.operators.Dedup.shingles(col("text"), 5)).as("g"))
      .join(broadcast(benchGrams), Seq("g")) // semi-shaped: count hits per doc
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-filter decontamination — the bounded-broadcast scale path
    * for [[decontaminate]], WITH its false-positive audit. The exact
    * path broadcasts the benchmark's raw 5-gram strings; at 100 TB
    * benchmark suites the filter ships instead: k=3 bit positions per
    * shingle in an m=65536-bit space, derived as
    * pmod(xxh64("j:" || gram), m) — the engine's XXH64 replayed
    * bit-for-bit in DuckDB ([[graft.core.XxHashSql]]), and m a POWER OF
    * TWO so Spark's signed pmod equals DuckDB's unsigned mod (2^64 ≡ 0
    * mod m). The filter is represented as the distinct set-bit position
    * set (≤ m rows — bounded by construction, never by data); a corpus
    * shingle is bloom-positive iff ALL k of its positions are set. The
    * exact overlap rides along, so every row quantifies the filter's
    * false positives (n_bloom ≥ n_exact always; the gap is the FP
    * audit that sizes m·k for a real deployment). Deterministic
    * end-to-end, so the sketch DECISION hash-gates — the KMV
    * discipline applied to membership. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val m = 65536L
    val k = 3
    val docs = Tables.loadSpread(spark, dir, "documents")
    // Kirsch–Mitzenmacher k-probe derivation: ONE string hash per gram,
    // then k fmix64 family mixes (`hash_family`) — at corpus scale the
    // per-probe cost is two multiplies, not another pass over the gram
    // bytes. (The first version hashed a "j:gram" concat per probe — 3×
    // the string hashing on the engine side, and a 3× replay of the
    // per-byte XXH64 chain on the DuckDB side, where it dominated the
    // whole oracle gate at 33.7 s of its 73 s.)
    def positions(g: Column): Column = {
      val base = graft.functions.TextFunctions.hash64(g)
      array((0 until k).map(j =>
        pmod(graft.functions.TextFunctions.hash_family(base, lit(j)),
          lit(m))): _*)
    }
    val benchGrams = docs.filter(col("source") === "src0")
      .select(explode(graft.operators.Dedup.shingles(col("text"), 5)).as("g"))
      .distinct()
    val bits = benchGrams.select(explode(positions(col("g"))).as("pos"))
      .distinct()
    val corpus = docs.filter(col("source") =!= "src0")
    val grams = corpus.select(col("doc_id"),
      explode(graft.operators.Dedup.shingles(col("text"), 5)).as("g"))
    val bloom = grams
      .select(col("doc_id"), col("g"), explode(positions(col("g"))).as("pos"))
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("nset"))
      .filter(col("nset") === k) // every position set -> bloom-positive
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom"))
    val exact = grams.join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
    val nGrams = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    corpus.select(col("doc_id"))
      .join(nGrams, Seq("doc_id"), "left_outer")
      .join(exact, Seq("doc_id"), "left_outer")
      .join(bloom, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
        (coalesce(col("n_exact"), lit(0L)) > 0).as("exact_contaminated"),
        (coalesce(col("n_bloom"), lit(0L)) > 0).as("bloom_contaminated"))
  }

  /** Sequence packing for training-data prep: greedily pack documents
    * (in deterministic doc_id order) into token-budget bins — the step
    * that turns a filtered corpus into fixed-length training sequences.
    * Packing is inherently sequential, so it runs per group
    * (lang, doc_id % 16): groups parallelize freely, and
    * `flatMapSortedGroups` pushes the per-group doc_id ordering into the
    * shuffle's sort, so the fold streams each group with CONSTANT memory
    * — no group is ever materialized, and group size need not be
    * bounded by the bucket fan-out. A doc larger than the budget keeps
    * its own bin (packers don't split documents here). Oracle: DuckDB
    * recursive CTE replaying the same greedy fold per group. */
  def packBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 128
    val base = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(16)).cast("int").as("bucket"),
        graft.functions.TextFunctions.count_tokens(col("text")).as("n_tokens"))
      .as[(Long, String, Int, Int)]
    base.groupByKey(r => (r._2, r._3))
      .flatMapSortedGroups(col("doc_id")) { (key: (String, Int),
          it: Iterator[(Long, String, Int, Int)]) =>
        val (lang, bucket) = key
        var bin = 0
        var acc = 0
        it.map { case (id, _, _, n) =>
          if (acc > 0 && acc + n > budget) { bin += 1; acc = n } else acc += n
          (id, lang, bucket, n, bin)
        }
      }
      .toDF("doc_id", "lang", "bucket", "n_tokens", "bin")
  }

  /** Unigram-LM quality score (CCNet-style perplexity-proxy filtering):
    * mean log-probability of each document under the corpus's own
    * unigram distribution. The model side (vocab -> count map + total) is
    * one map-side-combined aggregation collapsed to a single broadcast
    * row; scoring is then purely per-row — the per-doc fold walks the
    * doc's term map in sorted-term order so both engines sum floats in
    * the identical sequence. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val model = docs
      .select(explode(graft.functions.TextFunctions.term_counts(col("text")))
        .as(Seq("term", "tf")))
      .groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("cnt"))))
          .as("freq"),
        sum(col("cnt")).as("total"))
    val entries = sort_array(map_entries(
      graft.functions.TextFunctions.term_counts(col("text"))))
    docs.crossJoin(broadcast(model))
      .select(col("doc_id"),
        aggregate(entries, lit(0L),
          (acc, e) => acc + e.getField("value")).as("n_tokens"),
        round(
          aggregate(entries, lit(0.0d), (acc, e) =>
            acc + e.getField("value") *
              log(element_at(col("freq"), e.getField("key")) /
                col("total").cast("double"))) /
            aggregate(entries, lit(0L),
              (acc, e) => acc + e.getField("value")).cast("double"),
          5).as("avg_logprob"))
      .filter(col("n_tokens") > 0)
  }

  /** Data-mixture sampling: each source is kept at its own rate (here
    * (source_num % 4 + 1)/4 — four mixing tiers), decided per doc by a
    * CONTENT-HASH threshold instead of an RNG: keep iff the first 8 hex
    * chars of md5(doc_id) fall under the rate's hex threshold. Exact
    * rate fractions of the 2^32 hash space, deterministic on any
    * cluster/partitioning, zero shuffle to decide membership — the
    * standard reproducible-Bernoulli trick for corpus mixing. Output is
    * the per-source funnel (total, kept, configured rate). */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = Seq("3fffffff", "7fffffff", "bfffffff", "ffffffff")
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    val tier = pmod(srcNum, lit(4))
    val thr = element_at(array(thresholds.map(lit): _*), tier + 1)
    val kept = substring(md5(col("doc_id").cast("string")), 1, 8) <= thr
    Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), tier.as("tier"), kept.as("kept"))
      .groupBy(col("source"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        ((col("tier") + 1) / 4.0).as("rate"))
  }

  /** Temperature-weighted mixture sampling (the multinomial-with-
    * temperature corpus-mixing rule: w_s ∝ n_s^(1/T), here T=2 i.e.
    * sqrt): per-source keep RATES are derived from the source sizes so
    * the kept mix hits a corpus-budget share of B=0.5, upweighting small
    * sources relative to proportional sampling. Membership is the same
    * content-hash Bernoulli as [[sourceMix]] (first 8 md5 hex chars as a
    * fraction of 2^32) — zero shuffle to decide, reproducible on any
    * cluster. The tiny per-source rate table broadcasts; every float
    * step (sqrt, the source-ordered normalizer fold, one division
    * chain) is written identically in the oracle. */
  def sourceMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(
      graft.functions.TextFunctions.ordered_sum(
        sqrt(col("n_s").cast("double")), col("source")).as("s_sqrt"),
      sum(col("n_s")).as("n_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("w", sqrt(col("n_s").cast("double")) / col("s_sqrt"))
      .withColumn("rate", least(lit(1.0),
        (lit(0.5) * col("n_total").cast("double") * col("w"))
          / col("n_s").cast("double")))
      .select(col("source"), col("w"), col("rate"))
    val hashFrac = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    docs.join(broadcast(rates), "source")
      .select(col("source"), col("w"), col("rate"),
        (hashFrac < col("rate")).as("kept"))
      .groupBy(col("source"), col("w"), col("rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("w"), 6).as("weight"), round(col("rate"), 6).as("rate"))
  }

  /** Interpolated bigram-LM document scoring (the KenLM-filter shape one
    * order up from [[unigramLogprob]]): avg over the doc's bigram
    * occurrences of ln(0.75·p(w2|w1) + 0.25·p(w2)), model = the corpus
    * itself. The MODEL is bigram-vocabulary-sized, so unlike the unigram
    * one-row broadcast it stays a key-partitioned JOIN on the bigram —
    * the honest 100 TB shape (doc tf rows meet model rows on the shuffle
    * key; nothing vocabulary-sized is collected or broadcast). Per-doc
    * sums fold in bigram order; ln noise is absorbed by round-5 (the
    * unigramLogprob discipline). */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val btf = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.bigram_counts(col("text")))
        .as(Seq("bg", "tf")))
    val uni = docs
      .select(explode(graft.functions.TextFunctions.term_counts(col("text")))
        .as(Seq("term", "utf")))
      .groupBy(col("term")).agg(sum(col("utf")).as("cnt"))
    val utotal = uni.agg(sum(col("cnt")).as("utotal"))
    val model = btf.groupBy(col("bg")).agg(sum(col("tf")).as("bcnt"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("term").as("w1"), col("cnt").as("c1")), "w1")
      .join(uni.select(col("term").as("w2"), col("cnt").as("c2")), "w2")
      .crossJoin(broadcast(utotal))
      .select(col("bg"),
        (lit(0.75) * (col("bcnt").cast("double") / col("c1").cast("double"))
          + lit(0.25) * (col("c2").cast("double") / col("utotal").cast("double")))
          .as("p"))
    // PINNED shuffled-hash (build = the model, the smaller agg'd side):
    // without the pin the planner may broadcast the RAW per-doc tf side
    // whose estimate never saw the bigram_counts fan-out — the very
    // "nothing vocabulary-sized is broadcast" promise this scaladoc
    // makes (CatalogPlanLintSpec rule 4 now enforces it plan-wide)
    btf.join(model.hint("shuffle_hash"), "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(graft.functions.TextFunctions.ordered_sum(
          col("tf").cast("double") * log(col("p")), col("bg"))
          / sum(col("tf")).cast("double"), 5).as("avg_logprob"))
  }

  /** Kneser-Ney smoothed bigram-LM document scoring (Kneser & Ney 1995;
    * the modern-default smoothing one step up from [[bigramLogprob]]'s
    * fixed interpolation): for every OBSERVED bigram,
    * p_KN(w2|w1) = max(c(w1 w2) − D, 0)/c(w1 ·)
    *             + D · N1+(w1 ·)/c(w1 ·) · N1+(· w2)/N1+(· ·), D = 0.75 —
    * the continuation probability N1+(· w2)/N1+(· ·) scores how many
    * CONTEXTS a word completes, not how often it occurs, which is what
    * de-weights boilerplate ("Francisco" occurs often but only after
    * "San"). Every model statistic derives from ONE corpus bigram-count
    * table by key-partitioned aggregation (c(w1 ·) and N1+(w1 ·) group
    * by w1, N1+(· w2) by w2, N1+(· ·) is a 1-row broadcast) and rejoins
    * on w1/w2/bg keys — nothing vocabulary-sized is collected or
    * broadcast, the [[bigramLogprob]] 100 TB discipline. Per-doc sums
    * fold in bigram order; ln noise absorbed by round-5. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val btf = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.bigram_counts(col("text")))
        .as(Seq("bg", "tf")))
    // PINNED shuffled-hash — same rationale as [[bigramLogprob]]'s pin
    btf.join(kneserNeyModel(btf).hint("shuffle_hash"), "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(graft.functions.TextFunctions.ordered_sum(
          col("tf").cast("double") * log(col("p")), col("bg"))
          / sum(col("tf")).cast("double"), 5).as("avg_logprob"))
  }

  /** The KN model over a per-doc bigram-count table `(doc_id, bg, tf)`:
    * `(bg, p)` for every OBSERVED bigram. Factored out of [[kneserNey]]
    * so KneserNeySpec can pin the probability contract (per context,
    * the observed-continuation mass sums to <= 1 with the unseen mass
    * strictly positive). */
  private[graft] def kneserNeyModel(btf: DataFrame): DataFrame = {
    val bm = btf.groupBy(col("bg")).agg(sum(col("tf")).as("bcnt"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val ctx = bm.groupBy(col("w1"))
      .agg(sum(col("bcnt")).as("ctx"), count(lit(1)).as("nf"))
    val cont = bm.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
    val tot = bm.agg(count(lit(1)).as("ntypes"))
    bm.join(ctx, "w1").join(cont, "w2")
      .crossJoin(broadcast(tot))
      .select(col("bg"),
        (greatest(col("bcnt").cast("double") - lit(0.75), lit(0.0))
            / col("ctx").cast("double")
          + lit(0.75) * col("nf").cast("double") / col("ctx").cast("double")
            * (col("nb").cast("double") / col("ntypes").cast("double")))
          .as("p"))
  }

  /** Bigram-LM document scores via [[graft.core.DfCache]]: the
    * perplexity buckets previously re-trained the full bigram LM that
    * `ta_bigram_logprob` (the PRIMARY, still uncached and honest)
    * already builds. */
  private def cachedLogprob(spark: SparkSession, dir: String): DataFrame =
    graft.core.DfCache.cached(spark, dir, "ta:bigram_logprob")(
      bigramLogprob(spark, dir))

  /** CCNet-style perplexity buckets: each document labeled head /
    * middle / tail by its within-language tercile of bigram-LM fluency
    * (higher [[bigramLogprob]] = lower perplexity = head) — the
    * standard "keep the head, sample the middle, drop the tail"
    * curation signal. The tercile is [[graft.operators.Quantiles
    * .ntileWithin]] (grouped distribution windows, no SinglePartition),
    * scored on the NEGATED rounded logprob so bucket 1 is the most
    * fluent; the lang attach is an id-keyed join. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val lp = cachedLogprob(spark, dir)
      .select(col("doc_id"), col("avg_logprob"))
    val scored = lp.join(
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id")
    val totals = scored.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    graft.operators.Quantiles
      .ntileWithin(scored, col("lang"), -col("avg_logprob"), col("doc_id"),
        3, totals, out = "b")
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** K-anonymity audit over quasi-identifier combinations (the
    * release-gate companion to [[piiScrub]]): per (segment, nation)
    * equivalence class, its size, whether it meets k=8, and the overall
    * suppression stats — the rows a k-anonymous release would have to
    * drop or generalize. One map-side-combined aggregation + a one-row
    * rollup; trivially scale-safe. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.load(spark, dir, "customer")
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("class_size"))
    classes
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("class_size") < 8, 1L).otherwise(0L)).as("n_below_k"),
        sum(when(col("class_size") < 8, col("class_size")).otherwise(0L))
          .as("suppressed_rows"),
        min(col("class_size")).as("min_class"),
        round(sum(when(col("class_size") < 8, col("class_size")).otherwise(0L))
          * lit(1.0) / sum(col("class_size")), 6).as("suppression_frac"))
  }

  private val BootstrapB = 200

  /** Poisson(1) CDF thresholds c_0..c_11 (k = 12 caps the tail at
    * ~1e-13): ONE Scala constant list interpolated into both the Spark
    * plan and the DuckDB SQL, so the inverse-CDF lookup is literal-
    * identical in both engines. */
  private val PoissonCdf: Seq[Double] = {
    var p = math.exp(-1.0)
    var c = p
    val buf = scala.collection.mutable.ArrayBuffer(c)
    for (k <- 1 to 11) { p /= k; c += p; buf += c }
    buf.toSeq
  }

  /** Shared DuckDB CTE chain for the Poisson-bootstrap family: ends in
    * `bdoc(doc_id, n_chars)` and `bw(doc_id, b, w)` — the per-(doc,
    * replicate) Poisson(1) weights replayed from the keyed hash. */
  private[graft] def poissonWeightCtes: String = {
    val cases = PoissonCdf.zipWithIndex
      .map { case (c, k) => s"WHEN u < CAST($c AS DOUBLE) THEN $k" }
      .mkString("\n         |      ")
    s"""bdoc AS (SELECT doc_id, n_chars FROM documents),
       |bx AS (SELECT doc_id, unnest(range($BootstrapB)) AS b FROM bdoc),
       |btok AS (SELECT doc_id,
       |    CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR) AS t
       |  FROM bx),
       |${graft.core.XxHashSql.hash64Ctes("btok", "bh", "bxx")},
       |bu AS (SELECT doc_id, CAST(split_part(t, ':', 2) AS INT) AS b,
       |    CAST(h64 >> 11 AS DOUBLE) *
       |      CAST(${1.0 / 9007199254740992.0} AS DOUBLE) AS u
       |  FROM bh),
       |bw AS (SELECT doc_id, b,
       |    CASE $cases
       |      ELSE 12 END AS w
       |  FROM bu)""".stripMargin
  }

  /** The Spark side of [[poissonWeightCtes]]: (doc_id, n_chars, b, w)
    * rows, one per (document, replicate). */
  private def poissonWeights(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.hash64
    val tiny = 1.0 / 9007199254740992.0
    val u = shiftrightunsigned(col("h"), 11).cast("double") * lit(tiny)
    val w = PoissonCdf.zipWithIndex
      .foldLeft(org.apache.spark.sql.functions.when(lit(false), lit(0L))) {
        case (acc, (c, k)) => acc.when(col("u") < lit(c), lit(k.toLong))
      }.otherwise(lit(12L))
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("h", hash64(concat(col("doc_id").cast("string"),
        lit(":"), col("b").cast("string"))))
      .withColumn("u", u)
      .withColumn("w", w)
      .select(col("doc_id"), col("n_chars"), col("b"), col("w"))
  }

  /** Poisson-bootstrap confidence interval for the corpus mean document
    * length — THE resampling scheme that survives 100 TB: instead of
    * materializing B resamples, each row draws an independent
    * Poisson(1) replication weight per replicate (the multinomial
    * bootstrap's limit for large n), so the whole procedure is one
    * explode + one groupBy(replicate) of EXACT integer weighted sums —
    * map-side combined, no global sort, state = B partial rows.
    *
    * Replayability: the weight is the inverse Poisson CDF of a uniform
    * derived from hash64(doc_id:b) (top 53 bits), thresholds from
    * [[PoissonCdf]] — every quantity until the final B-row percentile
    * step is a BIGINT, so there is no float-order sensitivity anywhere
    * and DuckDB replays the interval bit-for-bit. CI = nearest-rank
    * 2.5%/97.5% of the B replicate means (a 200-row sort). */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.ordered_sum
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val point = docs.agg(sum(col("n_chars")).as("tot"),
      count(lit(1)).as("n"))
    val reps = poissonWeights(spark, dir)
      .groupBy(col("b"))
      .agg(sum(col("w") * col("n_chars")).as("sx"), sum(col("w")).as("sw"))
      .select(col("b"),
        when(col("sw") > 0,
          col("sx").cast("double") / col("sw").cast("double"))
          .otherwise(lit(0.0)).as("mean_rep"))
    val loIdx = math.ceil(0.025 * BootstrapB).toInt // nearest-rank, 1-based
    val hiIdx = math.ceil(0.975 * BootstrapB).toInt
    reps
      .agg(sort_array(collect_list(col("mean_rep"))).as("ms"),
        round(ordered_sum(col("mean_rep"), col("b")) / lit(BootstrapB.toDouble), 6)
          .as("mean_of_reps"))
      .crossJoin(broadcast(point))
      .select(lit(BootstrapB).as("n_replicates"),
        col("n").as("n_docs"),
        round(col("tot").cast("double") / col("n").cast("double"), 6)
          .as("point_mean"),
        col("mean_of_reps"),
        round(element_at(col("ms"), loIdx), 6).as("ci_lo"),
        round(element_at(col("ms"), hiIdx), 6).as("ci_hi"))
  }

  /** Poisson-bootstrap CI for the corpus MEDIAN document length — the
    * robust-statistic companion to [[bootstrapCi]] and, unlike the mean,
    * a case where the CLT gives no easy closed form. Per replicate, the
    * lower weighted median is the smallest n_chars value whose
    * cumulative Poisson weight reaches ceil(T/2): a per-replicate
    * running sum over the VALUE DISTRIBUTION (cells, not rows), all of
    * it BIGINT — the entire query has no float arithmetic anywhere, so
    * it replays exactly by construction. CI = nearest-rank 2.5/97.5% of
    * the B replicate medians (integers). */
  def bootstrapMedianCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def medians(cells: DataFrame): DataFrame = {
      // cells: (b, v, wsum) — weight mass per value cell per replicate
      val wOrd = Window.partitionBy(col("b")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("b"))
      cells
        .withColumn("cum", sum(col("wsum")).over(wOrd))
        .withColumn("t", sum(col("wsum")).over(wAll))
        .filter(col("cum") * 2 >= col("t"))
        .groupBy(col("b")).agg(min(col("v")).as("med"))
    }
    val reps = medians(poissonWeights(spark, dir)
      .groupBy(col("b"), col("n_chars").as("v"))
      .agg(sum(col("w")).as("wsum")))
    val point = medians(
      Tables.loadSpread(spark, dir, "documents")
        .select(lit(0).as("b"), col("n_chars").as("v"))
        .groupBy(col("b"), col("v")).agg(count(lit(1)).as("wsum")))
      .select(col("med").as("point_median"))
    val loIdx = math.ceil(0.025 * BootstrapB).toInt
    val hiIdx = math.ceil(0.975 * BootstrapB).toInt
    reps
      .agg(sort_array(collect_list(col("med"))).as("ms"),
        count(lit(1)).as("n_replicates"))
      .crossJoin(broadcast(point))
      .select(col("n_replicates"), col("point_median"),
        element_at(col("ms"), loIdx).as("ci_lo"),
        element_at(col("ms"), hiIdx).as("ci_hi"))
  }

  private val LDiversityL = 4

  /** l-diversity audit over the same quasi-identifier classes as
    * [[kAnonymity]] — the stronger release gate: a class can be large
    * (k-anonymous) yet expose its members anyway if nearly everyone in
    * it shares one sensitive value (homogeneity attack; Machanavajjhala
    * et al., ICDE'06). Sensitive attribute here: the account-balance
    * band (2000-wide buckets). Per (segment, nation) class: size,
    * DISTINCT sensitive values, the dominant band's share (exact
    * integer argmax via a packed max — no window sort), and the
    * distinct-l >= 4 verdict. Two map-side-combined aggregations;
    * trivially scale-safe. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val bands = Tables.load(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("bn"))
    // dominant band share via a packed (count, band) max: band fits in
    // 16 bits biased by 8 — exact, order-free, and replayable; ties
    // break toward the LARGER band id in both engines
    bands
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(sum(col("bn")).as("class_size"),
        count(lit(1)).as("n_sensitive"),
        max(col("bn") * 65536L + (col("band") + 8L)).as("packed"))
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("class_size"), col("n_sensitive"),
        round(shiftright(col("packed"), 16).cast("double") /
          col("class_size").cast("double"), 6).as("dominant_share"),
        (col("n_sensitive") >= LDiversityL).as("l_diverse"))
  }

  /** Per-source bigram entropy rate — the information-theoretic fluency
    * signal (natural text has a characteristic conditional entropy;
    * boilerplate and template spam sit far below it, shuffled/garbled
    * text far above): joint bigram entropy H(X,Y), the first-token
    * marginal H(X), and the conditional entropy rate
    * H(Y|X) = H(X,Y) − H(X), all from exact BIGINT bigram counts with
    * every −Σ p·ln p folded through the [[VocabFineMask]] hash-bucket
    * tree (bigram order within fine, fine within coarse, coarse across
    * — the [[termEntropy]] discipline, so the bigram-vocabulary fold
    * never sizes an aggregation buffer; ln is the proven
    * transcendental). Map side emits per-doc bigram count MAPS
    * ([[graft.functions.BigramCounts]]), so the shuffle carries one row
    * per distinct (source, bigram). */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{bigram_counts, hash64, ordered_sum}
    val bg = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"),
        explode(bigram_counts(col("text"))).as(Seq("bg", "c")))
      .groupBy(col("source"), col("bg")).agg(sum(col("c")).as("c"))
    val tot = bg.groupBy(col("source")).agg(sum(col("c")).as("n2"))
    val p2 = col("c").cast("double") / col("n2").cast("double")
    val hJoint = bg.join(tot, "source")
      .select(col("source"), col("bg"),
        hash64(col("bg")).bitwiseAND(lit(VocabFineMask)).as("fine"),
        (-p2 * log(p2)).as("t"))
      .groupBy(col("source"), col("fine"))
      .agg(ordered_sum(col("t"), col("bg")).as("bt"))
      .groupBy(col("source"), expr(s"fine div $VocabCoarseDiv").as("coarse"))
      .agg(ordered_sum(col("bt"), col("fine")).as("bt"))
      .groupBy(col("source"))
      .agg(ordered_sum(col("bt"), col("coarse")).as("h_joint"))
    val mx = bg
      .select(col("source"), substring_index(col("bg"), " ", 1).as("x"),
        col("c"))
      .groupBy(col("source"), col("x")).agg(sum(col("c")).as("c"))
    val px = col("c").cast("double") / col("n2").cast("double")
    val hMarg = mx.join(tot, "source")
      .select(col("source"), col("x"),
        hash64(col("x")).bitwiseAND(lit(VocabFineMask)).as("fine"),
        (-px * log(px)).as("t"))
      .groupBy(col("source"), col("fine"))
      .agg(ordered_sum(col("t"), col("x")).as("bt"))
      .groupBy(col("source"), expr(s"fine div $VocabCoarseDiv").as("coarse"))
      .agg(ordered_sum(col("bt"), col("fine")).as("bt"))
      .groupBy(col("source"))
      .agg(ordered_sum(col("bt"), col("coarse")).as("h_marginal"))
    hJoint.join(hMarg, "source").join(tot, "source")
      .select(col("source"), col("n2").as("n_bigrams"),
        round(col("h_joint"), 6).as("h_joint"),
        round(col("h_marginal"), 6).as("h_marginal"),
        round(col("h_joint") - col("h_marginal"), 6).as("h_cond"))
  }

  private val FwAlpha = 0.01
  private val FwTopK = 20

  /** "Fightin' Words" term drift (Monroe, Colaresi & Quinn, 2008): the
    * log-odds-ratio with a Dirichlet prior between two corpus cohorts
    * (doc_id parity — the stand-in for before/after snapshots), the
    * standard lexical-shift audit that beats raw tf-ratio lists (which
    * overweight rare terms) by shrinking toward the prior and
    * z-scaling: δ_w = ln[(y_aw+α)/(n_a+α₀−y_aw−α)] − ln[(y_bw+α)/
    * (n_b+α₀−y_bw−α)], z = δ/√(1/(y_aw+α) + 1/(y_bw+α)). Every count
    * is an exact BIGINT off the shared tf table; δ/z are pointwise
    * (ln — the proven transcendental), and the top-[[FwTopK]] by |z|
    * selects via the bounded [[graft.functions.TopKStructs]] partial
    * aggregate — k rows per partition cross the shuffle, no global
    * sort. Ties break on the term (bit-exact doubles make the
    * selection replayable). */
  def fightinWords(spark: SparkSession, dir: String): DataFrame = {
    val tf = cachedTf(spark, dir)
      .withColumn("cohort", pmod(col("doc_id"), lit(2)).cast("int"))
    val counts = tf.groupBy(col("term"))
      .agg(sum(when(col("cohort") === 0, col("tf")).otherwise(0L)).as("y_a"),
        sum(when(col("cohort") === 1, col("tf")).otherwise(0L)).as("y_b"))
    val totals = counts.agg(sum(col("y_a")).as("n_a"),
      sum(col("y_b")).as("n_b"), count(lit(1)).as("v"))
    val a = lit(FwAlpha)
    val a0 = col("v").cast("double") * a
    val da = log((col("y_a").cast("double") + a) /
      (col("n_a").cast("double") + a0 - col("y_a").cast("double") - a))
    val db = log((col("y_b").cast("double") + a) /
      (col("n_b").cast("double") + a0 - col("y_b").cast("double") - a))
    val delta = da - db
    val z = delta / sqrt(lit(1.0) / (col("y_a").cast("double") + a) +
      lit(1.0) / (col("y_b").cast("double") + a))
    counts.crossJoin(broadcast(totals))
      .withColumn("z", z)
      .select(graft.functions.TextFunctions.top_k_structs(
        struct(abs(col("z")).as("az"), col("term").as("term"),
          col("y_a").as("y_a"), col("y_b").as("y_b"),
          round(delta, 6).as("delta"), round(col("z"), 6).as("zr")),
        FwTopK).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.term").as("term"), col("t.y_a").as("y_a"),
        col("t.y_b").as("y_b"), col("t.delta").as("delta"),
        col("t.zr").as("z"))
  }

  /** Per-source Gini coefficient of document length — the inequality
    * audit for mixture balance (a source whose token mass concentrates
    * in a few giant docs behaves very differently under packing and
    * sampling than its doc count suggests). Computed from the VALUE
    * DISTRIBUTION, never a global row sort: for length cells (v, c)
    * ordered by v, the rank-sum Σ i·x_i decomposes per cell as
    * v·(c·r0 + c(c+1)/2) with r0 = rows below the cell — and every
    * product accumulates in DECIMAL(38,0), which is EXACT (DuckDB
    * HUGEINT) and therefore order-free where a double sum would not
    * be. G = 2·Σi·x_i/(n·Σx) − (n+1)/n, pointwise at the end.
    *
    * Headroom bound: Spark's decimal sum NULLs on overflow past 38
    * digits while DuckDB's HUGEINT is 128-bit, so the exactness claim
    * holds while Σ v·2c·r0 < 10^38 — with n_chars <= 10^6 that is
    * ~10^16 documents PER SOURCE (far past 100 TB of text); a corpus
    * beyond it should pre-scale v into coarser length cells (e.g.
    * v/100) before the rank-sum, which leaves G unchanged up to cell
    * granularity. */
  def lengthGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.loadSpread(spark, dir, "documents")
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (e: org.apache.spark.sql.Column) => e.cast("decimal(38,0)")
    // sr2 = 2·Σ i·x_i, accumulated WITHOUT any division: per cell
    // v·(2·c·r0 + c·(c+1)), every factor in decimal(38,0)
    val ranked = cells
      .withColumn("r0", coalesce(sum(col("c")).over(wOrd), lit(0L)))
      .withColumn("ranksum2",
        dec(col("v")) * (lit(2) * dec(col("c")) * dec(col("r0")) +
          dec(col("c")) * (dec(col("c")) + lit(1))))
    ranked.groupBy(col("source"))
      .agg(sum(col("c")).as("n"),
        sum(dec(col("v")) * dec(col("c"))).as("sx"),
        sum(col("ranksum2")).as("sr2"))
      .select(col("source"), col("n"),
        round(col("sr2").cast("double") /
          (col("n").cast("double") * col("sx").cast("double")) -
          (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("gini"))
  }

  private val KlBucketWidth = 100
  private val KlMaxBucket = 49

  /** Per-source length-distribution divergence from the corpus — the
    * data-mixture skew diagnostic (a source whose length profile
    * diverges hard from the corpus distorts packing, curriculum and
    * token budgets): bucket n_chars into [[KlBucketWidth]]-char cells
    * (capped at [[KlMaxBucket]]), and per source report KL(source ‖
    * corpus) and the bounded, symmetric Jensen–Shannon divergence. All
    * probabilities are exact-integer ratios; the ln terms fold in
    * bucket order over ≤ 50 cells per source (bounded by the binning,
    * never the corpus), so the whole report replays bit-for-bit. The
    * grid is sources × buckets — dimension-sized; the one corpus-wide
    * row broadcasts. */
  def sourceLengthKl(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.ordered_sum
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"),
        least(expr(s"n_chars div $KlBucketWidth"), lit(KlMaxBucket.toLong))
          .as("bucket"))
    val srcCnt = docs.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("k"))
    val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val corpCnt = docs.groupBy(col("bucket")).agg(count(lit(1)).as("qc"))
    val corpTot = docs.agg(count(lit(1)).as("n"))
    val grid = srcTot.crossJoin(broadcast(corpCnt))
      .join(srcCnt, Seq("source", "bucket"), "left")
      .na.fill(0L, Seq("k"))
      .crossJoin(broadcast(corpTot))
    val p = col("k").cast("double") / col("ns").cast("double")
    val q = col("qc").cast("double") / col("n").cast("double")
    val m = lit(0.5) * (p + q)
    grid
      .withColumn("kl_term", when(col("k") > 0, p * log(p / q))
        .otherwise(lit(0.0)))
      .withColumn("js_term",
        when(col("k") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
          lit(0.5) * q * log(q / m))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"),
        round(ordered_sum(col("kl_term"), col("bucket")), 6).as("kl"),
        round(ordered_sum(col("js_term"), col("bucket")), 6).as("js"))
  }

  private val DpEpsilon = 1.0
  private val DpSuppressBelow = 10.0

  /** Differentially-private release of the (lang, source) document
    * counts — the Laplace mechanism (sensitivity 1, ε = [[DpEpsilon]])
    * that completes the privacy-audit family next to [[kAnonymity]] /
    * [[lDiversity]]: noise = -b·sign(u−½)·ln(1−2|u−½|), the inverse
    * Laplace CDF of a uniform DERIVED FROM A KEYED HASH (top 53 bits of
    * hash64("dp:lang:source")) rather than an RNG — so the release is
    * reproducible run-to-run, engine-to-engine (the engine's standard
    * no-RNG-state discipline; a production release would swap the seed
    * string per epoch). True counts ride along as the utility audit;
    * cells whose noisy count falls below [[DpSuppressBelow]] carry the
    * suppression flag a release pipeline would honor. One map-side
    * aggregation; the noise is a pointwise projection. */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.hash64
    val tiny = 1.0 / 9007199254740992.0 // 2^-53: clamp keeps ln finite
    val cells = Tables.loadSpread(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("true_n"))
    val u0 = shiftrightunsigned(
      hash64(concat(lit("dp:"), col("lang"), lit(":"), col("source"))), 11)
      .cast("double") * lit(tiny)
    cells
      .withColumn("u", least(greatest(u0, lit(tiny)), lit(1.0 - tiny)))
      .withColumn("noise",
        lit(-1.0 / DpEpsilon) *
          signum(col("u") - lit(0.5)) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))))
      .select(col("lang"), col("source"), col("true_n"),
        round(col("true_n").cast("double") + col("noise"), 4).as("noisy_n"),
        (col("true_n").cast("double") + col("noise") <
          DpSuppressBelow).as("suppressed"))
  }

  private val CusumSlack = 0.5
  private val CusumAlarm = 5.0

  /** CUSUM changepoint detection over the daily event-volume series —
    * the batch drift monitor complementing the streaming window-count
    * drift query: per event type, standardize the daily counts and run
    * the two-sided cumulative-sum statistic with slack k = 0.5σ, alarm
    * at h = 5σ (Page 1954's sequential test in its standard form).
    *
    * Scale + replay design: the textbook recurrence
    * S+_d = max(0, S+_{d-1} + z_d - k) is NOT computed as a sequential
    * fold — it has the closed form S+_d = P_d - min(0, min_{j<=d} P_j)
    * over the drift prefix P_d = sum_{j<=d}(z_j - k), and because
    * z_j = (x_j - mean)/std with INTEGER daily counts x, P_d itself
    * collapses to a POINTWISE expression of the integer prefix sum
    * X_d = sum_{j<=d} x_j:  P_d = (X_d - d*mean)/std - d*k. So the only
    * window accumulations are over BIGINTs (exact, order-free) and a
    * running MIN of doubles (comparison-only, order-free) — zero
    * float-addition order sensitivity, which is what lets DuckDB replay
    * the statistic bit-for-bit. mean/std likewise derive from exact
    * integer sums. State per group = one row per day: bounded by the
    * calendar, not the corpus. */
  def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy(col("event_type"))
      .agg(sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rnD = col("rn").cast("double")
    val joined = daily
      .withColumn("xsum", sum(col("x")).over(wc))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(stats), "event_type")
      .withColumn("mean", col("sum_x").cast("double") / col("n").cast("double"))
      .withColumn("variance",
        (col("sum_x2").cast("double") -
          col("sum_x").cast("double") * col("sum_x").cast("double") /
            col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)))
      .withColumn("std", sqrt(col("variance")))
      .withColumn("pu",
        when(col("std") === 0.0, rnD * lit(-CusumSlack))
          .otherwise((col("xsum").cast("double") - rnD * col("mean")) /
            col("std") - rnD * lit(CusumSlack)))
      .withColumn("pd",
        when(col("std") === 0.0, rnD * lit(-CusumSlack))
          .otherwise((rnD * col("mean") - col("xsum").cast("double")) /
            col("std") - rnD * lit(CusumSlack)))
    joined
      .withColumn("splus", col("pu") - least(min(col("pu")).over(wc), lit(0.0)))
      .withColumn("sminus", col("pd") - least(min(col("pd")).over(wc), lit(0.0)))
      .select(col("event_type"), col("day"), col("x"),
        round(col("splus"), 6).as("cusum_up"),
        round(col("sminus"), 6).as("cusum_down"),
        (col("splus") > CusumAlarm || col("sminus") > CusumAlarm).as("alarm"))
  }

  // Engine CMS geometry (shared by [[cmsCounts]] and its oracle). Row
  // hash r of a term = hash_family(hash64(term), r) — the MinHash-family
  // derivation, so the DuckDB replay reuses the existing XXH64 + fmix64
  // CTE chains. Width a power of two => the column index is a mask.
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 2048

  /** Count-min-sketch point queries over the term stream (the mergeable
    * frequency summary complementing [[heavyHitters]]' top-k sketch) —
    * ENGINE-OWNED since r11: the counter table is a plain
    * groupBy(row, col) count over [[CmsDepth]] seeded row hashes
    * ([[graft.functions.HashFamily]] over the seed-0 XXH64), and the
    * estimate is the min over rows of the probed cells. Replacing
    * Spark's internal `count_min_sketch` (whose byte layout no other
    * engine reproduces — this query's pre-r11 form, and one of the
    * three `no_oracle` entries) makes the sketch deterministic
    * end-to-end, so the estimates hash-gate against a DuckDB
    * counter-level replay.
    *
    * Scale shape: the counter table IS the sketch — the groupBy(r, c)
    * count is map-side combined, so each input partition contributes at
    * most depth·width rows to the shuffle regardless of corpus size
    * (increments commute; partial counter arrays ADD, the CMS merge
    * law ReaggregateSpec pins). The probe side is a broadcast of
    * depth·|vocabulary| rows. The estimate keeps the one-sided CMS
    * guarantee: never below the true count, at most N·depth/width
    * above (w.h.p.), also spec-pinned against exact counts. */
  def cmsCounts(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val cells = cmsCells(Tables.loadSpread(spark, dir, "documents"))
    import spark.implicits._
    val probes = TextAnalysis.Stopwords.toSeq.sorted.toDF("term")
      .select(col("term"), tf.hash64(col("term")).as("h"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("term"), col("r"),
        tf.hash_family(col("h"), col("r"))
          .bitwiseAND(lit((CmsWidth - 1).toLong)).as("c"))
    cells.join(broadcast(probes), Seq("r", "c"), "right")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** The (r, c) → count counter table of the engine CMS over `docs`'
    * text — the mergeable sketch state of [[cmsCounts]]: tables over
    * disjoint corpus halves ADD cell-wise to the full-corpus table
    * (increments commute — the merge law ReaggregateSpec pins). */
  private[graft] def cmsCells(docs: DataFrame): DataFrame = {
    val tf = graft.functions.TextFunctions
    docs
      .select(explode(tf.term_counts(col("text"))).as(Seq("term", "n")))
      .select(tf.hash64(col("term")).as("h"), col("n"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("r"),
        tf.hash_family(col("h"), col("r"))
          .bitwiseAND(lit((CmsWidth - 1).toLong)).as("c"),
        col("n"))
      .groupBy(col("r"), col("c")).agg(sum(col("n")).as("cnt"))
  }

  private val ZipfTopR = 100

  /** Zipf-law fit per language: OLS of ln(freq) on ln(rank) over the
    * top-[[ZipfTopR]] unigrams — slope (the Zipf exponent, ~-1 for
    * natural language), intercept, and r^2. A corpus whose exponent
    * drifts far from -1 (or fits poorly) is boilerplate-heavy or
    * template-generated — the distributional cousin of the Gopher
    * repetition rules.
    *
    * Scale shape: term counts aggregate with map-side combine, then the
    * per-lang top-R comes from the partial-top-k aggregate
    * ([[graft.functions.TextFunctions.top_k_structs]]) — only R structs
    * per (lang, input partition) cross the shuffle; NO window sorts the
    * vocabulary. The tie order is (n DESC, term DESC) — struct-descending
    * order — so rank assignment is deterministic and SQL-replayable. The
    * OLS sums fold rank-ordered ([[graft.functions.TextFunctions
    * .ordered_sum]]) for cross-engine bit equality; degenerate variance
    * denominators null out via the same guard on both sides. */
  /** Simpson's diversity index over the term distribution per source —
    * the no-transcendentals companion of [[termEntropy]]: D =
    * Σ nᵢ(nᵢ−1) / (N(N−1)) is the probability two tokens drawn without
    * replacement are the SAME type (repeat-heaviness), and 1/D is the
    * effective vocabulary size. Every quantity is an exact integer
    * ratio — the numerator/denominator accumulate in DECIMAL(38,0)
    * (headroom to ~10¹⁸ tokens per source; DuckDB folds the same sums
    * as HUGEINT), and the one division is pointwise — so this oracle
    * is exact arithmetic end to end, not merely replay-deterministic. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val dec = (e: Column) =>
      e.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val counts = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"),
        explode(tf.term_counts(col("text"))).as(Seq("term", "n")))
      .groupBy(col("source"), col("term")).agg(sum(col("n")).as("n"))
    counts.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("n")).as("n_tokens"),
        sum(dec(col("n")) * (dec(col("n")) - 1)).as("num"))
      // the DIVISION runs in double on both sides (decimal-division
      // scale rules differ across engines); numerator/denominator stay
      // exact integers and convert correctly-rounded below 2^53 —
      // ~9×10^7 tokens per source; past that, pre-divide both by a
      // common power of ten before the cast
      .select(col("source"), col("vocab"), col("n_tokens"),
        round(col("num").cast("double") /
          (dec(col("n_tokens")) * (dec(col("n_tokens")) - 1))
            .cast("double"), 8).as("simpson"),
        round((dec(col("n_tokens")) * (dec(col("n_tokens")) - 1))
          .cast("double") / col("num").cast("double"), 4)
          .as("effective_vocab"))
  }

  private val TermJsTopV = 200

  /** Pairwise Jensen-Shannon divergence between source TERM
    * distributions — the vocabulary-level mixing audit ([[sourceLengthKl]]
    * compares length shapes; this compares what the sources actually
    * SAY). Distributions live on a bounded support: the global
    * top-[[TermJsTopV]] terms (partial-top-k aggregate, (count DESC,
    * term DESC) ties — the [[zipfFit]] rank discipline) plus one OOV
    * bucket holding each source's remaining mass, so every downstream
    * step is grid-sized (sources × 201) no matter the corpus.
    * Probabilities are exact integer counts over exact source totals
    * (one pointwise division); JS = Σ [p_a·ln(p_a/m) + p_b·ln(p_b/m)]/2
    * with m the midpoint, zero-mass terms contributing zero; the fold
    * runs term-ordered per pair (binary string order — identical in
    * both engines). Symmetric, bounded by ln 2. */
  def sourceTermJs(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val counts = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"),
        explode(tf.term_counts(col("text"))).as(Seq("term", "n")))
      .groupBy(col("source"), col("term")).agg(sum(col("n")).as("n"))
    val top = counts.groupBy(col("term")).agg(sum(col("n")).as("g"))
      .agg(tf.top_k_structs(struct(col("g"), col("term")), TermJsTopV)
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.term").as("term"))
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("tot"))
    val inTop = counts.join(broadcast(top), "term")
    // LEFT JOIN from totals (mirroring the oracle's `FROM tot LEFT JOIN
    // intop` shape): a source with ZERO in-top occurrences still gets
    // its OOV row — with all its mass — instead of an all-zero column
    // that wouldn't be a distribution.
    val oov = totals
      .join(inTop.groupBy(col("source")).agg(sum(col("n")).as("topn")),
        Seq("source"), "left")
      .select(col("source"), lit(" OOV").as("term"),
        (col("tot") - coalesce(col("topn"), lit(0L))).as("n"))
    // full (source x bucket) grid so absent terms carry zero mass
    val grid = totals.select(col("source"), col("tot"))
      .crossJoin(broadcast(
        top.union(spark.range(1).select(lit(" OOV").as("term")))))
      .join(inTop.select(col("source"), col("term"), col("n"))
        .union(oov.select(col("source"), col("term"), col("n"))),
        Seq("source", "term"), "left")
      .na.fill(0L, Seq("n"))
      .select(col("source"), col("term"),
        col("n").cast("double") / col("tot").cast("double"))
      .toDF("source", "term", "p")
    val pa = col("a.p"); val pb = col("b.p")
    val m = (pa + pb) / 2
    val contrib =
      when(pa > 0, pa * log(pa / m)).otherwise(lit(0.0)) +
        when(pb > 0, pb * log(pb / m)).otherwise(lit(0.0))
    grid.as("a").join(grid.as("b"),
        col("a.term") === col("b.term") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"),
        col("b.source").as("source_b"), col("a.term").as("term"),
        (contrib / 2).as("c"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(graft.functions.TextFunctions.ordered_sum(
        col("c"), col("term")), 6).as("js"))
  }

  /** Heaps'-law vocabulary-growth fit per language — the tokenizer-
    * planning companion of [[vocabRichness]]: walking the corpus in
    * doc-id order, vocabulary grows as V(N) ≈ K·N^β (β ≈ 0.4–0.6 for
    * natural language; β near 1 means the source never stops minting
    * new types — ids/hashes/noise). The corpus walk is TEN CELLS, not
    * a scan order: each doc's decile is pointwise integer arithmetic
    * on doc_id (floor(id·10/(max+1))), per-decile token totals and
    * FIRST-APPEARANCE vocabulary counts are exact integer aggregates,
    * cumulative sums run over the 10-cell window per language, and the
    * (ln N, ln V) OLS folds decile-ordered ([[zipfFit]]'s replay
    * discipline — `ln` only, the intercept reported as ln K). */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = graft.functions.TextFunctions
    val docs = Tables.loadSpread(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id")).as("mx"))
    val terms = docs.crossJoin(broadcast(maxId))
      .select(floor(col("doc_id") * 10 / (col("mx") + 1)).cast("int").as("d"),
        col("lang"),
        explode(tf.term_counts(col("text"))).as(Seq("term", "cnt")))
    val tk = terms.groupBy(col("lang"), col("d"))
      .agg(sum(col("cnt")).as("tk"))
    val nv = terms.groupBy(col("lang"), col("term"))
      .agg(min(col("d")).as("d"))
      .groupBy(col("lang"), col("d")).agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("lang")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pt = tk.join(nv, Seq("lang", "d"), "left")
      .na.fill(0L, Seq("nv"))
      .withColumn("cn", sum(col("tk")).over(w))
      .withColumn("cv", sum(col("nv")).over(w))
      .select(col("lang"), col("d"),
        log(col("cn").cast("double")).as("lx"),
        log(col("cv").cast("double")).as("ly"))
    def os(v: Column) = tf.ordered_sum(v, col("d"))
    val agg = pt.groupBy(col("lang")).agg(
      count(lit(1)).cast("double").as("m"),
      os(col("lx")).as("sx"), os(col("ly")).as("sy"),
      os(col("lx") * col("lx")).as("sxx"),
      os(col("ly") * col("ly")).as("syy"),
      os(col("lx") * col("ly")).as("sxy"))
    val covN = col("m") * col("sxy") - col("sx") * col("sy")
    val varX = col("m") * col("sxx") - col("sx") * col("sx")
    val varY = col("m") * col("syy") - col("sy") * col("sy")
    val slope = covN / varX
    agg.select(col("lang"), col("m").cast("long").as("n_points"),
      round(when(varX =!= 0.0, slope), 6).as("beta"),
      round(when(varX =!= 0.0, (col("sy") - slope * col("sx")) / col("m")),
        6).as("ln_k"),
      round(when(varX =!= 0.0 && varY =!= 0.0,
        covN * covN / (varX * varY)), 6).as("r2"))
  }

  /** Vocabulary richness per language — the OOV-planning audit for
    * tokenizer training: Good-Turing unseen-mass estimate N₁/N (the
    * probability the NEXT token is a never-seen type — how much
    * vocabulary the corpus is still missing) and the bias-corrected
    * Chao1 species-richness estimate V + N₁(N₁−1)/(2(N₂+1)) (the total
    * vocabulary the corpus is sampling from; the +1 keeps the estimator
    * defined when no doubletons exist). Everything is an exact integer
    * aggregate over the term-count table (map-side `term_counts`
    * kernel, the TF-IDF-family shuffle shape) until two pointwise
    * divisions — trivially bit-replayable. */
  def vocabRichness(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val tc = Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"),
        explode(tf.term_counts(col("text"))).as(Seq("term", "n")))
      .groupBy(col("lang"), col("term")).agg(sum(col("n")).as("n"))
    tc.groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("n")).as("n_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("lang"), col("vocab"), col("n_tokens"), col("n1"),
        col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("unseen_mass"),
        round(col("vocab").cast("double") +
          (col("n1") * (col("n1") - 1)).cast("double") /
            (lit(2L) * (col("n2") + 1)).cast("double"), 4).as("chao1"))
  }

  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"),
        explode(graft.functions.TextFunctions.regex_tokens(col("text")))
          .as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
    val ranked = counts.groupBy(col("lang"))
      .agg(graft.functions.TextFunctions.top_k_structs(
        struct(col("n"), col("term")), ZipfTopR).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("lang"), (col("pos") + 1).as("r"),
        log((col("pos") + 1).cast("double")).as("lx"),
        log(col("p.n").cast("double")).as("ly"))
    def os(v: Column) =
      graft.functions.TextFunctions.ordered_sum(v, col("r"))
    val agg = ranked.groupBy(col("lang")).agg(
      count(lit(1)).cast("double").as("m"),
      os(col("lx")).as("sx"),
      os(col("ly")).as("sy"),
      os(col("lx") * col("lx")).as("sxx"),
      os(col("ly") * col("ly")).as("syy"),
      os(col("lx") * col("ly")).as("sxy"))
    val covN = col("m") * col("sxy") - col("sx") * col("sy")
    val varX = col("m") * col("sxx") - col("sx") * col("sx")
    val varY = col("m") * col("syy") - col("sy") * col("sy")
    val slope = covN / varX
    agg.select(col("lang"), col("m").cast("long").as("n_terms"),
      round(when(varX =!= 0.0, slope), 6).as("slope"),
      round(when(varX =!= 0.0, (col("sy") - slope * col("sx")) / col("m")),
        6).as("intercept"),
      round(when(varX =!= 0.0 && varY =!= 0.0,
        covN * covN / (varX * varY)), 6).as("r2"))
  }

  /** Id-block size of the [[charsetQuality]] two-level ratio fold —
    * small enough that the gate SFs exercise the cross-block level. */
  private[graft] val CharsetBlock = 256L

  /** Byte-level charset / encoding-quality signals per (source, lang):
    * multibyte overhead (UTF-8 bytes beyond one per char — the
    * mojibake / wrong-charset tell when it spikes for a nominally-ASCII
    * source), digit and whitespace character ratios, and document
    * counts. The cheap first-pass curation screen that runs BEFORE
    * tokenization — pure per-row projections (octet_length / length /
    * one regexp class strip), one partial-combinable aggregate, no
    * joins. Ratio sums fold doc_id-ordered within [[CharsetBlock]]-sized
    * id blocks and blk-ordered across (the standard two-level fixed fold
    * tree) for cross-engine bit equality — the flat doc_id fold buffered
    * every document of a (source, lang) cell, corpus-proportional
    * aggregation state hiding behind a grid-sized group count. */
  def charsetQuality(spark: SparkSession, dir: String): DataFrame = {
    val bytes = octet_length(col("text")).cast("double")
    val chars = length(col("text")).cast("double")
    def classRatio(cls: String): Column =
      when(chars > 0,
        (chars - length(regexp_replace(col("text"), cls, "")).cast("double"))
          / chars).otherwise(lit(0.0))
    val perDoc = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        when(bytes > 0, (bytes - chars) / bytes).otherwise(lit(0.0))
          .as("mb_ratio"),
        classRatio("[0-9]").as("digit_ratio"),
        classRatio("[ \\t\\n\\r]").as("ws_ratio"))
    def os(v: Column) =
      graft.functions.TextFunctions.ordered_sum(v, col("doc_id"))
    def os2(v: Column) =
      graft.functions.TextFunctions.ordered_sum(v, col("blk"))
    perDoc
      .groupBy(col("source"), col("lang"),
        expr(s"doc_id div $CharsetBlock").as("blk"))
      .agg(count(lit(1)).as("bn"),
        os(col("mb_ratio")).as("bmb"), max(col("mb_ratio")).as("bmaxmb"),
        os(col("digit_ratio")).as("bd"), os(col("ws_ratio")).as("bw"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("bn")).as("n_docs"),
        round(os2(col("bmb")) / sum(col("bn")), 6).as("avg_mb_ratio"),
        round(max(col("bmaxmb")), 6).as("max_mb_ratio"),
        round(os2(col("bd")) / sum(col("bn")), 6).as("avg_digit_ratio"),
        round(os2(col("bw")) / sum(col("bn")), 6).as("avg_ws_ratio"))
  }

  /** Gopher-style WITHIN-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models", Table A1 — the standard pre-training
    * repetition filters, adapted to token units since this corpus has
    * no line structure): per document,
    *  - `top2_frac` — fraction of token positions covered by
    *    occurrences of the MOST FREQUENT 2-gram (ties broken to the
    *    lexicographically smallest gram; coverage is a position UNION,
    *    so overlapping occurrences never double-count);
    *  - `dup5_frac` — fraction of token positions covered by any
    *    5-gram that occurs ≥ 2 times in the SAME document (the
    *    within-doc sibling of [[graft.operators.Dedup.spanCoverage]]'s
    *    cross-doc signal).
    * Exact integer coverage over exact token counts (one pointwise
    * division) — hash-gated.
    *
    * Scale shape: every stage is keyed by doc_id (the n-gram
    * group-count, the argmax struct-min, the coverage distinct) — one
    * shuffle per gram size, all partition-local per doc; the coverage
    * explode is bounded by occurrence count × k. Nothing is
    * corpus-global, so the plan is embarrassingly parallel over
    * documents at any corpus size. */
  def repetitionSignalsOver(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = graft.functions.TextFunctions
    val base = docs
      .select(col("doc_id"), tf.regex_tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 5)
    def grams(k: Int) = base.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("ts")) - (k - 1)),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("ts"), i, lit(k))).as("g")))).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.g").as("g"))
    val nTok = base.select(col("doc_id"),
      size(col("ts")).cast("long").as("n_tokens"))
    val g2 = grams(2)
    val top2 = g2.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("c")).as("negc"), col("g").as("g"))).as("t"))
      .select(col("doc_id"), col("t.g").as("top2_gram"),
        (-col("t.negc")).as("top2_n"))
    val cov2 = g2
      .join(top2.select(col("doc_id"), col("top2_gram")), Seq("doc_id"))
      .filter(col("g") === col("top2_gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 1)).as("tp"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("cov2"))
    val dup5 = grams(5)
      .withColumn("c", count(lit(1))
        .over(Window.partitionBy(col("doc_id"), col("g"))))
      .filter(col("c") >= 2)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 4)).as("tp"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup5"))
    nTok.join(top2, Seq("doc_id"))
      .join(cov2, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .na.fill(0L, Seq("cov2", "dup5"))
      .select(col("doc_id"), col("n_tokens"), col("top2_gram"),
        col("top2_n"),
        round(col("cov2").cast("double") / col("n_tokens"), 6)
          .as("top2_frac"),
        round(col("dup5").cast("double") / col("n_tokens"), 6)
          .as("dup5_frac"))
  }

  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    repetitionSignalsOver(Tables.loadSpread(spark, dir, "documents"))

  // ONE literal pair shared with the oracle (byte-set profiles)
  private val AlphaRef = "abcdefghijklmnopqrstuvwxyz "
  private val DigitRef = "0123456789"

  /** Byte-set Jaccard profile per document — the charset-coverage
    * quality signal (how much of the lowercase alphabet a document's
    * bytes span, and whether digits intrude), computed by the engine's
    * [[graft.functions.JaccardBytes]] codegen kernel and gated against
    * DuckDB's OWN `jaccard` builtin (probed byte-set semantics) — the
    * fourth cross-implementation oracle. A pure projection: no shuffle,
    * no state, linear scan at any corpus size. */
  def byteJaccard(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        round(tf.jaccard_bytes(col("text"), lit(AlphaRef)), 6)
          .as("alpha_jaccard"),
        round(tf.jaccard_bytes(col("text"), lit(DigitRef)), 6)
          .as("digit_jaccard"))
  }

  /** Temperature-based source mixing — the data-mixing step a
    * pre-training pipeline runs after curation (sampling weights
    * ∝ tokens^α flatten the source distribution; multilingual-LM
    * practice, e.g. the exponent-smoothed sampling in XLM-R/mT5). Uses
    * α = 1/2, so the reweighting is a pure `sqrt` — with `ln`, the
    * only transcendentals proven bit-identical across engines (a
    * general pow would route through exp). Per source: exact token
    * counts, natural share, smoothed weight w_s = √t_s / Σ√t, and the
    * sampling boost w_s / share_s (= epochs over one natural-epoch
    * budget). The Σ√t denominator is an ordered fold over the BOUNDED
    * source set — sources are dozens at any corpus size, so the fold
    * never grows with data; everything upstream is one
    * map-side-combined aggregate over the scan. */
  def mixSqrt(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val per = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), size(tf.regex_tokens(col("text"))).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("n_tokens"))
    val denom = per.agg(
      tf.ordered_sum(sqrt(col("n_tokens").cast("double")), col("source"))
        .as("d"),
      sum(col("n_tokens")).cast("long").as("total"))
    val share = col("n_tokens").cast("double") / col("total").cast("double")
    val w = sqrt(col("n_tokens").cast("double")) / col("d")
    per.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(share, 6).as("natural_share"),
        round(w, 6).as("weight"),
        round(w / share, 6).as("boost"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_repetition" -> repetitionSignals,
    "ta_byte_jaccard" -> byteJaccard,
    "ta_mix_sqrt" -> mixSqrt,
    "ta_zipf_fit" -> zipfFit,
    "ta_vocab_richness" -> vocabRichness,
    "ta_heaps_law" -> heapsLaw,
    "ta_source_term_js" -> sourceTermJs,
    "ta_simpson_diversity" -> simpsonDiversity,
    "ta_charset_quality" -> charsetQuality,
    "ta_source_mix" -> sourceMix,
    "ta_k_anonymity" -> kAnonymity,
    "ta_l_diversity" -> lDiversity,
    "ta_dp_counts" -> dpCounts,
    "ta_source_length_kl" -> sourceLengthKl,
    "ta_length_gini" -> lengthGini,
    "ta_fightin_words" -> fightinWords,
    "ta_entropy_rate" -> entropyRate,
    "ta_cusum_drift" -> cusumDrift,
    "stream_cusum" -> ((s: SparkSession, d: String) =>
      graft.streaming.StreamingOps.cusumMonitor(s, d, CusumSlack, CusumAlarm)),
    "ta_bootstrap_ci" -> bootstrapCi,
    "ta_bootstrap_median_ci" -> bootstrapMedianCi,
    "ta_cms_counts" -> cmsCounts,
    "ta_source_mix_temperature" -> sourceMixTemperature,
    "ta_bigram_logprob" -> bigramLogprob,
    "ta_kneser_ney" -> kneserNey,
    "ta_perplexity_buckets" -> perplexityBuckets,
    "ta_decontaminate" -> decontaminate,
    "ta_bloom_decontaminate" -> bloomDecontaminate,
    "ta_pack_bins" -> packBins,
    "ta_unigram_logprob" -> unigramLogprob,
    "ta_repetition" -> repetition,
    "ta_pii_scrub" -> piiScrub,
    "ta_quality" -> quality,
    "ta_quality_lr" -> qualityLr,
    "ta_quality_calibration" -> qualityCalibration,
    "ta_quality_lift" -> qualityLift,
    "ta_length_quality_fit" -> lengthQualityFit,
    "ta_gopher_rules" -> gopherRules,
    "ta_dsir_weights" -> dsirWeights,
    "ta_fertility" -> fertility,
    "ta_langid" -> langid,
    "ta_langid_ngram" -> langidNgram,
    "ta_langid_confusion" -> langidConfusion,
    "ta_top_terms" -> topTerms,
    "ta_tfidf_top" -> tfidfTop,
    "ta_bm25" -> bm25,
    "ta_weighted_sample" -> weightedSample,
    "ta_collocations" -> collocations,
    "ta_mutual_info" -> mutualInfo,
    "ta_heavy_hitters" -> heavyHitters,
    "ta_sparse_sim" -> sparseSim,
    "ta_sparse_sim_bigram" -> sparseSimBigram,
    "ta_ngram_diversity" -> ngramDiversity,
    "ta_source_overlap" -> sourceOverlap,
    "ta_quality_pct" -> percentileRank,
    "ta_curriculum_shards" -> curriculumShards,
    "ta_curriculum_by_lang" -> curriculumByLang,
    "ta_bpe_merges" -> bpeMerges,
    "ta_bpe_encode" -> bpeEncode,
    "ta_unigram_segment" -> unigramSegment,
    "ta_unigram_fertility" -> unigramFertility,
    "ta_ngram_novelty" -> ngramNovelty,
    "ta_shuffle_order" -> shuffleOrder,
    "ta_stratified_sample" -> stratifiedSample,
    "ta_split" -> trainSplit,
    "ta_split_ks" -> splitKs,
    "ta_oov_rate" -> oovRate,
    "ta_quality_gate" -> qualityGate,
    "ta_token_budget" -> tokenBudget,
    "ta_seq_packing" -> seqPacking,
    "ta_rrf" -> rrfFusion,
    "ta_hybrid_related" -> hybridRelated,
    "ta_corpus_prep" -> corpusPrep,
    "ta_term_entropy" -> termEntropy,
    "mm_decode_stats" -> mmDecodeStats,
    "mm_frame_sample" -> mmFrameSample,
    "mm_resize_stats" -> mmResizeStats,
    "mm_features" -> mmFeatures,
    "mm_phash_pairs" -> mmPhashPairs,
    "mm_phash_histogram" -> mmPhashHistogram,
  )

  private val re = Tokenizer.DuckDbTokenRegex
  private val stopList = TextAnalysis.Stopwords.mkString("['", "','", "']")

  /** j·GOLDEN (mod 2^64) — the hash-family offset of
    * [[graft.functions.HashFamily]], over the range column `j`. */
  private val CmsJk =
    "CAST((CAST(j AS HUGEINT) * 11400714819323198485::HUGEINT) % " +
      "18446744073709551616::HUGEINT AS UBIGINT)"

  /** Per-doc distinct 3-gram shingles unnested against `source`, over a
    * CTE `t (source, ts)` — the one shingle definition shared by the
    * diversity and overlap oracles (the DedupQueries.ShingleCte rule
    * keyed by source instead of doc). */
  private def srcGramSubquery: String =
    """SELECT source, unnest(CASE WHEN len(ts) >= 3 THEN list_distinct(
      |    [array_to_string(list_slice(ts, i, i + 2), ' ')
      |     for i in range(1, len(ts) - 2 + 1)]) ELSE [] END) AS g
      |  FROM t""".stripMargin

  /** Shared interpolated-bigram-LM CTEs ending in
    * `blp (doc_id, n_bigrams, avg_logprob)` — the [[bigramLogprob]]
    * replay, reused by the perplexity-bucket oracle. MATERIALIZED so a
    * downstream join cannot re-expand the model subtree. */
  /** Shared per-doc bigram-count CTEs ending in `btf (doc_id, bg, tf)` —
    * the `TextFunctions.bigram_counts` replay, shared by the
    * interpolated and Kneser-Ney LM oracles. */
  private def bigramCountCtes: String =
    s"""toks AS (SELECT doc_id, regexp_extract_all(text, '$re') AS ts
       |  FROM documents),
       |bigp AS (SELECT doc_id, w1 || ' ' || w2 AS bg FROM (
       |  SELECT doc_id, unnest(ts[1:greatest(len(ts) - 1, 0)]) AS w1,
       |         unnest(ts[2:len(ts)]) AS w2 FROM toks)),
       |btf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf
       |  FROM bigp GROUP BY 1, 2)""".stripMargin

  private def bigramLogprobCtes: String =
    s"""$bigramCountCtes,
       |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(ts) AS term FROM toks) GROUP BY 1),
       |ut AS (SELECT sum(cnt) AS utotal FROM uni),
       |bm AS (SELECT bg, sum(tf) AS bcnt FROM btf GROUP BY 1),
       |model AS (SELECT bm.bg,
       |    CAST(0.75 AS DOUBLE)
       |      * (CAST(bm.bcnt AS DOUBLE) / CAST(u1.cnt AS DOUBLE))
       |    + CAST(0.25 AS DOUBLE)
       |      * (CAST(u2.cnt AS DOUBLE) / CAST(ut.utotal AS DOUBLE)) AS p
       |  FROM bm
       |  JOIN uni u1 ON string_split(bm.bg, ' ')[1] = u1.term
       |  JOIN uni u2 ON string_split(bm.bg, ' ')[2] = u2.term
       |  CROSS JOIN ut),
       |s AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams
       |  FROM btf GROUP BY 1),
       |l AS (SELECT t.doc_id,
       |    list(struct_pack(tf := t.tf, p := m.p) ORDER BY t.bg) AS xs
       |  FROM btf t JOIN model m USING (bg) GROUP BY 1),
       |blp AS MATERIALIZED (SELECT l.doc_id, s.n_bigrams,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(xs, x -> CAST(x.tf AS DOUBLE) * ln(x.p))),
       |      (a, b) -> a + b)
       |    / CAST(s.n_bigrams AS DOUBLE), 5) AS avg_logprob
       |FROM l JOIN s USING (doc_id))""".stripMargin

  /** Shared BM25 CTEs (toks/tf/len/stats/dft/scored) — used by the
    * ta_bm25 oracle and reused as ranker A of the RRF fusion oracle. */
  private def bm25Ctes: String =
    s"""toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '$re'))
       |    AS term FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf
       |  FROM toks GROUP BY 1, 2),
       |len AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |    CAST(sum(len) AS DOUBLE) / count(*) AS avgdl FROM len),
       |dft AS (SELECT term, count(*) AS df FROM tf
       |  WHERE term IN ('join', 'filter', 'vector') GROUP BY 1),
       |scored AS (SELECT t.doc_id, t.term,
       |    ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |        / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |      * CAST(t.tf AS DOUBLE)
       |      / (CAST(t.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
       |          + 0.75 * CAST(l.len AS DOUBLE) / avgdl)) AS s
       |  FROM tf t JOIN len l USING (doc_id) JOIN dft USING (term)
       |  CROSS JOIN stats)""".stripMargin

  private def bm25Select: String =
    """SELECT doc_id, round(list_reduce(list_prepend(0.0,
      |    list(s ORDER BY term)), (a, v) -> a + v), 6) AS bm25
      |FROM scored GROUP BY doc_id""".stripMargin

  /** DuckDB replay of [[rrfFusion]]: ranker A = the shared BM25 CTEs;
    * ranker B = TF-IDF cosine (idf = ln(n/df), full-vector doc norms,
    * every float fold term-ordered like the Spark side); both rankers'
    * top-100 cut on (rounded score DESC, doc_id), RRF k=60, fused
    * top-20 on (rounded rrf DESC, doc_id). */
  private def rrfOracle: String =
    s"""WITH $bm25Ctes,
       |bmq AS MATERIALIZED ($bm25Select),
       |dfall AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |w AS MATERIALIZED (SELECT tf.doc_id, tf.term,
       |    CAST(tf.tf AS DOUBLE)
       |      * ln(CAST((SELECT n_docs FROM stats) AS DOUBLE) / dfall.df) AS w
       |  FROM tf JOIN dfall USING (term)),
       |norms AS (SELECT doc_id, sqrt(list_reduce(list_prepend(0.0,
       |    list(w * w ORDER BY term)), (a, x) -> a + x)) AS nrm
       |  FROM w GROUP BY doc_id),
       |qidf AS (SELECT term,
       |    ln(CAST((SELECT n_docs FROM stats) AS DOUBLE) / df) AS idf
       |  FROM dfall WHERE term IN ('join', 'filter', 'vector')),
       |qn AS (SELECT sqrt(list_reduce(list_prepend(0.0,
       |    list(idf * idf ORDER BY term)), (a, x) -> a + x)) AS qn FROM qidf),
       |cosq AS MATERIALIZED (SELECT w.doc_id,
       |    round(list_reduce(list_prepend(0.0,
       |        list(w.w * q.idf ORDER BY w.term)), (a, x) -> a + x)
       |      / (any_value(n.nrm) * (SELECT qn FROM qn)), 6) AS cos
       |  FROM w JOIN qidf q USING (term)
       |  JOIN norms n ON n.doc_id = w.doc_id
       |  GROUP BY w.doc_id),
       |ra AS (SELECT doc_id, CAST(row_number() OVER
       |    (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_bm25
       |  FROM (SELECT * FROM bmq ORDER BY bm25 DESC, doc_id LIMIT 100)),
       |rb AS (SELECT doc_id, CAST(row_number() OVER
       |    (ORDER BY cos DESC, doc_id) AS INT) AS rank_cos
       |  FROM (SELECT * FROM cosq ORDER BY cos DESC, doc_id LIMIT 100)),
       |f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
       |    coalesce(rank_bm25, 0) AS rank_bm25,
       |    coalesce(rank_cos, 0) AS rank_cos,
       |    round(coalesce(1.0 / (60.0 + rank_bm25), 0.0)
       |        + coalesce(1.0 / (60.0 + rank_cos), 0.0), 6) AS rrf
       |  FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id)
       |SELECT doc_id, rank_bm25, rank_cos, rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
       |    AS fused_rank
       |FROM (SELECT * FROM f ORDER BY rrf DESC, doc_id LIMIT 20)""".stripMargin

  /** DuckDB replay of [[hybridRelated]]: dense ranker = the float-exact
    * cosine fold over the raw embeddings (the sim_topk_brute
    * discipline — rank on the UNROUNDED sim, cand tiebreak); lexical
    * ranker = tfidf cosine vs doc 0's vector with term-ordered folds;
    * RRF fusion identical to [[rrfOracle]]. */
  private def hybridOracle: String = {
    def cosFold(a: String, b: String): String =
      s"""(list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)
         | / (sqrt(list_reduce(list_prepend(0.0, list_transform($a,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))
         |    * sqrt(list_reduce(list_prepend(0.0, list_transform($b,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))))"""
        .stripMargin.replaceAll("\n", " ")
    s"""WITH ds AS MATERIALIZED (
       |  SELECT e.vec_id AS doc_id,
       |    ${cosFold("q.embedding", "e.embedding")} AS sim
       |  FROM embeddings q, embeddings e
       |  WHERE q.vec_id = 0 AND e.vec_id <> 0),
       |ra AS (SELECT doc_id, CAST(row_number() OVER
       |    (ORDER BY sim DESC, doc_id) AS INT) AS rank_dense
       |  FROM (SELECT * FROM ds ORDER BY sim DESC, doc_id LIMIT 100)),
       |toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '$re'))
       |    AS term FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf
       |  FROM toks GROUP BY 1, 2),
       |nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd
       |  FROM (SELECT DISTINCT doc_id FROM tf)),
       |dfall AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |w AS MATERIALIZED (SELECT tf.doc_id, tf.term,
       |    CAST(tf.tf AS DOUBLE) * ln((SELECT nd FROM nd) / dfall.df) AS w
       |  FROM tf JOIN dfall USING (term)),
       |norms AS MATERIALIZED (SELECT doc_id,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list(w * w ORDER BY term)), (a, x) -> a + x)) AS nrm
       |  FROM w GROUP BY doc_id),
       |w0 AS (SELECT term, w AS w0 FROM w WHERE doc_id = 0),
       |n0 AS (SELECT nrm AS n0 FROM norms WHERE doc_id = 0),
       |dt AS (SELECT w.doc_id, list_reduce(list_prepend(0.0,
       |      list(w.w * w0.w0 ORDER BY w.term)), (a, x) -> a + x) AS dot
       |  FROM w JOIN w0 USING (term) WHERE w.doc_id <> 0
       |  GROUP BY w.doc_id),
       |cosq AS (SELECT dt.doc_id,
       |    round(dt.dot / (norms.nrm * (SELECT n0 FROM n0)), 6) AS cos
       |  FROM dt JOIN norms ON dt.doc_id = norms.doc_id),
       |rb AS (SELECT doc_id, CAST(row_number() OVER
       |    (ORDER BY cos DESC, doc_id) AS INT) AS rank_lex
       |  FROM (SELECT * FROM cosq ORDER BY cos DESC, doc_id LIMIT 100)),
       |f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
       |    coalesce(rank_dense, 0) AS rank_dense,
       |    coalesce(rank_lex, 0) AS rank_lex,
       |    round(coalesce(1.0 / (60.0 + rank_dense), 0.0)
       |        + coalesce(1.0 / (60.0 + rank_lex), 0.0), 6) AS rrf
       |  FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id)
       |SELECT doc_id, rank_dense, rank_lex, rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
       |    AS fused_rank
       |FROM (SELECT * FROM f ORDER BY rrf DESC, doc_id LIMIT 20)""".stripMargin
  }

  /** Shared CTE prefix replaying [[graft.operators.Bpe.learn]] with one
    * generated block per round (the kmeans-oracle discipline): yields
    * `m1..mK` (the rules) and `v1..vK` (the merged vocabularies).
    * The greedy left-to-right merge (overlapping occurrences are not
    * re-merged: `a a a` + (a,a) -> `[aa, a]`) is expressed as
    * gaps-and-islands over the match positions: consecutive matches
    * form an island and every ODD position within its island merges —
    * exactly the scan's skip-after-merge rule. Positions following a
    * selected merge are dropped; everything else passes through. All
    * CTEs are MATERIALIZED (each round references its predecessor
    * twice — default inlining re-expands the whole prefix per
    * reference, doubling work per round). */
  private def bpeCtes: String = {
    def roundCtes(r: Int): String = {
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT a, b, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT f, syms[i] AS a, syms[i + 1] AS b
         |        FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i
         |              FROM $prev))
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT a, b, c FROM p$r
         |  ORDER BY c DESC, a, b LIMIT 1),
         |pos$r AS MATERIALIZED (SELECT word, f, syms,
         |    unnest(range(1, len(syms) + 1)) AS i FROM $prev),
         |hit$r AS MATERIALIZED (SELECT p.word, p.i FROM pos$r p, m$r m
         |  WHERE p.i < len(p.syms)
         |    AND p.syms[p.i] = m.a AND p.syms[p.i + 1] = m.b),
         |sel$r AS MATERIALIZED (SELECT word, i FROM (
         |    SELECT word, i,
         |      row_number() OVER (PARTITION BY word, isl ORDER BY i) AS rn
         |    FROM (SELECT word, i,
         |            i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl
         |          FROM hit$r))
         |  WHERE rn % 2 = 1),
         |v$r AS MATERIALIZED (SELECT p.word, any_value(p.f) AS f,
         |    list(CASE WHEN s.i IS NOT NULL THEN m.a || m.b
         |              ELSE p.syms[p.i] END ORDER BY p.i) AS syms
         |  FROM pos$r p
         |  CROSS JOIN m$r m
         |  LEFT JOIN sel$r s ON s.word = p.word AND s.i = p.i
         |  LEFT JOIN sel$r d ON d.word = p.word AND d.i = p.i - 1
         |  WHERE d.i IS NULL
         |  GROUP BY p.word)""".stripMargin
    }
    val rounds = (1 to BpeRounds).map(roundCtes).mkString(",\n")
    s"""toks AS (SELECT unnest(regexp_extract_all(text, '$re')) AS word
       |  FROM documents),
       |words AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS f
       |  FROM toks GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT word, f,
       |    list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
       |  FROM words),
       |$rounds""".stripMargin
  }

  private def bpeMergesOracle: String = {
    val out = (1 to BpeRounds).map(r =>
      s"SELECT $r AS merge_rank, a AS sym_a, b AS sym_b, c AS pair_count FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeCtes
       |$out""".stripMargin
  }

  /** DuckDB replay of [[bpeEncode]]: the shared per-round CTEs yield the
    * final vocabulary `v$BpeRounds`; doc tokens join it on word and the
    * per-doc subword count is the sum of symbol counts. */
  private def bpeEncodeOracle: String =
    s"""WITH $bpeCtes,
       |d AS (SELECT doc_id, unnest(regexp_extract_all(text, '$re')) AS word
       |  FROM documents)
       |SELECT d.doc_id, count(*) AS n_tokens,
       |  CAST(sum(len(v.syms)) AS BIGINT) AS n_subwords,
       |  round(CAST(sum(len(v.syms)) AS DOUBLE) / count(*), 6)
       |    AS subwords_per_token
       |FROM d JOIN v$BpeRounds v USING (word)
       |GROUP BY d.doc_id""".stripMargin

  /** Shared DuckDB CTEs computing the per-doc quality features (`f`) —
    * replayed by ta_quality and as the difficulty signal of
    * ta_curriculum_shards. */
  private[graft] def qualityTokenCte: String =
    s"""t AS (SELECT doc_id, regexp_extract_all(text, '$re') AS ts
       |           FROM documents)""".stripMargin

  private[graft] def qualityFeatureCtes: String =
    s"""$qualityTokenCte,
       |f AS (SELECT doc_id,
       |  len(ts) AS n_tokens,
       |  CASE WHEN len(ts) > 0 THEN len(list_filter(ts,
       |    t -> list_contains($stopList, t))) * 1.0 / len(ts) ELSE 0.0 END AS stop_ratio,
       |  CASE WHEN len(ts) > 0 THEN len(list_filter(ts,
       |    t -> regexp_matches(t, '^[^\\p{L}\\p{N}]$$'))) * 1.0 / len(ts) ELSE 0.0 END AS punct_ratio,
       |  CASE WHEN len(ts) > 0 THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(ts, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) * 1.0 / len(ts)
       |  ELSE 0.0 END AS mean_len
       |  FROM t)""".stripMargin

  /** DuckDB replay of [[qualityLr]] — one CTE triple per GD round
    * (errors, two-level gradient folds, weight update), the BPE/kmeans
    * generated-CTE discipline. Every operation is IEEE-exact (softsign
    * link, fixed fold orders), so all [[LrIters]] rounds and the final
    * scores are bit-identical to the Spark run. */
  private def qualityLrOracle: String = {
    val z = "w.b + w.w1 * d.x1 + w.w2 * d.x2 + w.w3 * d.x3"
    def docFold(e: String) =
      s"list_reduce(list_prepend(0.0, list($e ORDER BY doc_id)), (a, x) -> a + x)"
    def blkFold(c: String) =
      s"list_reduce(list_prepend(0.0, list($c ORDER BY blk)), (a, x) -> a + x)"
    val gs = Seq("err", "err * x1", "err * x2", "err * x3")
    val rounds = (1 to LrIters).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      val bfolds = gs.zipWithIndex
        .map { case (g, j) => s"${docFold(g)} AS g$j" }.mkString(",\n    ")
      val upd = Seq("b", "w1", "w2", "w3").zipWithIndex.map { case (wn, j) =>
        s"w.$wn - $LrRate * ((SELECT ${blkFold(s"g$j")} FROM b$i) / n.n) AS $wn"
      }.mkString(",\n    ")
      s"""e$i AS (SELECT d.doc_id, d.x1, d.x2, d.x3,
         |    0.5 * (1.0 + ($z) / (1.0 + abs($z))) - d.y AS err
         |  FROM d CROSS JOIN $prev w),
         |b$i AS MATERIALIZED (SELECT doc_id // ${LinearModel.BlockSize} AS blk,
         |    $bfolds
         |  FROM e$i GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT
         |    $upd
         |  FROM $prev w CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $qualityFeatureCtes,
       |d AS MATERIALIZED (SELECT doc_id,
       |    round(least(n_tokens / 500.0, 1.0), 4) AS x1,
       |    round(stop_ratio, 4) * 10.0 AS x2,
       |    round(mean_len, 4) / 8.0 AS x3,
       |    CASE WHEN $qualityScoreSql >= $LrLabelThreshold
       |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM f),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
       |w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS w1,
       |       CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3),
       |$rounds
       |SELECT doc_id, round(p, 4) AS p,
       |  CASE WHEN p > 0.5 THEN 1 ELSE 0 END AS pred,
       |  CAST(y AS INT) AS label
       |FROM (SELECT d.doc_id, d.y,
       |    0.5 * (1.0 + ($z) / (1.0 + abs($z))) AS p
       |  FROM d CROSS JOIN w$LrIters w)""".stripMargin
  }

  /** DuckDB replay of [[unigramSegment]] — the deepest generated-CTE
    * oracle in the catalog: per EM round, a [[UniMaxWordLen]]-step
    * Viterbi DP chain (each position's best (score, length) via a
    * row_number over `prev.dp * pr.p DESC, l DESC` — exactly the
    * kernel's tie order) followed by a backtrace chain re-emitting the
    * chosen pieces, then the integer usage aggregate and the
    * probability re-division. All arithmetic is +,*,/ on doubles
    * produced by integer divisions, so every round is bit-identical to
    * the Spark run. */
  private def unigramOracle: String = {
    s"""WITH $unigramChainCtes
       |SELECT w.word AS word, w.wc AS wc,
       |  array_to_string(list(piece ORDER BY startpos), ' ') AS segmentation,
       |  CAST(count(*) AS INT) AS n_pieces
       |FROM piecesr2 JOIN w USING (word)
       |GROUP BY w.word, w.wc""".stripMargin
  }

  /** The per-round CTE generators of the unigram replay. */
  private def unigramChainBuilders
      : ((String, String) => String, String => String) = {
    // the generated text hardcodes the two-round chain (r1 -> usage -> r2)
    require(UniRounds == 2, "unigram oracle is generated for exactly 2 rounds")
    // DP chain for one EM round: d<tag><i> holds position i's best
    // (dp, l) per word; predecessors looked up from the last
    // UniMaxPiece position tables (or the pos-0 base when l == i).
    def dpChain(tag: String, prTable: String): String = {
      val base = s"""b$tag AS (SELECT word, 0 AS pos,
                    |  CAST(1.0 AS DOUBLE) AS dp FROM w)""".stripMargin
      val ds = (1 to UniMaxWordLen).map { i =>
        val lMax = math.min(UniMaxPiece, i)
        val prevSources = ((i - lMax) to (i - 1)).map { p =>
          if (p == 0) s"SELECT word, pos, dp FROM b$tag"
          else s"SELECT word, pos, dp FROM d$tag$p"
        }.mkString(" UNION ALL ")
        s"""d$tag$i AS MATERIALIZED (
           |  SELECT word, $i AS pos, dp, l FROM (
           |    SELECT c.word, prev.dp * pr.p AS dp, c.l,
           |      row_number() OVER (PARTITION BY c.word
           |        ORDER BY prev.dp * pr.p DESC, c.l DESC) AS rk
           |    FROM (SELECT word, unnest(range(1, $lMax + 1)) AS l FROM w
           |          WHERE length(word) >= $i) c
           |    JOIN ($prevSources) prev
           |      ON prev.word = c.word AND prev.pos = $i - c.l
           |    JOIN $prTable pr
           |      ON pr.piece = substr(c.word, $i - c.l + 1, c.l)
           |  ) WHERE rk = 1)""".stripMargin
      }
      (base +: ds).mkString(",\n")
    }
    // backtrace: from pos = length(word), repeatedly pop the chosen
    // piece length; each step emits one piece with its start position
    def btChain(tag: String): String = {
      val all = (1 to UniMaxWordLen)
        .map(i => s"SELECT word, pos, l FROM d$tag$i")
        .mkString(" UNION ALL ")
      val steps = (1 to UniMaxWordLen).map { j =>
        s"""s$tag$j AS MATERIALIZED (SELECT s.word, s.pos - a.l AS pos,
           |    substr(s.word, s.pos - a.l + 1, a.l) AS piece,
           |    s.pos - a.l + 1 AS startpos
           |  FROM s$tag${j - 1} s JOIN dall$tag a
           |    ON a.word = s.word AND a.pos = s.pos
           |  WHERE s.pos > 0)""".stripMargin
      }
      val union = (1 to UniMaxWordLen)
        .map(j => s"SELECT word, startpos, piece FROM s$tag$j")
        .mkString(" UNION ALL ")
      (s"dall$tag AS MATERIALIZED ($all)" +:
        s"s${tag}0 AS (SELECT word, length(word) AS pos FROM w)" +:
        steps :+ s"pieces$tag AS MATERIALIZED ($union)").mkString(",\n")
    }
    (dpChain _, btChain _)
  }

  /** Shared CTE body of the unigram-EM replay (seed inventory, two DP +
    * backtrace chains, the usage re-estimation) — composed by
    * [[unigramOracle]] and the fertility replay. */
  private lazy val unigramChainCtes: String = {
    val (dpChain, btChain) = unigramChainBuilders
    s"""t AS (SELECT regexp_extract_all(text, '$re') AS ts
       |           FROM documents),
       |w AS MATERIALIZED (SELECT word, count(*) AS wc
       |  FROM (SELECT unnest(ts) AS word FROM t) GROUP BY 1
       |  HAVING length(word) <= $UniMaxWordLen),
       |occ AS (SELECT wc, unnest(flatten(list_transform(
       |    range(1, length(word) + 1), i -> list_transform(
       |      range(1, least($UniMaxPiece, length(word) - i + 1) + 1),
       |      l -> substr(word, i, l))))) AS piece
       |  FROM w),
       |seedf AS MATERIALIZED (SELECT piece, CAST(sum(wc) AS BIGINT) AS freq
       |  FROM occ GROUP BY 1),
       |sel AS MATERIALIZED (
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq, row_number() OVER
       |      (ORDER BY freq DESC, piece ASC) AS rk
       |    FROM seedf WHERE length(piece) >= 2) WHERE rk <= $UniTopV
       |  UNION ALL
       |  SELECT piece, freq FROM seedf WHERE length(piece) = 1),
       |p0 AS MATERIALIZED (SELECT piece, CAST(freq AS DOUBLE)
       |    / (SELECT CAST(sum(freq) AS DOUBLE) FROM sel) AS p FROM sel),
       |${dpChain("r1", "p0")},
       |${btChain("r1")},
       |u1 AS MATERIALIZED (SELECT piece, CAST(sum(w.wc) AS BIGINT) AS u
       |  FROM piecesr1 JOIN w USING (word) GROUP BY 1),
       |p1 AS MATERIALIZED (SELECT piece, CAST(u AS DOUBLE)
       |    / (SELECT CAST(sum(u) AS DOUBLE) FROM u1) AS p FROM u1),
       |${dpChain("r2", "p1")},
       |${btChain("r2")}""".stripMargin
  }

  /** The composite quality score over the `f` feature columns (same
    * weights as [[TextAnalysis.qualityFeatures]]). */
  private[queries] def qualityScoreSql: String =
    """least(round(
      |    least(n_tokens / 500.0, 1.0) * 0.3
      |    + stop_ratio * 10.0 * 0.3
      |    + (1.0 - punct_ratio) * 0.2
      |    + (CASE WHEN mean_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.2,
      |    4), 1.0)""".stripMargin

  private val langCases = {
    // lexicographic lang order gives the tie-break: first max wins
    val langs = TextAnalysis.LangMarkers.toSeq.sortBy(_._1)
    val hitExprs = langs.map { case (lang, markers) =>
      lang -> s"len(list_filter(ts, t -> list_contains(${markers.mkString("['", "','", "']")}, t)))"
    }
    val mx = hitExprs.map(_._2).mkString("greatest(", ", ", ")")
    val cases = hitExprs.map { case (lang, e) => s"WHEN $e = mx THEN '$lang'" }
      .mkString(" ")
    (hitExprs, mx, cases)
  }

  val oracleSql: Map[String, String] = Map(
    // DuckDB's own jaccard builtin over the same literals — the engine
    // kernel vs an independent byte-set implementation on real data
    "ta_byte_jaccard" ->
      s"""SELECT doc_id, lang,
         |  round(jaccard(text, '$AlphaRef'), 6) AS alpha_jaccard,
         |  round(jaccard(text, '$DigitRef'), 6) AS digit_jaccard
         |FROM documents""".stripMargin,
    // Exact-count replay of the sqrt-temperature mix: same ordered
    // sqrt fold over the bounded source set, pointwise divisions
    "ta_mix_sqrt" ->
      s"""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '$re'))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY 1),
         |d AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
         |    (a, x) -> a + x) AS d,
         |  CAST(sum(n_tokens) AS BIGINT) AS total FROM per)
         |SELECT source, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 6)
         |    AS natural_share,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / d, 6) AS weight,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / d
         |    / (CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)), 6)
         |    AS boost
         |FROM per, d""".stripMargin,
    // Positional n-gram replay of the Gopher repetition signals: same
    // tokenizer, same union-of-positions coverage, same (-count, gram)
    // struct-min argmax tie-break.
    "ta_repetition" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '$re') AS ts
         |  FROM documents),
         |b AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n
         |  FROM t WHERE len(ts) >= 5),
         |g2 AS (SELECT doc_id,
         |    unnest([array_to_string(list_slice(ts, i, i + 1), ' ')
         |      for i in range(1, n)]) AS g,
         |    unnest(range(1, n)) AS pos
         |  FROM b),
         |c2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM g2 GROUP BY 1, 2),
         |top2 AS (SELECT doc_id, min({'negc': -c, 'g': g}) AS t
         |  FROM c2 GROUP BY 1),
         |cov2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS cov FROM (
         |    SELECT DISTINCT g2.doc_id, g2.pos + r.d AS p
         |    FROM g2 JOIN top2 USING (doc_id), range(2) r(d)
         |    WHERE g2.g = top2.t.g) GROUP BY 1),
         |g5 AS (SELECT doc_id,
         |    unnest([array_to_string(list_slice(ts, i, i + 4), ' ')
         |      for i in range(1, n - 3)]) AS g,
         |    unnest(range(1, n - 3)) AS pos
         |  FROM b),
         |d5 AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2
         |  HAVING count(*) >= 2),
         |cov5 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS cov FROM (
         |    SELECT DISTINCT g5.doc_id, g5.pos + r.d AS p
         |    FROM g5 JOIN d5 USING (doc_id, g), range(5) r(d)) GROUP BY 1)
         |SELECT b.doc_id, b.n AS n_tokens, top2.t.g AS top2_gram,
         |  CAST(-top2.t.negc AS BIGINT) AS top2_n,
         |  round(CAST(coalesce(cov2.cov, 0) AS DOUBLE)
         |    / CAST(b.n AS DOUBLE), 6) AS top2_frac,
         |  round(CAST(coalesce(cov5.cov, 0) AS DOUBLE)
         |    / CAST(b.n AS DOUBLE), 6) AS dup5_frac
         |FROM b JOIN top2 USING (doc_id)
         |LEFT JOIN cov2 USING (doc_id)
         |LEFT JOIN cov5 USING (doc_id)""".stripMargin,
    // Counter-level replay of the engine CMS ([[cmsCounts]]): XXH64 each
    // DISTINCT term once (the shared CTE chain), derive the CmsDepth row
    // hashes with the staged fmix64, rebuild the (r, c) counter table
    // from exact term counts, and probe it. Geometry constants
    // interpolated from the same Scala vals the Spark side reads.
    "ta_cms_counts" ->
      s"""WITH tok AS (SELECT unnest(regexp_extract_all(text, '$re')) AS t
         |  FROM documents),
         |tc AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
         |td AS (SELECT 0 AS doc_id, t FROM tc),
         |${graft.core.XxHashSql.hash64Ctes("td", "th", "cmx")},
         |fam0 AS (SELECT th.t, j, xor(h64, $CmsJk) AS h
         |  FROM th CROSS JOIN (SELECT unnest(range($CmsDepth)) AS j)),
         |${graft.core.XxHashSql.fmixCtes("cf", "fam0", "famf", Seq("t", "j"))},
         |cells AS (SELECT f.j AS r,
         |    CAST(f.h & ${CmsWidth - 1}::UBIGINT AS BIGINT) AS c,
         |    CAST(sum(tc.n) AS BIGINT) AS cnt
         |  FROM famf f JOIN tc ON f.t = tc.t GROUP BY 1, 2),
         |pd AS (SELECT 0 AS doc_id, unnest($stopList) AS t),
         |${graft.core.XxHashSql.hash64Ctes("pd", "ph", "cpx")},
         |pf0 AS (SELECT ph.t, j, xor(h64, $CmsJk) AS h
         |  FROM ph CROSS JOIN (SELECT unnest(range($CmsDepth)) AS j)),
         |${graft.core.XxHashSql.fmixCtes("cp", "pf0", "pff", Seq("t", "j"))},
         |pcells AS (SELECT t AS term, j AS r,
         |    CAST(h & ${CmsWidth - 1}::UBIGINT AS BIGINT) AS c FROM pff)
         |SELECT p.term, min(coalesce(cl.cnt, 0)) AS est
         |FROM pcells p LEFT JOIN cells cl ON p.r = cl.r AND p.c = cl.c
         |GROUP BY p.term""".stripMargin,
    "ta_simpson_diversity" ->
      s"""WITH cnts AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT source,
         |      unnest(regexp_extract_all(text, '$re')) AS term
         |    FROM documents)
         |  GROUP BY 1, 2),
         |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
         |    CAST(sum(n) AS BIGINT) AS n_tokens,
         |    sum(n * (n - 1)) AS num
         |  FROM cnts GROUP BY 1)
         |SELECT source, vocab, n_tokens,
         |  round(CAST(num AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
         |    * CAST(n_tokens - 1 AS DOUBLE)), 8) AS simpson,
         |  round((CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
         |    / CAST(num AS DOUBLE), 4) AS effective_vocab
         |FROM ag""".stripMargin,
    "ta_source_term_js" ->
      s"""WITH cnts AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT source,
         |      unnest(regexp_extract_all(text, '$re')) AS term
         |    FROM documents)
         |  GROUP BY 1, 2),
         |topv AS (SELECT term FROM (
         |    SELECT term, row_number() OVER
         |      (ORDER BY sum(n) DESC, term DESC) AS rk
         |    FROM cnts GROUP BY term) WHERE rk <= $TermJsTopV),
         |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot
         |  FROM cnts GROUP BY 1),
         |intop AS (SELECT c.source, c.term, c.n
         |  FROM cnts c JOIN topv USING (term)),
         |oov AS (SELECT t.source, ' OOV' AS term,
         |    t.tot - CAST(coalesce(sum(i.n), 0) AS BIGINT) AS n
         |  FROM tot t LEFT JOIN intop i ON t.source = i.source
         |  GROUP BY t.source, t.tot),
         |buckets AS (SELECT term FROM topv UNION ALL SELECT ' OOV'),
         |grid AS (SELECT t.source, b.term,
         |    CAST(coalesce(u.n, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
         |  FROM tot t CROSS JOIN buckets b
         |  LEFT JOIN (SELECT * FROM intop UNION ALL SELECT * FROM oov) u
         |    ON u.source = t.source AND u.term = b.term),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
         |    a.term,
         |    ((CASE WHEN a.p > 0
         |        THEN a.p * ln(a.p / ((a.p + b.p) / 2)) ELSE 0.0 END)
         |     + (CASE WHEN b.p > 0
         |        THEN b.p * ln(b.p / ((a.p + b.p) / 2)) ELSE 0.0 END)) / 2
         |      AS c
         |  FROM grid a JOIN grid b
         |    ON a.term = b.term AND a.source < b.source)
         |SELECT source_a, source_b,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(c ORDER BY term)), (x, y) -> x + y), 6) AS js
         |FROM pairs GROUP BY 1, 2""".stripMargin,
    "ta_heaps_law" ->
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         |tok AS (SELECT CAST(floor(doc_id * 10.0 / (mx + 1)) AS INT) AS d,
         |    lang, unnest(regexp_extract_all(text, '$re')) AS term
         |  FROM documents, mx),
         |tkc AS (SELECT lang, d, CAST(count(*) AS BIGINT) AS tk
         |  FROM tok GROUP BY 1, 2),
         |fdc AS (SELECT lang, term, min(d) AS d FROM tok GROUP BY 1, 2),
         |nvc AS (SELECT lang, d, CAST(count(*) AS BIGINT) AS nv
         |  FROM fdc GROUP BY 1, 2),
         |cum AS (SELECT t.lang, t.d,
         |    CAST(sum(t.tk) OVER (PARTITION BY t.lang ORDER BY t.d
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         |    CAST(sum(coalesce(v.nv, 0)) OVER (PARTITION BY t.lang
         |      ORDER BY t.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv
         |  FROM tkc t LEFT JOIN nvc v ON t.lang = v.lang AND t.d = v.d),
         |pt AS (SELECT lang, d, ln(CAST(cn AS DOUBLE)) AS lx,
         |    ln(CAST(cv AS DOUBLE)) AS ly FROM cum),
         |ag AS (SELECT lang, CAST(count(*) AS DOUBLE) AS m,
         |    list_reduce(list_prepend(0.0, list(lx ORDER BY d)),
         |      (a, x) -> a + x) AS sx,
         |    list_reduce(list_prepend(0.0, list(ly ORDER BY d)),
         |      (a, x) -> a + x) AS sy,
         |    list_reduce(list_prepend(0.0, list(lx * lx ORDER BY d)),
         |      (a, x) -> a + x) AS sxx,
         |    list_reduce(list_prepend(0.0, list(ly * ly ORDER BY d)),
         |      (a, x) -> a + x) AS syy,
         |    list_reduce(list_prepend(0.0, list(lx * ly ORDER BY d)),
         |      (a, x) -> a + x) AS sxy
         |  FROM pt GROUP BY 1)
         |SELECT lang, CAST(m AS BIGINT) AS n_points,
         |  round(CASE WHEN m * sxx - sx * sx <> 0
         |    THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6) AS beta,
         |  round(CASE WHEN m * sxx - sx * sx <> 0
         |    THEN (sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m
         |    END, 6) AS ln_k,
         |  round(CASE WHEN m * sxx - sx * sx <> 0 AND m * syy - sy * sy <> 0
         |    THEN (m * sxy - sx * sy) * (m * sxy - sx * sy)
         |      / ((m * sxx - sx * sx) * (m * syy - sy * sy)) END, 6) AS r2
         |FROM ag""".stripMargin,
    "ta_vocab_richness" ->
      s"""WITH toks AS (SELECT lang,
         |    unnest(regexp_extract_all(text, '$re')) AS term
         |  FROM documents),
         |tc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS n
         |  FROM toks GROUP BY 1, 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE), 6) AS unseen_mass,
         |  round(CAST(count(*) AS DOUBLE)
         |    + CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
         |        * (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE)
         |      / CAST(2 * (sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1)
         |        AS DOUBLE), 4) AS chao1
         |FROM tc GROUP BY lang""".stripMargin,
    "ta_zipf_fit" ->
      s"""WITH toks AS (SELECT lang,
         |    unnest(regexp_extract_all(text, '${Tokenizer.DuckDbTokenRegex}'))
         |      AS term
         |  FROM documents),
         |cnt AS (SELECT lang, term, count(*) AS n FROM toks GROUP BY 1, 2),
         |rk AS (SELECT lang, n, row_number() OVER (PARTITION BY lang
         |    ORDER BY n DESC, term DESC) AS r
         |  FROM cnt QUALIFY r <= $ZipfTopR),
         |pt AS (SELECT lang, r, ln(CAST(r AS DOUBLE)) AS lx,
         |    ln(CAST(n AS DOUBLE)) AS ly
         |  FROM rk),
         |ag AS (SELECT lang, CAST(count(*) AS DOUBLE) AS m,
         |  list_reduce(list_prepend(0.0, list(lx ORDER BY r)),
         |    (a, x) -> a + x) AS sx,
         |  list_reduce(list_prepend(0.0, list(ly ORDER BY r)),
         |    (a, x) -> a + x) AS sy,
         |  list_reduce(list_prepend(0.0, list(lx * lx ORDER BY r)),
         |    (a, x) -> a + x) AS sxx,
         |  list_reduce(list_prepend(0.0, list(ly * ly ORDER BY r)),
         |    (a, x) -> a + x) AS syy,
         |  list_reduce(list_prepend(0.0, list(lx * ly ORDER BY r)),
         |    (a, x) -> a + x) AS sxy
         |  FROM pt GROUP BY 1)
         |SELECT lang, CAST(m AS BIGINT) AS n_terms,
         |  round(CASE WHEN m * sxx - sx * sx <> 0
         |    THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6)
         |    AS slope,
         |  round(CASE WHEN m * sxx - sx * sx <> 0
         |    THEN (sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m
         |    END, 6) AS intercept,
         |  round(CASE WHEN m * sxx - sx * sx <> 0 AND m * syy - sy * sy <> 0
         |    THEN (m * sxy - sx * sy) * (m * sxy - sx * sy)
         |      / ((m * sxx - sx * sx) * (m * syy - sy * sy)) END, 6) AS r2
         |FROM ag""".stripMargin,
    "ta_charset_quality" ->
      s"""WITH d AS (SELECT doc_id, source, lang,
        |    CAST(strlen(text) AS DOUBLE) AS bytes,
        |    CAST(length(text) AS DOUBLE) AS chars,
        |    CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |      AS nd,
        |    CAST(length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
        |      AS DOUBLE) AS nw
        |  FROM documents),
        |pd AS (SELECT doc_id, source, lang,
        |    CASE WHEN bytes > 0 THEN (bytes - chars) / bytes
        |      ELSE 0.0 END AS mb_ratio,
        |    CASE WHEN chars > 0 THEN (chars - nd) / chars
        |      ELSE 0.0 END AS digit_ratio,
        |    CASE WHEN chars > 0 THEN (chars - nw) / chars
        |      ELSE 0.0 END AS ws_ratio
        |  FROM d),
        |c1 AS (SELECT source, lang, doc_id // $CharsetBlock AS blk,
        |    count(*) AS bn,
        |    list_reduce(list_prepend(0.0,
        |      list(mb_ratio ORDER BY doc_id)), (a, x) -> a + x) AS bmb,
        |    max(mb_ratio) AS bmaxmb,
        |    list_reduce(list_prepend(0.0,
        |      list(digit_ratio ORDER BY doc_id)), (a, x) -> a + x) AS bd,
        |    list_reduce(list_prepend(0.0,
        |      list(ws_ratio ORDER BY doc_id)), (a, x) -> a + x) AS bw
        |  FROM pd GROUP BY 1, 2, 3)
        |SELECT source, lang, CAST(sum(bn) AS BIGINT) AS n_docs,
        |  round(list_reduce(list_prepend(0.0,
        |      list(bmb ORDER BY blk)), (a, x) -> a + x)
        |    / sum(bn), 6) AS avg_mb_ratio,
        |  round(max(bmaxmb), 6) AS max_mb_ratio,
        |  round(list_reduce(list_prepend(0.0,
        |      list(bd ORDER BY blk)), (a, x) -> a + x)
        |    / sum(bn), 6) AS avg_digit_ratio,
        |  round(list_reduce(list_prepend(0.0,
        |      list(bw ORDER BY blk)), (a, x) -> a + x)
        |    / sum(bn), 6) AS avg_ws_ratio
        |FROM c1 GROUP BY 1, 2""".stripMargin,
    "ta_source_mix" ->
      s"""WITH t AS (SELECT source,
         |    CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4 AS tier,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <=
         |      (['3fffffff', '7fffffff', 'bfffffff', 'ffffffff'])[
         |        CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4 + 1]
         |      AS kept
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  (tier + 1) / 4.0 AS rate
         |FROM t GROUP BY source, tier""".stripMargin,
    "ta_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |              regexp_extract_all(text, '$re') AS ts FROM documents),
         |sh AS (SELECT doc_id, source,
         |  CASE WHEN len(ts) >= 5 THEN list_distinct(
         |    [array_to_string(list_slice(ts, i, i + 4), ' ')
         |     for i in range(1, len(ts) - 5 + 2)])
         |  ELSE [] END AS sh
         |  FROM tok),
         |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE source = 'src0'),
         |corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE source <> 'src0'),
         |hits AS (SELECT doc_id, count(*) AS n FROM corpus
         |         JOIN bench USING (g) GROUP BY 1)
         |SELECT s.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared,
         |  coalesce(h.n, 0) > 0 AS contaminated
         |FROM sh s LEFT JOIN hits h USING (doc_id)
         |WHERE s.source <> 'src0'""".stripMargin,
    "ta_bloom_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |              regexp_extract_all(text, '$re') AS ts FROM documents),
         |sh AS (SELECT doc_id, source,
         |  CASE WHEN len(ts) >= 5 THEN list_distinct(
         |    [array_to_string(list_slice(ts, i, i + 4), ' ')
         |     for i in range(1, len(ts) - 5 + 2)])
         |  ELSE [] END AS sh
         |  FROM tok),
         |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE source = 'src0'),
         |bj AS (SELECT CAST(0 AS BIGINT) AS doc_id, g AS t FROM bench),
         |${graft.core.XxHashSql.hash64Ctes("bj", "bh", "bx")},
         |${graft.core.XxHashSql.familyCtes("bf", "bh", "bfam", 3, Seq("t"))},
         |bits AS (SELECT DISTINCT h % 65536 AS pos FROM bfam),
         |corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE source <> 'src0'),
         |cdis AS (SELECT CAST(0 AS BIGINT) AS doc_id, g AS t
         |  FROM (SELECT DISTINCT g FROM corpus)),
         |${graft.core.XxHashSql.hash64Ctes("cdis", "ch", "cx")},
         |${graft.core.XxHashSql.familyCtes("cf", "ch", "cfam", 3, Seq("t"))},
         |gpos AS (SELECT t AS g, h % 65536 AS pos FROM cfam),
         |cp AS (SELECT doc_id, g, pos FROM corpus JOIN gpos USING (g)),
         |bloomhits AS (SELECT doc_id, g FROM cp JOIN bits USING (pos)
         |  GROUP BY doc_id, g HAVING count(*) = 3),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom
         |  FROM bloomhits GROUP BY 1),
         |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM corpus JOIN bench USING (g) GROUP BY 1),
         |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM corpus GROUP BY 1)
         |SELECT s.doc_id,
         |  CAST(coalesce(ng.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(ne.n_exact, 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(nb.n_bloom, 0) AS BIGINT) AS n_bloom,
         |  coalesce(ne.n_exact, 0) > 0 AS exact_contaminated,
         |  coalesce(nb.n_bloom, 0) > 0 AS bloom_contaminated
         |FROM sh s LEFT JOIN ng USING (doc_id) LEFT JOIN ne USING (doc_id)
         |LEFT JOIN nb USING (doc_id)
         |WHERE s.source <> 'src0'""".stripMargin,
    "ta_pack_bins" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, lang, CAST(doc_id % 16 AS INT) AS bucket,
         |    CAST(len(regexp_extract_all(text, '$re')) AS INT) AS n
         |  FROM documents),
         |r AS (SELECT t.*, CAST(row_number() OVER
         |        (PARTITION BY lang, bucket ORDER BY doc_id) AS INT) AS rn
         |      FROM t),
         |p AS (
         |  SELECT lang, bucket, rn, doc_id, n, 0 AS bin, n AS acc
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.lang, r.bucket, r.rn, r.doc_id, r.n,
         |    CASE WHEN p.acc > 0 AND p.acc + r.n > 128
         |      THEN p.bin + 1 ELSE p.bin END,
         |    CASE WHEN p.acc > 0 AND p.acc + r.n > 128
         |      THEN r.n ELSE p.acc + r.n END
         |  FROM p JOIN r ON r.lang = p.lang AND r.bucket = p.bucket
         |    AND r.rn = p.rn + 1)
         |SELECT doc_id, lang, bucket, n AS n_tokens, CAST(bin AS INT) AS bin
         |FROM p""".stripMargin,
    "ta_entropy_rate" ->
      s"""WITH tk AS (
         |  SELECT source, regexp_extract_all(text, '$re') AS ts
         |  FROM documents),
         |bg AS (
         |  SELECT source, t AS bg, count(*) AS c FROM (
         |    SELECT source, unnest([ts[i] || ' ' || ts[i + 1]
         |      for i in range(1, len(ts))]) AS t FROM tk)
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n2
         |  FROM bg GROUP BY 1),
         |mx AS (
         |  SELECT source, split_part(bg, ' ', 1) AS x,
         |    CAST(sum(c) AS BIGINT) AS c
         |  FROM bg GROUP BY 1, 2),
         |erv AS (SELECT DISTINCT bg AS t, 0 AS doc_id FROM bg
         |        UNION SELECT DISTINCT x AS t, 0 AS doc_id FROM mx),
         |${graft.core.XxHashSql.hash64Ctes("erv", "erh", "erx")},
         |hjt AS (
         |  SELECT b.source, b.bg,
         |    CAST(h.h64 % ${VocabFineMask + 1} AS BIGINT) AS fine,
         |    -(CAST(c AS DOUBLE) / CAST(n2 AS DOUBLE)) *
         |      ln(CAST(c AS DOUBLE) / CAST(n2 AS DOUBLE)) AS t
         |  FROM bg b JOIN tot USING (source) JOIN erh h ON h.t = b.bg),
         |hj1 AS (SELECT source, fine,
         |    list_reduce(list_prepend(0.0, list(t ORDER BY bg)),
         |      (a, v) -> a + v) AS bt
         |  FROM hjt GROUP BY 1, 2),
         |hj2 AS (SELECT source, fine // $VocabCoarseDiv AS coarse,
         |    list_reduce(list_prepend(0.0, list(bt ORDER BY fine)),
         |      (a, v) -> a + v) AS bt
         |  FROM hj1 GROUP BY 1, 2),
         |hj AS (SELECT source,
         |    list_reduce(list_prepend(0.0, list(bt ORDER BY coarse)),
         |      (a, v) -> a + v) AS h_joint
         |  FROM hj2 GROUP BY source),
         |hmt AS (
         |  SELECT m.source, m.x,
         |    CAST(h.h64 % ${VocabFineMask + 1} AS BIGINT) AS fine,
         |    -(CAST(c AS DOUBLE) / CAST(n2 AS DOUBLE)) *
         |      ln(CAST(c AS DOUBLE) / CAST(n2 AS DOUBLE)) AS t
         |  FROM mx m JOIN tot USING (source) JOIN erh h ON h.t = m.x),
         |hm1 AS (SELECT source, fine,
         |    list_reduce(list_prepend(0.0, list(t ORDER BY x)),
         |      (a, v) -> a + v) AS bt
         |  FROM hmt GROUP BY 1, 2),
         |hm2 AS (SELECT source, fine // $VocabCoarseDiv AS coarse,
         |    list_reduce(list_prepend(0.0, list(bt ORDER BY fine)),
         |      (a, v) -> a + v) AS bt
         |  FROM hm1 GROUP BY 1, 2),
         |hm AS (SELECT source,
         |    list_reduce(list_prepend(0.0, list(bt ORDER BY coarse)),
         |      (a, v) -> a + v) AS h_marginal
         |  FROM hm2 GROUP BY source)
         |SELECT hj.source, tot.n2 AS n_bigrams,
         |  round(hj.h_joint, 6) AS h_joint,
         |  round(hm.h_marginal, 6) AS h_marginal,
         |  round(hj.h_joint - hm.h_marginal, 6) AS h_cond
         |FROM hj JOIN hm USING (source) JOIN tot USING (source)""".stripMargin,
    "ta_fightin_words" ->
      s"""WITH tf AS (
         |  SELECT doc_id, t AS term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '$re')) AS t
         |    FROM documents)
         |  GROUP BY 1, 2),
         |cc AS (SELECT term,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN tf ELSE 0 END)
         |      AS BIGINT) AS y_a,
         |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN tf ELSE 0 END)
         |      AS BIGINT) AS y_b
         |  FROM tf GROUP BY 1),
         |tt AS (SELECT CAST(sum(y_a) AS BIGINT) AS n_a,
         |    CAST(sum(y_b) AS BIGINT) AS n_b, count(*) AS v FROM cc),
         |zz AS (SELECT term, y_a, y_b,
         |    ln((CAST(y_a AS DOUBLE) + CAST($FwAlpha AS DOUBLE)) /
         |       (CAST(n_a AS DOUBLE) + CAST(v AS DOUBLE) *
         |          CAST($FwAlpha AS DOUBLE) -
         |        CAST(y_a AS DOUBLE) - CAST($FwAlpha AS DOUBLE))) -
         |    ln((CAST(y_b AS DOUBLE) + CAST($FwAlpha AS DOUBLE)) /
         |       (CAST(n_b AS DOUBLE) + CAST(v AS DOUBLE) *
         |          CAST($FwAlpha AS DOUBLE) -
         |        CAST(y_b AS DOUBLE) - CAST($FwAlpha AS DOUBLE))) AS delta
         |  FROM cc CROSS JOIN tt),
         |zs AS (SELECT term, y_a, y_b, delta,
         |    delta / sqrt(CAST(1.0 AS DOUBLE) /
         |        (CAST(y_a AS DOUBLE) + CAST($FwAlpha AS DOUBLE)) +
         |      CAST(1.0 AS DOUBLE) /
         |        (CAST(y_b AS DOUBLE) + CAST($FwAlpha AS DOUBLE))) AS zv
         |  FROM zz)
         |SELECT term, y_a, y_b, round(delta, 6) AS delta,
         |  round(zv, 6) AS z
         |FROM zs ORDER BY abs(zv) DESC, term DESC LIMIT $FwTopK""".stripMargin,
    "ta_length_gini" ->
      """WITH cells AS (
        |  SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, v, c,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS r0
        |  FROM cells),
        |rs AS (
        |  SELECT source, v, c, r0,
        |    CAST(v AS DECIMAL(38,0)) *
        |      (2 * CAST(c AS DECIMAL(38,0)) * CAST(r0 AS DECIMAL(38,0)) +
        |       CAST(c AS DECIMAL(38,0)) * (CAST(c AS DECIMAL(38,0)) + 1))
        |      AS ranksum2
        |  FROM rk)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  round(CAST(sum(ranksum2) AS DOUBLE) /
        |    (CAST(sum(c) AS DOUBLE) *
        |     CAST(sum(CAST(v AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
        |       AS DOUBLE)) -
        |    CAST(sum(c) + 1 AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS gini
        |FROM rs GROUP BY source""".stripMargin,
    "ta_source_length_kl" ->
      s"""WITH d AS (
         |  SELECT source,
         |    least(n_chars // $KlBucketWidth, $KlMaxBucket) AS bucket
         |  FROM documents),
         |sc AS (SELECT source, bucket, count(*) AS k FROM d GROUP BY 1, 2),
         |st AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
         |cc AS (SELECT bucket, count(*) AS qc FROM d GROUP BY 1),
         |nt AS (SELECT count(*) AS n FROM d),
         |grid AS (
         |  SELECT st.source, cc.bucket, st.ns, cc.qc,
         |    coalesce(sc.k, 0) AS k, nt.n
         |  FROM st CROSS JOIN cc
         |  LEFT JOIN sc ON sc.source = st.source AND sc.bucket = cc.bucket
         |  CROSS JOIN nt),
         |terms AS (
         |  SELECT source, bucket, ns,
         |    CASE WHEN k > 0
         |      THEN (CAST(k AS DOUBLE) / CAST(ns AS DOUBLE)) *
         |        ln((CAST(k AS DOUBLE) / CAST(ns AS DOUBLE)) /
         |           (CAST(qc AS DOUBLE) / CAST(n AS DOUBLE)))
         |      ELSE CAST(0.0 AS DOUBLE) END AS kl_term,
         |    (CASE WHEN k > 0
         |      THEN CAST(0.5 AS DOUBLE) *
         |        (CAST(k AS DOUBLE) / CAST(ns AS DOUBLE)) *
         |        ln((CAST(k AS DOUBLE) / CAST(ns AS DOUBLE)) /
         |           (CAST(0.5 AS DOUBLE) *
         |            (CAST(k AS DOUBLE) / CAST(ns AS DOUBLE) +
         |             CAST(qc AS DOUBLE) / CAST(n AS DOUBLE))))
         |      ELSE CAST(0.0 AS DOUBLE) END) +
         |    CAST(0.5 AS DOUBLE) *
         |      (CAST(qc AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      ln((CAST(qc AS DOUBLE) / CAST(n AS DOUBLE)) /
         |         (CAST(0.5 AS DOUBLE) *
         |          (CAST(k AS DOUBLE) / CAST(ns AS DOUBLE) +
         |           CAST(qc AS DOUBLE) / CAST(n AS DOUBLE)))) AS js_term
         |  FROM grid)
         |SELECT source, max(ns) AS n_docs,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(kl_term ORDER BY bucket)), (a, x) -> a + x), 6) AS kl,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(js_term ORDER BY bucket)), (a, x) -> a + x), 6) AS js
         |FROM terms GROUP BY source""".stripMargin,
    "ta_dp_counts" -> {
      val tiny = 1.0 / 9007199254740992.0
      s"""WITH cells AS (
         |  SELECT lang, source, count(*) AS true_n
         |  FROM documents GROUP BY 1, 2),
         |ct AS (SELECT lang, source,
         |    'dp:' || lang || ':' || source AS t, 0 AS doc_id
         |  FROM cells),
         |${graft.core.XxHashSql.hash64Ctes("ct", "ch", "dx")},
         |cu AS (SELECT c.lang, c.source, c.true_n,
         |    least(greatest(CAST(h.h64 >> 11 AS DOUBLE) *
         |        CAST($tiny AS DOUBLE), CAST($tiny AS DOUBLE)),
         |      CAST(${1.0 - tiny} AS DOUBLE)) AS u
         |  FROM cells c JOIN ch h
         |    ON h.t = 'dp:' || c.lang || ':' || c.source),
         |cn AS (SELECT lang, source, true_n,
         |    CAST(${-1.0 / DpEpsilon} AS DOUBLE) *
         |      sign(u - CAST(0.5 AS DOUBLE)) *
         |      ln(CAST(1.0 AS DOUBLE) -
         |         CAST(2.0 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE))) AS noise
         |  FROM cu)
         |SELECT lang, source, true_n,
         |  round(CAST(true_n AS DOUBLE) + noise, 4) AS noisy_n,
         |  (CAST(true_n AS DOUBLE) + noise <
         |    CAST($DpSuppressBelow AS DOUBLE)) AS suppressed
         |FROM cn""".stripMargin
    },
    "ta_bootstrap_median_ci" -> {
      s"""WITH $poissonWeightCtes,
         |cells AS (SELECT b, n_chars AS v, CAST(sum(w) AS BIGINT) AS wsum
         |  FROM bw JOIN bdoc USING (doc_id) GROUP BY 1, 2),
         |cm AS (SELECT b, v,
         |    CAST(sum(wsum) OVER (PARTITION BY b ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(sum(wsum) OVER (PARTITION BY b) AS BIGINT) AS t
         |  FROM cells),
         |med AS (SELECT b, min(v) AS med FROM cm WHERE cum * 2 >= t
         |  GROUP BY b),
         |pt AS (
         |  SELECT min(v) AS point_median FROM (
         |    SELECT v,
         |      CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |        AS BIGINT) AS cum,
         |      CAST(sum(c) OVER () AS BIGINT) AS t
         |    FROM (SELECT n_chars AS v, count(*) AS c FROM documents
         |          GROUP BY 1))
         |  WHERE cum * 2 >= t),
         |ag AS (SELECT list_sort(list(med)) AS ms,
         |    count(*) AS n_replicates FROM med)
         |SELECT n_replicates, point_median,
         |  ms[${math.ceil(0.025 * BootstrapB).toInt}] AS ci_lo,
         |  ms[${math.ceil(0.975 * BootstrapB).toInt}] AS ci_hi
         |FROM ag CROSS JOIN pt""".stripMargin
    },
    "ta_bootstrap_ci" -> {
      s"""WITH $poissonWeightCtes,
         |bagg AS (SELECT b, CAST(sum(w * n_chars) AS BIGINT) AS sx,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM bw JOIN bdoc USING (doc_id) GROUP BY b),
         |bm AS (SELECT b, CASE WHEN sw > 0
         |    THEN CAST(sx AS DOUBLE) / CAST(sw AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS mean_rep
         |  FROM bagg),
         |bs AS (SELECT list_sort(list(mean_rep)) AS ms,
         |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list(mean_rep ORDER BY b)), (a, x) -> a + x) /
         |      CAST($BootstrapB.0 AS DOUBLE), 6) AS mean_of_reps
         |  FROM bm),
         |bp AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tot, count(*) AS n
         |  FROM documents)
         |SELECT $BootstrapB AS n_replicates, n AS n_docs,
         |  round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE), 6) AS point_mean,
         |  mean_of_reps,
         |  round(ms[${math.ceil(0.025 * BootstrapB).toInt}], 6) AS ci_lo,
         |  round(ms[${math.ceil(0.975 * BootstrapB).toInt}], 6) AS ci_hi
         |FROM bs CROSS JOIN bp""".stripMargin
    },
    "ta_l_diversity" ->
      s"""WITH bd AS (
         |  SELECT c_mktsegment, c_nationkey,
         |    CAST(floor(c_acctbal / CAST(2000.0 AS DOUBLE)) AS BIGINT) AS band,
         |    count(*) AS bn
         |  FROM customer GROUP BY 1, 2, 3)
         |SELECT c_mktsegment, c_nationkey,
         |  CAST(sum(bn) AS BIGINT) AS class_size,
         |  count(*) AS n_sensitive,
         |  round(CAST(max(bn * 65536 + (band + 8)) >> 16 AS DOUBLE) /
         |    CAST(sum(bn) AS DOUBLE), 6) AS dominant_share,
         |  (count(*) >= $LDiversityL) AS l_diverse
         |FROM bd GROUP BY 1, 2""".stripMargin,
    "ta_cusum_drift" ->
      s"""WITH daily AS (
         |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |    count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |st AS (
         |  SELECT event_type, CAST(sum(x) AS BIGINT) AS sum_x,
         |    CAST(sum(x * x) AS BIGINT) AS sum_x2, count(*) AS n
         |  FROM daily GROUP BY 1),
         |pre AS (
         |  SELECT d.event_type, d.day, d.x,
         |    CAST(sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS xsum,
         |    row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn,
         |    CAST(s.sum_x AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean,
         |    sqrt((CAST(s.sum_x2 AS DOUBLE) -
         |      CAST(s.sum_x AS DOUBLE) * CAST(s.sum_x AS DOUBLE) /
         |        CAST(s.n AS DOUBLE)) /
         |      (CAST(s.n AS DOUBLE) - CAST(1.0 AS DOUBLE))) AS std
         |  FROM daily d JOIN st s ON d.event_type = s.event_type),
         |pp AS (
         |  SELECT event_type, day, x,
         |    CASE WHEN std = CAST(0.0 AS DOUBLE)
         |      THEN CAST(rn AS DOUBLE) * CAST(-$CusumSlack AS DOUBLE)
         |      ELSE (CAST(xsum AS DOUBLE) - CAST(rn AS DOUBLE) * mean) / std
         |        - CAST(rn AS DOUBLE) * CAST($CusumSlack AS DOUBLE) END AS pu,
         |    CASE WHEN std = CAST(0.0 AS DOUBLE)
         |      THEN CAST(rn AS DOUBLE) * CAST(-$CusumSlack AS DOUBLE)
         |      ELSE (CAST(rn AS DOUBLE) * mean - CAST(xsum AS DOUBLE)) / std
         |        - CAST(rn AS DOUBLE) * CAST($CusumSlack AS DOUBLE) END AS pd
         |  FROM pre),
         |cs AS (
         |  SELECT event_type, day, x,
         |    pu - least(min(pu) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING), CAST(0.0 AS DOUBLE)) AS splus,
         |    pd - least(min(pd) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING), CAST(0.0 AS DOUBLE)) AS sminus
         |  FROM pp)
         |SELECT event_type, day, x, round(splus, 6) AS cusum_up,
         |  round(sminus, 6) AS cusum_down,
         |  (splus > CAST($CusumAlarm AS DOUBLE) OR
         |   sminus > CAST($CusumAlarm AS DOUBLE)) AS alarm
         |FROM cs""".stripMargin,
    // The streaming monitor scored against FROZEN calibration params
    // (per-type mean/std over days <= the global median day) — same
    // closed-form replay as ta_cusum_drift, restricted to the
    // monitoring half, LEFT-joined refs with the degenerate guard.
    "stream_cusum" ->
      s"""WITH daily AS (
         |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |dd AS (SELECT DISTINCT day FROM daily),
         |cut AS (SELECT day AS cutoff FROM (
         |    SELECT day, row_number() OVER (ORDER BY day) AS rn,
         |      count(*) OVER () AS nd FROM dd)
         |  WHERE rn = CAST(ceil(nd / 2.0) AS BIGINT)),
         |ref AS (
         |  SELECT event_type, CAST(sum(x) AS BIGINT) AS sum_x,
         |    CAST(sum(x * x) AS BIGINT) AS sum_x2, count(*) AS n
         |  FROM daily, cut WHERE day <= cutoff GROUP BY 1),
         |mon AS (
         |  SELECT d.event_type, d.day, d.x FROM daily d, cut
         |  WHERE d.day > cutoff),
         |pre AS (
         |  SELECT m.event_type, m.day, m.x,
         |    CAST(sum(m.x) OVER (PARTITION BY m.event_type ORDER BY m.day
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS xsum,
         |    row_number() OVER (PARTITION BY m.event_type ORDER BY m.day) AS rn,
         |    CAST(r.sum_x AS DOUBLE) / CAST(r.n AS DOUBLE) AS mean,
         |    sqrt((CAST(r.sum_x2 AS DOUBLE) -
         |      CAST(r.sum_x AS DOUBLE) * CAST(r.sum_x AS DOUBLE) /
         |        CAST(r.n AS DOUBLE)) /
         |      (CAST(r.n AS DOUBLE) - CAST(1.0 AS DOUBLE))) AS std
         |  FROM mon m
         |  LEFT JOIN ref r ON m.event_type = r.event_type),
         |pp AS (
         |  SELECT event_type, day, x,
         |    CASE WHEN std IS NULL OR isnan(std) OR std = CAST(0.0 AS DOUBLE)
         |      THEN CAST(rn AS DOUBLE) * CAST(-$CusumSlack AS DOUBLE)
         |      ELSE (CAST(xsum AS DOUBLE) - CAST(rn AS DOUBLE) * mean) / std
         |        - CAST(rn AS DOUBLE) * CAST($CusumSlack AS DOUBLE) END AS pu,
         |    CASE WHEN std IS NULL OR isnan(std) OR std = CAST(0.0 AS DOUBLE)
         |      THEN CAST(rn AS DOUBLE) * CAST(-$CusumSlack AS DOUBLE)
         |      ELSE (CAST(rn AS DOUBLE) * mean - CAST(xsum AS DOUBLE)) / std
         |        - CAST(rn AS DOUBLE) * CAST($CusumSlack AS DOUBLE) END AS pd
         |  FROM pre),
         |cs AS (
         |  SELECT event_type, day, x,
         |    pu - least(min(pu) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING), CAST(0.0 AS DOUBLE)) AS splus,
         |    pd - least(min(pd) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING), CAST(0.0 AS DOUBLE)) AS sminus
         |  FROM pp)
         |SELECT event_type, day, x, round(splus, 6) AS cusum_up,
         |  round(sminus, 6) AS cusum_down,
         |  (splus > CAST($CusumAlarm AS DOUBLE) OR
         |   sminus > CAST($CusumAlarm AS DOUBLE)) AS alarm
         |FROM cs""".stripMargin,
    "ta_k_anonymity" ->
      """WITH cls AS (SELECT c_mktsegment, c_nationkey, count(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |  CAST(sum(CASE WHEN class_size < 8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_below_k,
        |  CAST(sum(CASE WHEN class_size < 8 THEN class_size ELSE 0 END)
        |    AS BIGINT) AS suppressed_rows,
        |  min(class_size) AS min_class,
        |  round(sum(CASE WHEN class_size < 8 THEN class_size ELSE 0 END)
        |    * 1.0 / sum(class_size), 6) AS suppression_frac
        |FROM cls""".stripMargin,
    "ta_source_mix_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |t AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(sqrt(CAST(n_s AS DOUBLE)) ORDER BY source)),
        |    (a, b) -> a + b) AS s_sqrt,
        |  sum(n_s) AS n_total FROM c),
        |r AS (SELECT source, n_s,
        |    sqrt(CAST(n_s AS DOUBLE)) / t.s_sqrt AS w,
        |    least(CAST(1.0 AS DOUBLE),
        |      (CAST(0.5 AS DOUBLE) * CAST(t.n_total AS DOUBLE)
        |        * (sqrt(CAST(n_s AS DOUBLE)) / t.s_sqrt))
        |      / CAST(n_s AS DOUBLE)) AS rate
        |  FROM c CROSS JOIN t)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN
        |      CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |        AS BIGINT) AS DOUBLE) / CAST(4294967296.0 AS DOUBLE) < r.rate
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(r.w, 6) AS weight, round(r.rate, 6) AS rate
        |FROM documents d JOIN r USING (source)
        |GROUP BY d.source, r.w, r.rate""".stripMargin,
    "ta_bigram_logprob" ->
      s"WITH $bigramLogprobCtes\nSELECT doc_id, n_bigrams, avg_logprob FROM blp",
    "ta_kneser_ney" ->
      s"""WITH $bigramCountCtes,
         |bm AS (SELECT bg, sum(tf) AS bcnt FROM btf GROUP BY 1),
         |sp AS (SELECT bg, bcnt, string_split(bg, ' ')[1] AS w1,
         |         string_split(bg, ' ')[2] AS w2 FROM bm),
         |ctx AS (SELECT w1, sum(bcnt) AS ctx, count(*) AS nf FROM sp
         |  GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS nb FROM sp GROUP BY 1),
         |tot AS (SELECT count(*) AS ntypes FROM bm),
         |model AS (SELECT sp.bg,
         |    greatest(CAST(sp.bcnt AS DOUBLE) - CAST(0.75 AS DOUBLE),
         |             CAST(0.0 AS DOUBLE)) / CAST(ctx.ctx AS DOUBLE)
         |    + CAST(0.75 AS DOUBLE) * CAST(ctx.nf AS DOUBLE)
         |      / CAST(ctx.ctx AS DOUBLE)
         |      * (CAST(cont.nb AS DOUBLE) / CAST(tot.ntypes AS DOUBLE)) AS p
         |  FROM sp JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot),
         |s AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams
         |  FROM btf GROUP BY 1),
         |l AS (SELECT t.doc_id,
         |    list(struct_pack(tf := t.tf, p := m.p) ORDER BY t.bg) AS xs
         |  FROM btf t JOIN model m USING (bg) GROUP BY 1)
         |SELECT l.doc_id, s.n_bigrams,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(xs, x -> CAST(x.tf AS DOUBLE) * ln(x.p))),
         |      (a, b) -> a + b)
         |    / CAST(s.n_bigrams AS DOUBLE), 5) AS avg_logprob
         |FROM l JOIN s USING (doc_id)""".stripMargin,
    "ta_perplexity_buckets" ->
      s"""WITH $bigramLogprobCtes,
         |q AS (SELECT b.doc_id, d.lang, b.avg_logprob
         |  FROM blp b JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, avg_logprob,
         |  CASE CAST(ntile(3) OVER
         |      (PARTITION BY lang ORDER BY avg_logprob DESC, doc_id) AS INT)
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         |  END AS bucket
         |FROM q""".stripMargin,
    "ta_unigram_logprob" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$re')) AS term
         |        FROM documents)
         |  GROUP BY 1, 2),
         |freq AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS total FROM freq),
         |l AS (SELECT doc_id,
         |        list(struct_pack(term := tf.term, tf := tf.tf,
         |                         p := freq.cnt) ORDER BY tf.term) AS xs
         |      FROM tf JOIN freq USING (term) GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(xs, x -> x.tf)), (a, b) -> a + b) AS BIGINT)
         |    AS n_tokens,
         |  round(
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(xs, x -> x.tf * ln(x.p / total))),
         |      (a, b) -> a + b)
         |    / list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(xs, x -> x.tf)), (a, b) -> a + b),
         |    5) AS avg_logprob
         |FROM l, tot""".stripMargin,
    "ta_pii_scrub" ->
      s"""WITH t AS (
         |  SELECT c_custkey,
         |    'Contact ' || c_name || ' at ' || lower(replace(c_name, '#', '.'))
         |    || '@example.com or +1-555-'
         |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
         |    || ' about the $$' || CAST(c_acctbal AS VARCHAR)
         |    || ' balance in ' || c_mktsegment AS txt
         |  FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '[a-z0-9.#]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
         |    '\\+1-555-\\d{4}', '<PHONE>', 'g'),
         |    '\\$$\\d+(?:\\.\\d+)?', '<AMOUNT>', 'g') AS scrubbed,
         |  CAST(len(string_split_regex(txt,
         |    '[a-z0-9.#]+@[a-z0-9.-]+\\.[a-z]{2,}')) - 1 AS INT) AS n_emails,
         |  CAST(len(string_split_regex(txt, '\\+1-555-\\d{4}')) - 1 AS INT)
         |    AS n_phones
         |FROM t""".stripMargin,
    "ta_repetition" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars,
         |             regexp_extract_all(text, '$re') AS ts FROM documents),
         |base AS (
         |  SELECT doc_id, n_chars,
         |    round(CASE WHEN len(ts) > 0
         |      THEN 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
         |      ELSE 0.0 END, 6) AS dup_word_frac, ts
         |  FROM t),
         |g AS (
         |  SELECT doc_id, n_chars, dup_word_frac,
         |    unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS gram
         |  FROM base),
         |c AS (SELECT doc_id, n_chars, dup_word_frac, gram, count(*) AS cnt
         |      FROM g GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, dup_word_frac, gram AS top_2gram,
         |  round(CAST(cnt * len(gram) AS DOUBLE) / n_chars, 6)
         |    AS top_2gram_char_frac
         |FROM (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
         |      FROM c) WHERE rn = 1""".stripMargin,
    "ta_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '$re') AS ts
         |           FROM documents),
         |f AS (SELECT doc_id, len(ts) AS n_words,
         |  CASE WHEN len(ts) > 0 THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(ts, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x)
         |      * 1.0 / len(ts) ELSE 0.0 END AS mean_len,
         |  CASE WHEN len(ts) > 0 THEN len(list_filter(ts,
         |    t -> regexp_matches(t, '\\p{L}'))) * 1.0 / len(ts)
         |  ELSE 0.0 END AS alpha_frac,
         |  len(list_filter(ts, t -> list_contains($stopList, t))) AS n_stop
         |  FROM t)
         |SELECT doc_id, n_words,
         |  round(mean_len, 4) AS mean_word_len,
         |  round(alpha_frac, 4) AS alpha_word_frac,
         |  n_stop AS n_stopwords,
         |  n_words BETWEEN 50 AND 100000 AS pass_word_count,
         |  mean_len BETWEEN 3.0 AND 10.0 AS pass_word_len,
         |  alpha_frac >= 0.8 AS pass_alpha,
         |  n_stop >= 2 AS pass_stopwords,
         |  (n_words BETWEEN 50 AND 100000) AND (mean_len BETWEEN 3.0 AND 10.0)
         |    AND alpha_frac >= 0.8 AND n_stop >= 2 AS pass
         |FROM f""".stripMargin,
    "ta_dsir_weights" -> {
      val b = DsirBuckets
      s"""WITH d0 AS (SELECT doc_id, lang,
         |    unnest(regexp_extract_all(text, '$re')) AS t FROM documents),
         |terms AS (SELECT DISTINCT CAST(0 AS BIGINT) AS doc_id, t FROM d0),
         |${graft.core.XxHashSql.hash64Ctes("terms", "th", "dx")},
         |tb AS (SELECT t, CAST(h64 & ${b - 1}::UBIGINT AS INTEGER) AS b
         |  FROM th),
         |db AS MATERIALIZED (SELECT d0.doc_id, any_value(d0.lang) AS lang,
         |    tb.b, CAST(count(*) AS BIGINT) AS c
         |  FROM d0 JOIN tb USING (t) GROUP BY d0.doc_id, tb.b),
         |tc AS (SELECT b, CAST(sum(c) AS BIGINT) AS tc FROM db
         |  WHERE lang = 'en' GROUP BY 1),
         |rc AS (SELECT b, CAST(sum(c) AS BIGINT) AS rc FROM db GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(tc) AS BIGINT) FROM tc) AS tt,
         |               (SELECT CAST(sum(rc) AS BIGINT) FROM rc) AS tr),
         |lm AS (SELECT rc.b,
         |    ln((coalesce(tc.tc, 0) + 1.0) / CAST(tot.tt + $b AS DOUBLE))
         |      - ln((rc.rc + 1.0) / CAST(tot.tr + $b AS DOUBLE)) AS lr
         |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot)
         |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_tokens,
         |  round(list_reduce(list_prepend(0.0,
         |      list(CAST(db.c AS DOUBLE) * lm.lr ORDER BY db.b)),
         |    (a, x) -> a + x), 5) AS log_weight
         |FROM db JOIN lm USING (b) GROUP BY db.doc_id""".stripMargin
    },
    "ta_fertility" ->
      s"""WITH $bpeCtes,
         |fd AS (SELECT lang, unnest(regexp_extract_all(text, '$re')) AS word
         |  FROM documents)
         |SELECT fd.lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(v.syms)) AS BIGINT) AS n_subwords,
         |  CAST(sum(length(fd.word)) AS BIGINT) AS n_chars,
         |  round(CAST(sum(len(v.syms)) AS DOUBLE) / count(*), 6) AS fertility,
         |  round(CAST(sum(length(fd.word)) AS DOUBLE)
         |    / CAST(sum(len(v.syms)) AS DOUBLE), 6) AS chars_per_subword
         |FROM fd JOIN v$BpeRounds v USING (word)
         |GROUP BY fd.lang""".stripMargin,
    "ta_quality_lr" -> qualityLrOracle,
    "ta_quality_lift" ->
      s"""WITH lr AS ($qualityLrOracle),
         |dd AS (SELECT doc_id, label,
         |    ntile(10) OVER (ORDER BY p DESC, doc_id) AS decile FROM lr),
         |g AS (SELECT decile, count(*) AS n,
         |    CAST(sum(label) AS BIGINT) AS n_pos FROM dd GROUP BY 1),
         |c AS (SELECT decile, n, n_pos,
         |    CAST(sum(n) OVER (ORDER BY decile
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         |    CAST(sum(n_pos) OVER (ORDER BY decile
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
         |  FROM g),
         |t AS (SELECT count(*) AS tot_n, CAST(sum(label) AS BIGINT) AS tot_pos
         |  FROM lr)
         |SELECT decile, n, n_pos,
         |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
         |  round(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6)
         |    AS captured,
         |  round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) /
         |    (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6) AS lift
         |FROM c CROSS JOIN t""".stripMargin,
    "ta_quality_calibration" ->
      s"""WITH lr AS ($qualityLrOracle),
         |b AS (SELECT CAST(least(floor(p * 10), 9.0) AS INT) AS bin,
         |    doc_id, doc_id // ${LinearModel.BlockSize} AS blk, p, label
         |  FROM lr),
         |gb AS (SELECT bin, blk, count(*) AS bn,
         |    list_reduce(list_prepend(0.0, list(p ORDER BY doc_id)),
         |      (a, x) -> a + x) AS bp,
         |    CAST(sum(label) AS BIGINT) AS bl
         |  FROM b GROUP BY 1, 2),
         |g AS (SELECT bin, CAST(sum(bn) AS BIGINT) AS n,
         |    round(list_reduce(list_prepend(0.0, list(bp ORDER BY blk)),
         |      (a, x) -> a + x) / CAST(sum(bn) AS DOUBLE), 6) AS mean_p,
         |    round(CAST(sum(bl) AS BIGINT) * 1.0 / sum(bn), 6)
         |      AS frac_pos
         |  FROM gb GROUP BY 1)
         |SELECT bin, round(bin / 10.0, 1) AS p_lo, n, mean_p, frac_pos,
         |  round(abs(mean_p - frac_pos), 6) AS gap
         |FROM g""".stripMargin,
    "ta_length_quality_fit" -> {
      def dFold(e: String) =
        s"list_reduce(list_prepend(0.0, list($e ORDER BY doc_id)), (a, v) -> a + v)"
      def bFold(c: String) =
        s"list_reduce(list_prepend(0.0, list($c ORDER BY blk)), (a, v) -> a + v)"
      val varx = "(n * sxx - sx * sx)"
      val vary = "(n * syy - sy * sy)"
      val cov = "(n * sxy - sx * sy)"
      s"""WITH $qualityFeatureCtes,
         |d AS (SELECT f.doc_id, doc.lang,
         |    f.doc_id // ${LinearModel.BlockSize} AS blk,
         |    CAST(doc.n_chars AS DOUBLE) AS x, $qualityScoreSql AS y
         |  FROM f JOIN documents doc ON f.doc_id = doc.doc_id),
         |b AS (SELECT lang, blk, count(*) AS c,
         |    ${dFold("x")} AS sx, ${dFold("y")} AS sy,
         |    ${dFold("x * x")} AS sxx, ${dFold("y * y")} AS syy,
         |    ${dFold("x * y")} AS sxy
         |  FROM d GROUP BY 1, 2),
         |s AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
         |    ${bFold("sx")} AS sx, ${bFold("sy")} AS sy,
         |    ${bFold("sxx")} AS sxx, ${bFold("syy")} AS syy,
         |    ${bFold("sxy")} AS sxy
         |  FROM b GROUP BY lang)
         |SELECT lang, n,
         |  CASE WHEN $varx > 0.0 AND $vary > 0.0
         |    THEN round($cov / $varx, 6) END AS slope,
         |  CASE WHEN $varx > 0.0 AND $vary > 0.0
         |    THEN round((sy - ($cov / $varx) * sx) / n, 6) END AS intercept,
         |  CASE WHEN $varx > 0.0 AND $vary > 0.0
         |    THEN round($cov * $cov / ($varx * $vary), 6) END AS r2
         |FROM s""".stripMargin
    },
    "ta_quality" ->
      s"""WITH $qualityFeatureCtes
         |SELECT doc_id, n_tokens,
         |  round(stop_ratio, 4) AS stopword_ratio,
         |  round(punct_ratio, 4) AS punct_ratio,
         |  round(mean_len, 4) AS mean_token_len,
         |  $qualityScoreSql AS quality
         |FROM f""".stripMargin,
    "ta_curriculum_shards" ->
      s"""WITH $qualityFeatureCtes,
         |q AS (SELECT doc_id, $qualityScoreSql AS quality FROM f)
         |SELECT doc_id, quality,
         |  CAST(ntile($CurriculumShards) OVER (ORDER BY quality, doc_id)
         |    AS INT) AS shard
         |FROM q""".stripMargin,
    "ta_curriculum_by_lang" ->
      s"""WITH $qualityFeatureCtes,
         |q AS (SELECT f.doc_id, d.lang, $qualityScoreSql AS quality
         |  FROM f JOIN documents d ON f.doc_id = d.doc_id)
         |SELECT doc_id, lang, quality,
         |  CAST(ntile($CurriculumShards) OVER
         |    (PARTITION BY lang ORDER BY quality, doc_id) AS INT) AS shard
         |FROM q""".stripMargin,
    "ta_bpe_merges" -> bpeMergesOracle,
    "ta_bpe_encode" -> bpeEncodeOracle,
    "ta_unigram_segment" -> unigramOracle,
    "ta_unigram_fertility" ->
      s"""WITH $unigramChainCtes,
         |seg AS (SELECT word, count(*) AS n_pieces
         |  FROM piecesr2 GROUP BY 1),
         |tok AS (SELECT lang, unnest(ts) AS word FROM (
         |  SELECT lang, regexp_extract_all(text, '$re') AS ts
         |  FROM documents))
         |SELECT tok.lang, count(*) AS n_words,
         |  CAST(sum(seg.n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(length(tok.word)) AS BIGINT) AS n_chars,
         |  round(CAST(sum(seg.n_pieces) AS DOUBLE) / count(*), 6)
         |    AS fertility,
         |  round(CAST(sum(length(tok.word)) AS DOUBLE)
         |    / CAST(sum(seg.n_pieces) AS DOUBLE), 6) AS chars_per_piece
         |FROM tok JOIN seg USING (word)
         |GROUP BY tok.lang""".stripMargin,
    "ta_seq_packing" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok,
         |    sum(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM toks)
         |SELECT doc_id, tok,
         |  CAST((cum - tok) // 2048 AS BIGINT) AS bin,
         |  CAST((cum - tok) % 2048 AS BIGINT) AS offset_in_bin,
         |  CAST(greatest((cum - 1) // 2048 - (cum - tok) // 2048, 0)
         |    AS BIGINT) AS n_splits
         |FROM c""".stripMargin,
    "ta_token_budget" ->
      s"""WITH $qualityFeatureCtes,
         |q AS (SELECT f.doc_id, d.n_chars, $qualityScoreSql AS quality
         |  FROM f JOIN documents d ON f.doc_id = d.doc_id)
         |SELECT doc_id, quality, n_chars, cum FROM (
         |  SELECT doc_id, quality, n_chars,
         |    CAST(sum(n_chars) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM q)
         |WHERE cum <= $TokenBudget""".stripMargin,
    "ta_quality_gate" ->
      s"""WITH $qualityFeatureCtes,
         |q AS (SELECT f.doc_id, d.lang, $qualityScoreSql AS quality
         |  FROM f JOIN documents d ON f.doc_id = d.doc_id),
         |r AS (SELECT doc_id, lang, quality,
         |    round(percent_rank() OVER
         |      (PARTITION BY lang ORDER BY quality), 6) AS pct
         |  FROM q)
         |SELECT doc_id, lang, quality, pct FROM r WHERE pct >= 0.25"""
        .stripMargin,
    "ta_shuffle_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER
        |    (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,
    "ta_ngram_novelty" ->
      s"""WITH ord AS (SELECT doc_id,
         |    CAST(row_number() OVER
         |      (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
         |      AS BIGINT) AS pos
         |  FROM documents),
         |n AS (SELECT count(*) AS n FROM documents),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
         |    THEN list_distinct(
         |      [array_to_string(list_slice(ts, i, i + 2), ' ')
         |       for i in range(1, len(ts) - 2 + 1)])
         |    ELSE [] END) AS gram
         |  FROM (SELECT doc_id, regexp_extract_all(text, '$re') AS ts
         |        FROM documents)),
         |gp AS (SELECT sh.gram, ord.pos FROM sh JOIN ord USING (doc_id)),
         |firsts AS (SELECT gram, min(pos) AS fpos FROM gp GROUP BY 1),
         |per AS (SELECT
         |    CAST(((gp.pos - 1) * 10) // n.n + 1 AS INT) AS decile,
         |    CASE WHEN gp.pos = f.fpos THEN 1 ELSE 0 END AS novel
         |  FROM gp JOIN firsts f USING (gram) CROSS JOIN n)
         |SELECT decile, count(*) AS n_grams,
         |  CAST(sum(novel) AS BIGINT) AS n_novel,
         |  round(CAST(sum(novel) AS DOUBLE) / count(*), 6) AS novelty
         |FROM per GROUP BY decile""".stripMargin,
    "ta_stratified_sample" ->
      s"""WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         |tot AS (SELECT sum(c) AS total FROM cnt),
         |alloc AS (SELECT lang,
         |    base + CASE WHEN seat <= leftover THEN 1 ELSE 0 END AS alloc
         |  FROM (SELECT lang,
         |      ($StratifiedN * c) // total AS base,
         |      row_number() OVER
         |        (ORDER BY ($StratifiedN * c) % total DESC, lang ASC) AS seat,
         |      $StratifiedN - sum(($StratifiedN * c) // total) OVER () AS leftover
         |    FROM cnt CROSS JOIN tot)),
         |sel AS (SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
         |      AS INT) AS rn
         |  FROM documents)
         |SELECT doc_id, sel.lang AS lang, rn
         |FROM sel JOIN alloc ON sel.lang = alloc.lang
         |WHERE rn <= alloc""".stripMargin,
    "ta_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, regexp_extract_all(text, '$re') AS ts
         |           FROM documents),
         |h AS (SELECT doc_id, lang, ts, ${langCases._2} AS mx FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN mx = 0 THEN 'und' ${langCases._3} END AS predicted,
         |  lang = (CASE WHEN mx = 0 THEN 'und' ${langCases._3} END) AS match
         |FROM h""".stripMargin,
    "ta_langid_ngram" -> {
      val langs = TextAnalysis.LangTrigramProfiles.keys.toSeq.sorted
      def profile(l: String) =
        TextAnalysis.LangTrigramProfiles(l).mkString("['", "','", "']")
      val scoreExprs = langs.map(l =>
        l -> s"len(list_intersect(tg, ${profile(l)}))")
      val mx = scoreExprs.map(_._2).mkString("greatest(", ", ", ")")
      val cases = scoreExprs.map { case (l, e) => s"WHEN $e = mx THEN '$l'" }
        .mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, lower(text) AS s FROM documents),
         |g AS (SELECT doc_id, lang,
         |  CASE WHEN length(s) >= 3 THEN list_distinct(
         |    [substring(s, i, 3) for i in range(1, length(s) - 2 + 1)])
         |  ELSE [] END AS tg FROM t),
         |h AS (SELECT doc_id, lang, tg, $mx AS mx FROM g)
         |SELECT doc_id, lang,
         |  CASE WHEN mx = 0 THEN 'und' $cases END AS predicted,
         |  lang = (CASE WHEN mx = 0 THEN 'und' $cases END) AS match
         |FROM h""".stripMargin
    },
    "ta_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, regexp_extract_all(text, '$re') AS ts
         |           FROM documents),
         |h AS (SELECT doc_id, lang, ts, ${langCases._2} AS mx FROM t)
         |SELECT lang,
         |  CASE WHEN mx = 0 THEN 'und' ${langCases._3} END AS predicted,
         |  count(*) AS n
         |FROM h GROUP BY 1, 2""".stripMargin,
    "ta_top_terms" ->
      s"""SELECT term, count(*) AS n
         |FROM (SELECT unnest(regexp_extract_all(text, '$re')) AS term
         |      FROM documents)
         |GROUP BY term ORDER BY n DESC, term ASC LIMIT 50""".stripMargin,
    "ta_term_entropy" ->
      s"""WITH tc AS (SELECT source, term, count(*) AS c FROM
         |    (SELECT source, unnest(regexp_extract_all(text, '$re')) AS term
         |     FROM documents) GROUP BY 1, 2),
         |tot AS (SELECT source, sum(c) AS n FROM tc GROUP BY 1),
         |tev AS (SELECT DISTINCT term AS t, 0 AS doc_id FROM tc),
         |${graft.core.XxHashSql.hash64Ctes("tev", "teh", "tex")},
         |tb AS (SELECT tc.source, tc.term,
         |    CAST(h.h64 % ${VocabFineMask + 1} AS BIGINT) AS fine,
         |    (CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n) AS t
         |  FROM tc JOIN tot USING (source) JOIN teh h ON h.t = tc.term),
         |b1 AS (SELECT source, fine, count(*) AS bn,
         |    list_reduce(list_prepend(0.0, list(t ORDER BY term)),
         |      (a, v) -> a + v) AS bt
         |  FROM tb GROUP BY 1, 2),
         |b2 AS (SELECT source, fine // $VocabCoarseDiv AS coarse,
         |    CAST(sum(bn) AS BIGINT) AS bn,
         |    list_reduce(list_prepend(0.0, list(bt ORDER BY fine)),
         |      (a, v) -> a + v) AS bt
         |  FROM b1 GROUP BY 1, 2)
         |SELECT source, CAST(sum(bn) AS BIGINT) AS n_terms,
         |  round(-list_reduce(list_prepend(0.0, list(bt ORDER BY coarse)),
         |    (a, v) -> a + v), 6) AS entropy
         |FROM b2 GROUP BY source""".stripMargin,
    "ta_corpus_prep" ->
      s"""WITH f AS (SELECT doc_id, lang, source, n_chars, text,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |      list_slice(regexp_extract_all(text, '$re'), 1, 32),
         |      t -> CAST(ascii(t) + length(t) * 7 AS BIGINT))),
         |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         |  FROM documents),
         |d AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |    AS rn FROM f),
         |k AS (SELECT * FROM d WHERE rn = 1 AND lang IN ('en', 'de')
         |      AND n_chars BETWEEN 100 AND 520)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '$re'))) AS BIGINT)
         |    AS total_tokens
         |FROM k GROUP BY 1""".stripMargin,
    "ta_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(regexp_extract_all(text, '$re')) AS term
         |  FROM documents)
         |SELECT term, n FROM (SELECT term, count(*) AS n FROM toks
         |  GROUP BY 1 ORDER BY n DESC, term LIMIT 11)""".stripMargin,
    "ta_sparse_sim" ->
      s"""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '$re'))
         |    AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |vec AS (SELECT doc_id, term, w FROM (
         |  SELECT doc_id, t.term,
         |    round(tf * ln(n_docs * 1.0 / df), 6) AS w,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY round(tf * ln(n_docs * 1.0 / df), 6) DESC,
         |               t.term DESC) AS rn
         |  FROM tf t JOIN dft USING (term) CROSS JOIN n) WHERE rn <= 10),
         |norms AS (SELECT doc_id, sqrt(list_reduce(list_prepend(0.0,
         |    list_transform(list(w ORDER BY term), x -> x * x)),
         |    (a, v) -> a + v)) AS nrm
         |  FROM vec GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    list_reduce(list_prepend(0.0, list(a.w * b.w ORDER BY a.term)),
         |      (x, y) -> x + y) AS dot
         |  FROM vec a JOIN vec b ON a.term = b.term
         |    AND a.doc_id < 100 AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
         |FROM pairs JOIN norms na ON doc_a = na.doc_id
         |           JOIN norms nb ON doc_b = nb.doc_id
         |WHERE dot / (na.nrm * nb.nrm) > 0.5""".stripMargin,
    "ta_ngram_diversity" ->
      s"""WITH t AS MATERIALIZED (SELECT source,
         |    regexp_extract_all(text, '$re') AS ts FROM documents),
         |tot AS (SELECT source,
         |    CAST(sum(greatest(len(ts) - 2, 0)) AS BIGINT) AS total_grams
         |  FROM t GROUP BY 1),
         |g AS (SELECT DISTINCT source, g FROM ($srcGramSubquery)),
         |ty AS (SELECT source, count(*) AS distinct_grams FROM g GROUP BY 1)
         |SELECT tot.source, tot.total_grams, ty.distinct_grams,
         |  round(ty.distinct_grams * 1.0 / tot.total_grams, 6) AS diversity
         |FROM tot JOIN ty USING (source)""".stripMargin,
    "ta_source_overlap" ->
      s"""WITH t AS (SELECT source, regexp_extract_all(text, '$re') AS ts
         |  FROM documents),
         |g AS MATERIALIZED (SELECT DISTINCT source, g
         |  FROM ($srcGramSubquery)),
         |sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS inter
         |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT pr.src_a, pr.src_b, pr.inter,
         |  round(pr.inter * 1.0 / (sa.n + sb.n - pr.inter), 6) AS jaccard
         |FROM pr JOIN sz sa ON pr.src_a = sa.source
         |        JOIN sz sb ON pr.src_b = sb.source""".stripMargin,
    "ta_sparse_sim_bigram" ->
      s"""WITH t0 AS (SELECT doc_id, regexp_extract_all(text, '$re') AS ts
         |  FROM documents),
         |toks AS (SELECT doc_id, w1 || ' ' || w2 AS term FROM (
         |  SELECT doc_id, unnest(ts[1:greatest(len(ts) - 1, 0)]) AS w1,
         |         unnest(ts[2:len(ts)]) AS w2 FROM t0)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |vec AS (SELECT doc_id, term, w FROM (
         |  SELECT doc_id, t.term,
         |    round(tf * ln(n_docs * 1.0 / df), 6) AS w,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY round(tf * ln(n_docs * 1.0 / df), 6) DESC,
         |               t.term DESC) AS rn
         |  FROM tf t JOIN dft USING (term) CROSS JOIN n) WHERE rn <= 10),
         |norms AS (SELECT doc_id, sqrt(list_reduce(list_prepend(0.0,
         |    list_transform(list(w ORDER BY term), x -> x * x)),
         |    (a, v) -> a + v)) AS nrm
         |  FROM vec GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    list_reduce(list_prepend(0.0, list(a.w * b.w ORDER BY a.term)),
         |      (x, y) -> x + y) AS dot
         |  FROM vec a JOIN vec b ON a.term = b.term
         |    AND a.doc_id < 100 AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
         |FROM pairs JOIN norms na ON doc_a = na.doc_id
         |           JOIN norms nb ON doc_b = nb.doc_id
         |WHERE dot / (na.nrm * nb.nrm) > 0.5""".stripMargin,
    "ta_quality_pct" ->
      """SELECT doc_id, n_chars,
        |  round(percent_rank() OVER (ORDER BY n_chars), 6) AS pct
        |FROM documents""".stripMargin,
    "ta_collocations" ->
      s"""WITH toks AS (SELECT regexp_extract_all(text, '$re') AS ts
         |  FROM documents),
         |big AS (SELECT unnest(ts[1:greatest(len(ts) - 1, 0)]) AS w1,
         |               unnest(ts[2:len(ts)]) AS w2 FROM toks),
         |bc AS (SELECT w1, w2, count(*) AS c_xy FROM big GROUP BY 1, 2
         |       HAVING count(*) >= 5),
         |uni AS (SELECT unnest(ts) AS w FROM toks),
         |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         |nu AS (SELECT sum(c) AS nu FROM uc),
         |nb AS (SELECT sum(greatest(len(ts) - 1, 0)) AS nb FROM toks)
         |SELECT w1, w2, c_xy,
         |  round(ln((CAST(c_xy AS DOUBLE) / nb.nb)
         |    / ((CAST(u1.c AS DOUBLE) / nu.nu)
         |      * (CAST(u2.c AS DOUBLE) / nu.nu))), 6) AS pmi
         |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
         |CROSS JOIN nu CROSS JOIN nb
         |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,
    "ta_mutual_info" ->
      s"""WITH cells AS (SELECT coalesce(lang, chr(1)) AS lang,
         |    coalesce(source, chr(1)) AS source, count(*) AS n_xy
         |  FROM documents GROUP BY 1, 2),
         |mx AS (SELECT lang, sum(n_xy) AS n_x FROM cells GROUP BY 1),
         |my AS (SELECT source, sum(n_xy) AS n_y FROM cells GROUP BY 1),
         |nn AS (SELECT sum(n_xy) AS n FROM cells),
         |miv AS (SELECT DISTINCT lang || ':' || source AS t, 0 AS doc_id
         |  FROM cells),
         |${graft.core.XxHashSql.hash64Ctes("miv", "mih", "miw")},
         |t AS (SELECT cells.lang, cells.source,
         |    CAST(h.h64 % ${VocabFineMask + 1} AS BIGINT) AS fine,
         |    (CAST(n_xy AS DOUBLE) / n) * ln((CAST(n_xy AS DOUBLE) / n)
         |      / ((CAST(n_x AS DOUBLE) / n) * (CAST(n_y AS DOUBLE) / n))) AS t
         |  FROM cells JOIN mx USING (lang) JOIN my USING (source)
         |  CROSS JOIN nn
         |  JOIN mih h ON h.t = cells.lang || ':' || cells.source),
         |b1 AS (SELECT fine, count(*) AS bn,
         |    list_reduce(list_prepend(0.0, list(t ORDER BY lang, source)),
         |      (a, v) -> a + v) AS bt
         |  FROM t GROUP BY 1),
         |b2 AS (SELECT fine // $VocabCoarseDiv AS coarse,
         |    CAST(sum(bn) AS BIGINT) AS bn,
         |    list_reduce(list_prepend(0.0, list(bt ORDER BY fine)),
         |      (a, v) -> a + v) AS bt
         |  FROM b1 GROUP BY 1)
         |SELECT CAST(sum(bn) AS BIGINT) AS n_cells,
         |  round(list_reduce(list_prepend(0.0, list(bt ORDER BY coarse)),
         |    (a, v) -> a + v), 6) AS mi
         |FROM b2""".stripMargin,
    "ta_bm25" ->
      s"""WITH $bm25Ctes
         |$bm25Select""".stripMargin,
    "ta_rrf" -> rrfOracle,
    "ta_hybrid_related" -> hybridOracle,
    "ta_split" ->
      s"""SELECT doc_id, lang,
         |  ${graft.core.SplitHash.splitSql("doc_id")} AS split
         |FROM documents""".stripMargin,
    "ta_split_ks" ->
      s"""WITH $qualityFeatureCtes,
         |q0 AS (SELECT d.lang, $qualityScoreSql AS q,
         |  ${graft.core.SplitHash.splitSql("f.doc_id")} AS split
         |  FROM f JOIN documents d ON f.doc_id = d.doc_id),
         |c AS MATERIALIZED (SELECT lang, q,
         |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cv
         |  FROM q0 WHERE split <> 'val' GROUP BY 1, 2),
         |cum AS (SELECT lang, q,
         |    CAST(sum(ct) OVER (PARTITION BY lang ORDER BY q) AS BIGINT)
         |      AS cum_t,
         |    CAST(sum(cv) OVER (PARTITION BY lang ORDER BY q) AS BIGINT)
         |      AS cum_v
         |  FROM c),
         |tot AS (SELECT lang, CAST(sum(ct) AS BIGINT) AS n_train,
         |    CAST(sum(cv) AS BIGINT) AS n_test
         |  FROM c GROUP BY 1
         |  HAVING sum(ct) > 0 AND sum(cv) > 0)
         |SELECT cum.lang, tot.n_train, tot.n_test,
         |  round(max(abs(cum.cum_t / tot.n_train
         |                - cum.cum_v / tot.n_test)), 6) AS ks
         |FROM cum JOIN tot USING (lang)
         |GROUP BY 1, 2, 3""".stripMargin,
    "ta_oov_rate" ->
      s"""WITH tk AS MATERIALIZED (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '$re')) AS term
         |  FROM documents),
         |v AS (SELECT term FROM (
         |    SELECT term, count(*) AS n FROM tk GROUP BY 1)
         |  ORDER BY n DESC, term ASC LIMIT 16)
         |SELECT tk.doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
         |        / count(*), 6) AS oov_rate
         |FROM tk LEFT JOIN v ON tk.term = v.term
         |GROUP BY tk.doc_id""".stripMargin,
    "ta_weighted_sample" ->
      """WITH t AS (SELECT doc_id, n_chars AS weight,
        |    ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) + 0.5) / 4294967296.0) / n_chars AS key
        |  FROM documents)
        |SELECT doc_id, weight, round(key * 10000.0, 6) AS skey
        |FROM t ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,
    "ta_tfidf_top" ->
      s"""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '$re')) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, t.term, round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
         |  FROM tf t JOIN dft USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tfidf FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY doc_id ORDER BY tfidf DESC, term DESC) AS rn
         |  FROM scored) WHERE rn = 1""".stripMargin,
    "mm_decode_stats" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(encode(text)) AS len
        |  FROM documents)
        |SELECT media_type, count(*) AS n_blobs,
        |  CAST(sum(len) AS BIGINT) AS total_bytes,
        |  round(avg(len % 640 + 1), 4) AS avg_width,
        |  round(avg(len % 480 + 1), 4) AS avg_height,
        |  CAST(sum(CASE WHEN media_type = 'video' THEN len % 24 + 1 ELSE 1 END) AS BIGINT)
        |    AS total_frames
        |FROM b GROUP BY media_type""".stripMargin,
    "mm_resize_stats" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(encode(text)) AS len
        |  FROM documents),
        |m AS (SELECT media_type, len % 640 + 1 AS w, len % 480 + 1 AS h FROM b),
        |r AS (SELECT media_type, w, h,
        |        least(320.0 / w, 240.0 / h, 1.0) AS scale FROM m)
        |SELECT media_type, count(*) AS n,
        |  CAST(sum(CASE WHEN scale < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_downscaled,
        |  round(avg(greatest(1, CAST(floor(w * scale) AS INT))), 4) AS avg_out_w,
        |  round(avg(greatest(1, CAST(floor(h * scale) AS INT))), 4) AS avg_out_h
        |FROM r GROUP BY media_type""".stripMargin,
    "mm_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) % 24 + 1 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id,
        |  CAST(ceil(n_frames / 4.0) AS BIGINT) AS n_sampled,
        |  CAST((CAST(ceil(n_frames / 4.0) AS BIGINT) - 1) * 4 AS INT) AS last_frame
        |FROM b""".stripMargin,
    // the stub feature kernel is pure byte math (8-bucket histogram of
    // byte >> 5 over the UTF-8 blob + its entropy), so it replays
    // exactly: bytes come from hex(encode(text)) two digits at a time,
    // the entropy fold runs in bucket order like the Spark array scan
    "mm_features" ->
      """WITH b AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |e AS (SELECT doc_id, hx, n, unnest(range(n)) AS i FROM b),
        |byt AS (SELECT doc_id, n,
        |    ((strpos('0123456789ABCDEF', hx[2*i+1 : 2*i+1]) - 1) * 16
        |     + strpos('0123456789ABCDEF', hx[2*i+2 : 2*i+2]) - 1) // 32 AS bucket
        |  FROM e),
        |h AS (SELECT doc_id, n, bucket, count(*) AS c FROM byt GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, bucket,
        |        CAST(c AS DOUBLE) / greatest(n, 1) AS p FROM h),
        |agg AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN bucket = 1 THEN p END), 0.0) AS f1,
        |    coalesce(sum(CASE WHEN bucket = 3 THEN p END), 0.0) AS f3,
        |    -list_reduce(list_prepend(0.0, list(p * ln(p) ORDER BY bucket)),
        |                 (a, x) -> a + x) AS entropy
        |  FROM p GROUP BY doc_id)
        |SELECT b.doc_id, b.media_type,
        |  round(coalesce(agg.f1, 0.0), 6) AS f1,
        |  round(coalesce(agg.f3, 0.0), 6) AS f3,
        |  round(coalesce(agg.entropy, 0.0), 6) AS entropy
        |FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id""".stripMargin,
    // thumbnail + aHash replay (token slots via the shared XXH64 replay),
    // then the quadratic same-type pair definition — equal to the
    // engine's banded plan by pigeonhole at hamming <= 3
    "mm_phash_pairs" ->
      s"""WITH $phashPhmCtes
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.h, c.h)) AS INT) AS hamming
         |FROM phm a JOIN phm c ON a.media_type = c.media_type
         |  AND a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.h, c.h)) <= 3""".stripMargin,
    // same hash replay, then the engine's ACTUAL banding (16-bit band
    // collisions) rather than the quadratic definition — the histogram
    // reports the candidate stream, complete only at hamming <= 3
    "mm_phash_histogram" ->
      s"""WITH $phashPhmCtes,
         |bnd AS (SELECT doc_id, media_type, h, band,
         |    (h >> CAST(16 * band AS INTEGER)) & 65535::UBIGINT AS bv
         |  FROM phm CROSS JOIN (SELECT unnest(range(4)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |    a.h AS ha, c.h AS hb
         |  FROM bnd a JOIN bnd c ON a.media_type = c.media_type
         |    AND a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id),
         |hist AS (SELECT CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
         |    count(*) AS n_pairs
         |  FROM cand GROUP BY 1)
         |SELECT hamming, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY hamming ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_pairs_le
         |FROM hist""".stripMargin,
  )

  /** Shared CTE prefix of the perceptual-hash oracles: thumbnail + aHash
    * replay ending in `phm (doc_id, media_type, h)`. */
  private def phashPhmCtes: String =
    s"""t0 AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, '$re')) AS t FROM documents),
       |terms AS (SELECT DISTINCT CAST(0 AS BIGINT) AS doc_id, t FROM t0),
       |${graft.core.XxHashSql.hash64Ctes("terms", "pth", "px")},
       |slotmap AS (SELECT t, CAST(h64 & 63::UBIGINT AS INTEGER) AS slot
       |  FROM pth),
       |cnt AS (SELECT t0.doc_id, s.slot, CAST(count(*) AS BIGINT) AS c
       |  FROM t0 JOIN slotmap s USING (t) GROUP BY 1, 2),
       |grid AS (SELECT d.doc_id, g.slot,
       |    least(255, coalesce(cnt.c, 0) * 16) AS v
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(64)) AS slot) g
       |  LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.slot = g.slot),
       |m AS (SELECT doc_id, CAST(sum(v) AS DOUBLE) / 64 AS m
       |  FROM grid GROUP BY doc_id),
       |ph AS (SELECT grid.doc_id,
       |    CAST(sum(CASE WHEN grid.v > m.m
       |      THEN (1::UBIGINT << CAST(grid.slot AS INTEGER))
       |      ELSE 0::UBIGINT END) AS UBIGINT) AS h
       |  FROM grid JOIN m ON grid.doc_id = m.doc_id GROUP BY grid.doc_id),
       |phm AS MATERIALIZED (SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 3 = 0 THEN 'image'
       |         WHEN d.doc_id % 3 = 1 THEN 'audio'
       |         ELSE 'video' END AS media_type, ph.h
       |  FROM documents d JOIN ph ON d.doc_id = ph.doc_id)"""
      .stripMargin
}
