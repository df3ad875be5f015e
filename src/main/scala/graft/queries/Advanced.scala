package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.operators.FuzzyJoin
import graft.streaming.StreamingOps

/** Advanced coverage: multi-level aggregation (grouping sets / rollup —
  * the one-pass collapse of the reference's A2+A3+A4 family, SURVEY.md
  * §2.7 note), judge meta-evaluation P/R/F1 (A10), the fuzzy similarity
  * join (J3/P10/P11/O4), and Structured Streaming (§2.10) run as a real
  * streaming query with a batch oracle.
  */
object Advanced extends graft.QueryModule {

  /** A2+A3+A4 one-pass: rollup over (returnflag, linestatus) — per-pair,
    * per-flag, and grand-total rows in one aggregation pass. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        grouping_id().cast("long").as("gid"))

  /** A10: per-class precision/recall/F1 of the lang-ID heuristic against
    * the labeled lang column — TP/FP/FN from one confusion pass. */
  def langidPrf(spark: SparkSession, dir: String): DataFrame = {
    val pred = AnalysisQueries.langid(spark, dir)
      .select(col("lang"), col("predicted"))
    val perTrue = pred.groupBy(col("lang"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("predicted") === col("lang"), 1).otherwise(0)).as("tp"))
    val perPred = pred.groupBy(col("predicted").as("lang"))
      .agg(count(lit(1)).as("predicted_n"))
    perTrue.join(perPred, Seq("lang"), "left_outer")
      .withColumn("predicted_n", coalesce(col("predicted_n"), lit(0L)))
      .withColumn("precision",
        round(when(col("predicted_n") > 0,
          col("tp") / col("predicted_n")).otherwise(lit(0.0)), 4))
      .withColumn("recall", round(col("tp") / col("support"), 4))
      .withColumn("f1", round(
        when(col("tp") > 0,
          lit(2.0) * (col("tp") / col("predicted_n")) * (col("tp") / col("support"))
            / (col("tp") / col("predicted_n") + col("tp") / col("support")))
          .otherwise(lit(0.0)), 4))
      .select(col("lang"), col("support"), col("tp"), col("predicted_n"),
        col("precision"), col("recall"), col("f1"))
  }

  /** A10 completion: macro and micro averaged precision/recall/F1 over
    * the per-class judge-evaluation metrics (llm_judge_evaluation.py:
    * 179-254 — sklearn's average='macro'/'micro'). Macro = unweighted
    * mean of per-class P/R/F1; micro = pooled-TP ratios, which for
    * single-label multiclass collapse to accuracy. Computed from the
    * unrounded TP/support/predicted counts of [[langidPrf]] — two tiny
    * aggregations over the per-class rows. */
  /** Cohen's kappa for the language-ID classifier — chance-corrected
    * agreement, the statistic that catches "high accuracy because one
    * class dominates" where raw accuracy and even P/R/F1 can flatter:
    * κ = (p_o − p_e)/(1 − p_e) with p_o = Σtp/N and
    * p_e = Σ_c support_c·predicted_c / N². Every accumulated quantity
    * is an exact BIGINT off the same per-class table as [[langidPrf]];
    * the κ arithmetic is pointwise. Degenerate single-class case
    * (p_e = 1) yields NULL in both engines, never a division blowup. */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    val base = langidPrf(spark, dir)
      .select(col("support"), col("tp"), col("predicted_n"))
    val nD = col("n").cast("double")
    val po = col("tp_sum").cast("double") / nD
    val pe = col("cross").cast("double") / (nD * nD)
    base
      .agg(sum(col("support")).as("n"),
        sum(col("tp")).as("tp_sum"),
        sum(col("support") * col("predicted_n")).as("cross"))
      .select(col("n"), round(po, 6).as("po"), round(pe, 6).as("pe"),
        round(when(pe < 1.0, (po - pe) / (lit(1.0) - pe))
          .otherwise(lit(null).cast("double")), 6).as("kappa"))
  }

  def judgePrfMacro(spark: SparkSession, dir: String): DataFrame = {
    val counts = langidPrf(spark, dir)
      .select(col("lang"), col("support"), col("tp"), col("predicted_n"))
    val p = when(col("predicted_n") > 0,
      col("tp") / col("predicted_n")).otherwise(lit(0.0))
    val r = col("tp") / col("support")
    val f = when(col("tp") > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0))
    val per = counts.select(p.as("p"), r.as("r"), f.as("f"),
      col("tp"), col("predicted_n"), col("support"))
    val macroRow = per.agg(
      round(avg(col("p")), 4).as("precision"),
      round(avg(col("r")), 4).as("recall"),
      round(avg(col("f")), 4).as("f1"))
      .select(lit("macro").as("avg_type"), col("precision"), col("recall"), col("f1"))
    val microRow = per.agg(sum(col("tp")).as("tp"),
        sum(col("predicted_n")).as("pn"), sum(col("support")).as("sup"))
      .select(lit("micro").as("avg_type"),
        round(col("tp") / col("pn"), 4).as("precision"),
        round(col("tp") / col("sup"), 4).as("recall"),
        round(when(col("tp") > 0,
          lit(2.0) * (col("tp") / col("pn")) * (col("tp") / col("sup")) /
            (col("tp") / col("pn") + col("tp") / col("sup")))
          .otherwise(lit(0.0)), 4).as("f1"))
    macroRow.union(microRow)
  }

  /** J3/O4: fuzzy best-match self-join on part names — token-set Jaccard
    * within a (p_type, p_size) block, arg-max per part (ties -> lowest
    * key). The compound blocking key is the scale lever (the reference
    * blocks on shared year the same way): block sizes stay bounded, so
    * pairwise similarity inside each block is cheap at any corpus size
    * (p_type alone: 80M pairs / 200 s at sf0.1; with p_size: ~2 s). */
  def fuzzyBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(spark, dir, "part")
      .withColumn("blk", concat_ws("|", col("p_type"), col("p_size")))
    // probe side spread across cores: the blocked pair expansion (~70x
    // fan-out) happens on the probe side of the broadcast join, and the
    // single-row-group scan would otherwise pin it to one task
    val a = Tables.loadSpread(spark, dir, "part")
      .withColumn("blk", concat_ws("|", col("p_type"), col("p_size")))
      .select(col("blk"), col("p_partkey").as("part_a"),
        split(col("p_name"), " ").as("toks_a"))
    val b = parts.select(col("blk"), col("p_partkey").as("part_b"),
      split(col("p_name"), " ").as("toks_b"))
    val sim = size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
      size(array_union(col("toks_a"), col("toks_b"))).cast("double")
    FuzzyJoin.bestMatch(a, b, "blk", "part_a", "part_b",
      when(col("part_a") === col("part_b"), lit(-1.0)).otherwise(sim))
      .select(col("part_a"), col("part_b").as("best_match"),
        round(col("sim"), 6).as("sim"))
  }

  /** J3's scale-safe sibling: the SAME question as [[fuzzyBestMatch]]
    * (best token-Jaccard match per part within its (p_type, p_size)
    * block, ties → lowest key, self at −1.0 when alone) answered by
    * [[FuzzyJoin.tieredBestMatch]]'s subset-signature tiers instead of
    * the within-block all-pairs product. The blocked product is
    * Ω(n²/blocks) on a FIXED block vocabulary (measured 17.2× on the
    * 3.33× 30→100 step — SCALE_NOTES r16); the tiered argmax is
    * O(n·2^|T|) with data-cardinality shuffle keys, so it rides the
    * corpus linearly. Oracled against the SAME quadratic DuckDB
    * argmax as the exact entry — the strongest possible recall bound
    * (exact agreement), asserted per-row by the hash gate and
    * summarized by [[fuzzySigRecall]]. */
  def fuzzyBestMatchSig(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.loadSpread(spark, dir, "part")
      .select(concat_ws("|", col("p_type"), col("p_size")).as("blk"),
        col("p_partkey"), split(col("p_name"), " ").as("toks"))
    FuzzyJoin.tieredBestMatch(parts, "blk", "p_partkey", "toks")
      .select(col("pk").as("part_a"), col("best_pk").as("best_match"),
        round(col("sim"), 6).as("sim"))
  }

  /** The recall report the scale-safe sibling ships with: joins the
    * quadratic argmax against the tiered argmax and counts agreement
    * on (best_match, sim). The tiered algorithm is exact, so the
    * oracle states recall 1.0 outright — any divergence between the
    * two ENGINE implementations drops n_agree below n_exact and fails
    * the hash gate. */
  def fuzzySigRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = fuzzyBestMatch(spark, dir)
      .select(col("part_a"), col("best_match").as("bm_e"), col("sim").as("sim_e"))
    val s = fuzzyBestMatchSig(spark, dir)
      .select(col("part_a"), col("best_match").as("bm_s"), col("sim").as("sim_s"))
    e.join(s, Seq("part_a"), "full_outer")
      .agg(count(col("bm_e")).as("n_exact"), count(col("bm_s")).as("n_sig"),
        sum(when(col("bm_e") === col("bm_s") &&
          col("sim_e") === col("sim_s"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("n_exact"), col("n_sig"), col("n_agree"),
        round(col("n_agree").cast("double") /
          col("n_exact").cast("double"), 6).as("recall"))
  }

  /** A10's seeded balanced evaluation sample (llm_judge_evaluation.py's
    * per-label sampling): N rows per class, selection order derived from a
    * content hash so it is deterministic, engine-independent, and
    * shuffle-parallel (window partitioned by the class). The hash plays
    * the reference's random seed — same "sample", every run, both
    * engines. */
  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("doc_id"), col("rn").cast("int").as("rn"))
  }

  /** Deterministic financial-report-ish text per order: carries a year, a
    * currency amount, a magnitude amount, and other digits, so every
    * branch of the composite score is exercised. Built identically in the
    * DuckDB oracle (floor + BIGINT casts keep the rendering engine-
    * agnostic). */
  private def orderText: org.apache.spark.sql.Column =
    concat(lit("Order "), col("o_orderkey"),
      lit(" total $"), floor(col("o_totalprice")).cast("long"),
      lit(" approx "), floor(col("o_totalprice") / 1000).cast("long"),
      lit(" thousand in "), year(col("o_orderdate")),
      lit(" priority "), col("o_orderpriority"))

  private def orderTexts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"), orderText.as("txt"))

  /** J3 composite score, component layer (oracled): year/amount/other
    * number-family Jaccards on the customer-blocked pair table — exactly
    * the set-similarity terms of augment_finqa.py:81-98, which SQL can
    * reproduce. The SequenceMatcher string term is NOT here (not SQL-
    * expressible); it is golden-spec'd and joins the cascade in
    * [[compositeMatch]]. */
  def compositeComponents(spark: SparkSession, dir: String): DataFrame = {
    val o = orderTexts(spark, dir)
    val a = o.select(col("o_custkey"), col("o_orderkey").as("order_a"),
      col("txt").as("txt_a"))
    val b = o.select(col("o_custkey"), col("o_orderkey").as("order_b"),
      col("txt").as("txt_b"))
    a.join(b, "o_custkey").filter(col("order_a") < col("order_b"))
      .select(col("order_a"), col("order_b"),
        round(FuzzyJoin.numberJaccard(
          FuzzyJoin.extractYears(col("txt_a")),
          FuzzyJoin.extractYears(col("txt_b"))), 6).as("year_sim"),
        round(FuzzyJoin.numberJaccard(
          FuzzyJoin.extractAmounts(col("txt_a")),
          FuzzyJoin.extractAmounts(col("txt_b"))), 6).as("amount_sim"),
        round(FuzzyJoin.numberJaccard(
          FuzzyJoin.extractOthers(col("txt_a")),
          FuzzyJoin.extractOthers(col("txt_b"))), 6).as("other_sim"))
  }

  /** J3 assembled: the full weighted composite (string ratio + number
    * Jaccards, year-bonus cascade) on the blocked join, best match per
    * order via map-side argmax, kept at the reference's 0.4 threshold
    * (augment_finqa.py:114). Blocking mirrors the reference's candidate
    * generation exactly: same company AND same-or-adjacent year
    * (find_matching_document, augment_finqa.py:168-169, compares an entry
    * only against `{company}_{year}.md` and `{company}_{year-1}.md`) —
    * here custkey plays company, order year plays filing year. Besides
    * fidelity, the year band cuts the expensive SequenceMatcher pair set
    * ~4x vs custkey-only blocking. EXACTLY oracled: the DuckDB side
    * replays the SequenceMatcher matching-block recursion as a
    * WITH RECURSIVE CTE (ranges split at the first-longest common
    * substring per difflib's tie order; run lengths via char-list
    * mismatch scan), every float term cast to DOUBLE in Spark's
    * operation order — hash-identical down to the unrounded argmax.
    * The formula is additionally golden-spec'd against an independent
    * implementation in AdvancedSpec. */
  def compositeMatch(spark: SparkSession, dir: String): DataFrame = {
    // Spread by block key BEFORE extraction and join: the single-row-group
    // scan is one partition, and a broadcast join inherits its streamed
    // side's partitioning — without this the pair fan-out AND the
    // SequenceMatcher scoring run in ONE task (measured: the whole query
    // serializes at ~15us/pair on one core). After the exchange the
    // extraction, join, pair explosion and scoring all run block-parallel,
    // in one stage, with nothing but (custkey, orderkey, txt) shuffled.
    // r18: shuffle the RAW order columns and derive txt + extractions
    // AFTER the exchange — the single-split scan stage was computing
    // the concat + regex extraction single-threaded before the
    // exchange (241 ms one-task stage, EntryProbe), and the raw
    // (custkey, orderkey, date, price, priority) row is also narrower
    // than (txt, nrm, 3 extracted arrays) — guide §2.3/§8: move the
    // lightweight proxy, derive block-parallel. Same expressions over
    // the same rows; oracle-gated identical.
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("o_orderpriority"))
      .repartition(spark.sparkContext.defaultParallelism * 2, col("o_custkey"))
      // extract ONCE per order (the pair fan-out would otherwise multiply
      // every regex under it by the block size)
      .select(col("o_custkey"), col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        FuzzyJoin.normalizeText(orderText).as("nrm"),
        FuzzyJoin.extractYears(orderText).as("ys"),
        FuzzyJoin.extractAmounts(orderText).as("ams"),
        FuzzyJoin.extractOthers(orderText).as("ots"))
    def side(s: String) = o.select(col("o_custkey"),
      col("o_orderkey").as(s"order_$s"), col("yr").as(s"yr_$s"),
      col("nrm").as(s"nrm_$s"),
      col("ys").as(s"ys_$s"), col("ams").as(s"ams_$s"), col("ots").as(s"ots_$s"))
    // score each unordered pair once (the composite is symmetric); both
    // sides are the SAME exchange output, so the shuffle-hash hint makes
    // the join reuse it instead of broadcast-collecting an extracted copy.
    // The year band is evaluated INSIDE the join, before the projection
    // that carries the SequenceMatcher UDF, so off-band pairs never reach
    // the expensive kernel.
    val scored = side("a").join(side("b").hint("shuffle_hash"), "o_custkey")
      .filter(col("order_a") < col("order_b") &&
        abs(col("yr_a") - col("yr_b")) <= 1)
      .select(col("order_a"), col("order_b"),
        FuzzyJoin.compositeFromParts(col("nrm_a"), col("nrm_b"),
          col("ys_a"), col("ys_b"), col("ams_a"), col("ams_b"),
          col("ots_a"), col("ots_b")).as("sim"))
    // each scored pair feeds BOTH endpoints' argmax via a 2-way explode —
    // a union of the scored plan would re-evaluate the UDF per branch
    val both = scored.select(col("sim"), explode(array(
        struct(col("order_a").as("owner"), col("order_b").as("cand")),
        struct(col("order_b").as("owner"), col("order_a").as("cand")))).as("p"))
      .select(col("p.owner").as("order_a"), col("p.cand").as("order_b"), col("sim"))
    // map-side argmax (FuzzyJoin.bestMatch pattern), 0.4 threshold
    val key = struct(col("sim"), (-col("order_b")).as("neg_id"))
    both.groupBy(col("order_a"))
      .agg(max_by(col("order_b"), key).as("best_match"),
        max(key).getField("sim").as("sim"))
      .filter(col("sim") >= 0.4)
      .select(col("order_a"), col("best_match"), round(col("sim"), 6).as("sim"))
  }

  /** adv_composite_match oracle, single-sourced fragments. The oracle
    * entry assembles them into the self-contained `WITH RECURSIVE`
    * form (what the driver's gate runs); [[graft.OraclePrelude]]
    * materializes the SAME texts as an iterative breadth-first
    * worklist (`g_cm_*` temp tables, one bounded step per statement)
    * so the sf0.1 gate no longer needs the monolithic recursion that
    * OOMs DuckDB — per-step memory is bounded by the live pair count,
    * not the whole recursion tree. */
  private[graft] val CompositePrCtes: String =
    """t AS (
      |  SELECT o_custkey, o_orderkey, year(o_orderdate) AS yr,
      |    'Order ' || o_orderkey || ' total $' ||
      |    CAST(floor(o_totalprice) AS BIGINT) || ' approx ' ||
      |    CAST(floor(o_totalprice / 1000) AS BIGINT) || ' thousand in ' ||
      |    year(o_orderdate) || ' priority ' || o_orderpriority AS txt
      |  FROM orders),
      |e AS (
      |  SELECT o_custkey, o_orderkey, yr,
      |    trim(regexp_replace(regexp_replace(lower(txt), '[,.()$%]', ' ', 'g'),
      |      '\s+', ' ', 'g')) AS nrm,
      |    list_distinct(regexp_extract_all(txt, '\b(?:19|20)\d{2}\b')) AS years,
      |    list_distinct(list_transform(
      |      regexp_extract_all(txt,
      |        '(?i)\$\s*\d+(?:[,.]\d+)*(?:\s*(?:million|billion|thousand))?|\b\d+(?:[,.]\d+)*\s*(?:million|billion|thousand)\b'),
      |      x -> regexp_replace(lower(x), '[$,\s]', '', 'g'))) AS amounts,
      |    list_filter(
      |      list_distinct(list_transform(
      |        regexp_extract_all(txt,
      |          '\b\d+(?:[,.]\d+)*(?:[eE][+-]?\d+)?\b|\d+(?:\.\d+)?\s*%'),
      |        x -> regexp_replace(x, '[$%,\s]', '', 'g'))),
      |      x -> NOT list_contains(
      |        regexp_extract_all(txt, '\b(?:19|20)\d{2}\b'), x)) AS others
      |  FROM t),
      |pr AS (
      |  SELECT a.o_orderkey AS oa, b.o_orderkey AS ob,
      |    a.nrm AS sa0, b.nrm AS sb0,
      |    length(a.nrm) + length(b.nrm) AS tot,
      |    CASE WHEN len(a.years) > 0 AND len(b.years) > 0
      |      THEN CAST(len(list_intersect(a.years, b.years)) AS DOUBLE)
      |           / len(list_distinct(a.years || b.years))
      |      ELSE CAST(0.0 AS DOUBLE) END AS ysim,
      |    CASE WHEN len(a.amounts) > 0 AND len(b.amounts) > 0
      |      THEN CAST(len(list_intersect(a.amounts, b.amounts)) AS DOUBLE)
      |           / len(list_distinct(a.amounts || b.amounts))
      |      ELSE CAST(0.0 AS DOUBLE) END AS asim,
      |    CASE WHEN len(a.others) > 0 AND len(b.others) > 0
      |      THEN CAST(len(list_intersect(a.others, b.others)) AS DOUBLE)
      |           / len(list_distinct(a.others || b.others))
      |      ELSE CAST(0.0 AS DOUBLE) END AS osim
      |  FROM e a JOIN e b
      |    ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      |   AND abs(a.yr - b.yr) <= 1)""".stripMargin

  /** One breadth-first step of difflib's matching-block recursion: the
    * L/R children of every `src` row's first-longest common block —
    * EXACTLY the recursive CTE's body text with the source relation as
    * a parameter, so the iterative prelude steps and the recursive
    * oracle are the same computation by construction. */
  private[graft] def compositeStepSql(src: String): String =
    s"""SELECT oa, ob, rid || c.tag AS rid, c.csa AS sa, c.csb AS sb,
       |    c.m AS mlen
       |  FROM (
       |    SELECT oa, ob, rid, sa, sb,
       |      min({'nrl': -rl, 'i': i, 'j': j}) AS b
       |    FROM (
       |      SELECT oa, ob, rid, sa, sb, u.i AS i, v.j AS j,
       |        coalesce(
       |          nullif(list_position(
       |            list_transform(range(least(length(sa) - u.i, length(sb) - v.j) + 1),
       |              k -> substr(sa, u.i + k, 1) != substr(sb, v.j + k, 1)),
       |            true), 0) - 1,
       |          least(length(sa) - u.i, length(sb) - v.j) + 1) AS rl
       |      FROM $src,
       |        UNNEST(range(1, length(sa) + 1)) AS u(i),
       |        UNNEST(range(1, length(sb) + 1)) AS v(j)
       |      WHERE substr(sa, u.i, 1) = substr(sb, v.j, 1)
       |        AND (u.i = 1 OR v.j = 1 OR substr(sa, u.i - 1, 1) != substr(sb, v.j - 1, 1))
       |    )
       |    GROUP BY oa, ob, rid, sa, sb
       |  ), UNNEST([
       |      {'tag': 'L', 'csa': substr(sa, 1, b.i - 1),
       |       'csb': substr(sb, 1, b.j - 1), 'm': -b.nrl},
       |      {'tag': 'R', 'csa': substr(sa, b.i - b.nrl),
       |       'csb': substr(sb, b.j - b.nrl), 'm': 0}
       |    ]) AS w(c)""".stripMargin

  private[graft] val CompositeBlocksMmCtes: String =
    s"""blocks(oa, ob, rid, sa, sb, mlen) AS (
       |  SELECT oa, ob, 'r', sa0, sb0, 0 FROM pr
       |  UNION ALL
       |  ${compositeStepSql("blocks")}),
       |mm AS (
       |  SELECT oa, ob, CAST(sum(mlen) AS BIGINT) AS m FROM blocks GROUP BY oa, ob)""".stripMargin

  /** P11: number-family extraction from text columns. */
  def numberExtraction(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).cast("int").as("brand_num"),
        size(split(col("p_name"), " ")).as("n_name_tokens"))

  /** §2.10: REAL Structured Streaming windowed aggregation (file source,
    * watermark, tumbling window, memory sink), drained synchronously. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.windowedEventAgg(spark, dir)

  /** Streaming distribution-drift monitor
    * ([[StreamingOps.driftProfile]]): per-window event-type shares vs
    * the frozen reference profile, scored as L1 distance. */
  def streamDrift(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.driftProfile(spark, dir)

  /** Hopping (sliding) windows: 60-minute windows every 30 minutes, so
    * each event lands in exactly two — `window(ts, len, slide)` in batch
    * mode (identical semantics to its streaming use behind a watermark).
    * The window explode is map-side; only (window, type, partial agg)
    * rows shuffle. */
  def hoppingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "60 minutes", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"), col("n"), col("total_value"))
  }

  /** Stream-stream interval join — see
    * [[graft.streaming.StreamingOps.clickAttribution]]. */
  def streamJoinAttrib(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.clickAttribution(spark, dir)

  /** Session windows (gap 30 min) over events per user — Spark's
    * `session_window` (the streaming-native session operator, here in
    * batch form; identical semantics under a watermark in streaming).
    * Oracle: classic gaps-and-islands (lag + cumulative sum). */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Backward as-of join (purchase -> latest prior view per user): the
    * attribution-join shape, via [[graft.operators.AsOfJoin]]'s
    * union + single-window merge formulation (no pair explosion; one
    * shuffle per side). Oracle: DuckDB's native ASOF LEFT JOIN. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
    graft.operators.AsOfJoin.backward(
        purchases, views, key = "user_id", ts = "ts",
        tiebreak = "view_event_id", rightPrefix = "v_")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("v_view_event_id").as("view_event_id"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("v_ts"))).as("gap_sec"))
  }

  /** Banded interval join via [[graft.operators.RangeJoin]]: views by the
    * same user in the hour BEFORE each purchase (attribution-window
    * count). The band becomes an equi-join key (bin = ts div bandwidth),
    * so the plan is a plain hash join on (user, bin) with <= 2x left row
    * expansion — no broadcast nested loop, no per-key quadratic work.
    * Purchases with no in-window views keep a 0 via the outer re-join. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    val hits = graft.operators.RangeJoin
      .binned(purchases, views, key = "user_id", ts = "ts",
        loSec = -3600, hiSec = 0, rightPrefix = "v_")
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_views"))
    purchases.select(col("event_id"))
      .join(hits, Seq("event_id"), "left_outer")
      .select(col("event_id"), coalesce(col("n_views"), lit(0L)).as("n_views"))
  }

  /** Two-phase salted aggregation — the skew-mitigation pattern for heavy
    * group keys (events has only 5 event_type values; at 100 TB a direct
    * groupBy would hash all rows of one type to one reducer). Phase 1
    * aggregates (key, salt) with 16-way fan-out, phase 2 combines the
    * 16 partials per key. Result is identical to the direct groupBy (the
    * oracle), and both phases keep exact DECIMAL sums. */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 2))).as("ps"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("total_value"))

  /** Skew-mitigated equi-join — the JOIN-side companion of
    * [[saltedAgg]]. Joining a fact table to a low-cardinality dimension
    * on a hot key (event_type: a handful of values) sends every row of
    * a type through ONE reducer in a shuffle join — the classic straggler
    * at 100 TB. Salting restores parallelism semantics-free: the fact
    * side derives salt = pmod(event_id, 16), the dimension replicates
    * 16× via explode(sequence), and the join runs on
    * (event_type, salt) — 16 reducers per hot key, identical rows out.
    * At test scale Catalyst would broadcast the tiny dimension anyway;
    * PlanAuditSpec disables auto-broadcast and pins the two-key shuffled
    * join + the replication Generate — the shape that holds when the
    * dimension is segment-sized and the fact side is the 100 TB one.
    * Metrics are integer-exact (counts + id checksum), so the oracle is
    * the plain unsalted join. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = 16
    val ev = Tables.load(spark, dir, "events")
    val dim = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("type_cnt"))
      .withColumn("salt", explode(sequence(lit(0), lit(s - 1))))
    ev.withColumn("salt", pmod(col("event_id"), lit(s)).cast("int"))
      .join(dim, Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("type_cnt")).as("type_cnt"),
        sum(col("event_id")).as("id_sum"))
  }

  /** Streaming stateful dedup -> aggregation (dropDuplicates state + agg
    * state chained in one streaming query); oracle = batch
    * count(DISTINCT user_id) per type. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.dedupCounts(spark, dir)

  /** Custom-state sessionization (gap 30 min) run as a real
    * flatMapGroupsWithState streaming query over events — the
    * stateful-operator counterpart of [[sessionWindow]], oracled via
    * gaps-and-islands SQL (integer-exact columns only; the running
    * double sum is covered by the StatefulSessionsSpec batch parity). */
  def streamSessions(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.eventSessions(spark, dir, gapSec = 1800L)

  /** Stateful streaming admission quota (at most 5 events per user per
    * hour window, event-time order) — the rate-limit surface as a REAL
    * flatMapGroupsWithState query; oracle = batch
    * row_number() <= 5 per (user, window). */
  def streamRateLimit(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.rateLimitedEvents(spark, dir, windowSec = 3600,
      maxPerWindow = 5)

  /** Per-user EWMA anomaly state as a REAL mapGroupsWithState streaming
    * query ([[StreamingOps.ewmaStates]]); final states replay the batch
    * `rel_ewma` recursive-CTE oracle exactly (single-batch drain). */
  def streamEwma(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.ewmaStates(spark, dir)

  /** JSON scalar extraction from the props column (§2.9 surface:
    * get_json_object / from_json family). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))

  /** Text scrubbing (training-data hygiene): redact digit runs, count
    * redactions — regexp_replace/regexp_count composition. */
  def scrub(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        regexp_replace(col("props"), "\\d+", "<NUM>").as("scrubbed"),
        size(split(col("props"), "\\d+")).minus(1).as("n_redactions"))

  /** Fellegi-Sunter probabilistic record linkage (entity resolution —
    * the curation step that merges records of the same entity across
    * scrapes before dedup/survivorship). Links `customer` against a
    * deterministically corrupted re-scrape of itself: per-field
    * corruption by key residue (name-stem typo @ 1/7, last-digit slip
    * @ 1/11, balance-bucket drift @ 1/5). Candidate pairs come from
    * BLOCKING on the stable (nationkey, mktsegment) attributes — the
    * PassJoin discipline: pair count is sum of block-size products,
    * linear per block, never all-pairs (a skewed block would be salted
    * at 100 TB; these are balanced by construction). Per agreement
    * pattern over the 3 compared fields: log-likelihood weight
    * sum_j ln(m_j/u_j) if field j agrees else ln((1-m_j)/(1-u_j)),
    * where u_j (chance agreement between NON-matches) is estimated from
    * the data as sum_v n_v^2 / N^2 — exact integer aggregates, only the
    * final ratio is floating — and m_j (agreement between true matches)
    * comes from the known corruption model (production systems fit it
    * with EM; the weights math is identical). Output: the 8 agreement
    * patterns with pair counts, true-match counts, the FS weight, and
    * the matched? decision (weight > 0) — the blocking join and the
    * u-statistics are the only shuffles; every u scalar is a 1-row
    * broadcast. */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    // loadSpread: the blocking join broadcasts one side and streams the
    // other on the scan's splits — a single small parquet file put the
    // whole sum-of-block-size-products pair expansion (~1.8M scored
    // pairs at sf0.1) on ONE task (measured: a 0.9 s single-task job
    // dominating the entry). Spreading the scan parallelizes the
    // scoring; every aggregate downstream is order-independent
    // (count/sum over longs, max over doubles).
    val base = Tables.loadSpread(spark, dir, "customer").select(
      col("c_custkey").as("key"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      col("c_name").substr(lit(1), length(col("c_name")) - 1).as("stem"),
      col("c_name").substr(length(col("c_name")), lit(1)).as("last"),
      floor(col("c_acctbal") / 500.0).cast("long").as("bucket"))
    val b = base.select(col("key"), col("nat"), col("seg"),
      when(col("key") % 7 === 0,
        replace(col("stem"), lit("Customer"), lit("Custmer")))
        .otherwise(col("stem")).as("stem"),
      when(col("key") % 11 === 0,
        ((col("last").cast("int") + 1) % 10).cast("string"))
        .otherwise(col("last")).as("last"),
      when(col("key") % 5 === 0, col("bucket") + 1)
        .otherwise(col("bucket")).as("bucket"))
    // chance-agreement u_j = sum_v n_v^2 / N^2 from exact long counts
    def uOf(field: String) = broadcast(
      base.groupBy(col(field)).agg(count(lit(1)).as("n"))
        .agg((sum(col("n") * col("n")).cast("double")
          / (sum(col("n")) * sum(col("n"))).cast("double")).as(s"u_$field")))
    // m_j from the corruption model: P(field survives | true match)
    val (m1, m2, m3) = (6.0 / 7, 10.0 / 11, 4.0 / 5)
    val a = base.select(col("key").as("a_key"), col("nat"), col("seg"),
      col("stem").as("a_stem"), col("last").as("a_last"),
      col("bucket").as("a_bucket"))
    a.join(b.select(col("key").as("b_key"), col("nat"), col("seg"),
        col("stem").as("b_stem"), col("last").as("b_last"),
        col("bucket").as("b_bucket")),
        Seq("nat", "seg")) // blocking join
      .crossJoin(uOf("stem")).crossJoin(uOf("last")).crossJoin(uOf("bucket"))
      .select(
        (col("a_stem") === col("b_stem")).as("ag_stem"),
        (col("a_last") === col("b_last")).as("ag_last"),
        (col("a_bucket") === col("b_bucket")).as("ag_bucket"),
        (col("a_key") === col("b_key")).as("is_true"),
        (when(col("a_stem") === col("b_stem"), log(lit(m1) / col("u_stem")))
          .otherwise(log(lit(1 - m1) / (lit(1.0) - col("u_stem"))))
        + when(col("a_last") === col("b_last"), log(lit(m2) / col("u_last")))
          .otherwise(log(lit(1 - m2) / (lit(1.0) - col("u_last"))))
        + when(col("a_bucket") === col("b_bucket"),
            log(lit(m3) / col("u_bucket")))
          .otherwise(log(lit(1 - m3) / (lit(1.0) - col("u_bucket")))))
          .as("score"))
      .groupBy(col("ag_stem"), col("ag_last"), col("ag_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        round(max(col("score")), 6).as("weight"),
        (max(col("score")) > 0).as("matched"))
  }

  /** Jaro-Winkler best match — the record-linkage comparator the
    * Fellegi-Sunter pipeline composes with ([[recordLinkage]] uses
    * exact field agreements; JW is THE standard fuzzy name comparator,
    * Winkler 1990): each probe part (p_partkey < 100) takes its
    * highest-JW neighbor among parts sharing its first name token
    * (equi-key blocking — candidates never go quadratic), ties broken
    * by lowest candidate id via the argmax struct max. The engine's
    * [[graft.functions.JaroWinkler]] codegen kernel implements the
    * rapidfuzz semantics EXACTLY, so DuckDB's builtin
    * `jaro_winkler_similarity` is the oracle — a cross-IMPLEMENTATION
    * agreement gate, not a replay of our own SQL. */
  def jaroBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val p = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        element_at(split(col("p_name"), " "), 1).as("blk"))
    val probes = p.filter(col("id") < 100)
      .select(col("id").as("probe_id"), col("name").as("pname"),
        col("blk"))
    val cand = p.join(broadcast(probes), Seq("blk"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"),
        struct(round(tf.jaro_winkler(col("pname"), col("name")), 6)
          .as("jw"), (-col("id")).as("neg")).as("s"))
    cand.groupBy(col("probe_id"))
      .agg(max(col("s")).as("b"))
      .select(col("probe_id"), (-col("b.neg")).as("best_id"),
        col("b.jw").as("jw"))
  }

  /** Damerau-Levenshtein best match — the [[jaroBestMatch]] shape with
    * a DISTANCE (argmin) comparator: each probe part takes its
    * lowest-DL neighbor among parts sharing its first name token, ties
    * to the lowest candidate id via the lexicographic struct min. The
    * engine's [[graft.functions.DamerauLevenshtein]] codegen kernel
    * implements the TRUE (unrestricted) byte-domain DL that DuckDB's
    * `damerau_levenshtein` builtin computes, so the builtin is the
    * oracle — the cross-IMPLEMENTATION gate pattern. Blocking keeps
    * candidates linear in block sizes; the per-probe argmin is a plain
    * broadcast-join + groupBy(min) plan at any scale. */
  def damerauBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val p = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        element_at(split(col("p_name"), " "), 1).as("blk"))
    val probes = p.filter(col("id") < 100)
      .select(col("id").as("probe_id"), col("name").as("pname"),
        col("blk"))
    p.join(broadcast(probes), Seq("blk"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"),
        struct(tf.damerau_levenshtein(col("pname"), col("name")).as("d"),
          col("id").as("cid")).as("s"))
      .groupBy(col("probe_id"))
      .agg(min(col("s")).as("b"))
      .select(col("probe_id"), col("b.cid").as("best_id"),
        col("b.d").as("dl_dist"))
  }

  /** Byte-Hamming near-id pairs — customers inside a (nation, segment)
    * block whose FIXED-WIDTH names ('Customer#000000042') differ in at
    * most 2 byte positions: near-collisions in the id space. The
    * engine's [[graft.functions.HammingBytes]] kernel vs DuckDB's
    * `hamming` builtin — the second cross-implementation gate (both
    * compare bytes; the equal-width name format makes DuckDB's
    * raise-on-mismatch unreachable, and `between(0, 2)` excludes the
    * kernel's -1 width-mismatch sentinel should widths ever diverge).
    *
    * Candidates come from BANDED blocking, not an in-block self-join
    * (the block KEY set (nation × segment) is fixed, so a blocked
    * self-join grows ~N²/|blocks| — the one quadratic the r12 sweep
    * measured, ~7× at the 10× frame). The pigeonhole discipline is
    * [[graft.operators.Multimodal]]'s `mm_phash_pairs` 4×16 banding:
    * with 3 bands and ≤ 2 differing byte positions, at most 2 bands
    * can be corrupted, so every Hamming ≤ 2 pair agrees EXACTLY on at
    * least one band — an equi-join on (band index, band value) finds
    * every candidate. Bands are INTERLEAVED over the 9-digit suffix
    * (band j = digit positions j, j+3, j+6): the name's 'Customer#'
    * prefix is constant and sequential ids leave high digits nearly
    * constant, so CONTIGUOUS 3-byte bands would give one degenerate
    * band value shared by every row (full N² again); interleaving puts
    * one high, one mid, one low digit in every band, spreading band
    * cardinality. Differences in the constant prefix (impossible in
    * TPC-H data, but harmless) sit outside every band and only make
    * band agreement more likely — recall stays exact. Candidate pairs
    * are distinct-ed (a pair can agree on 2-3 bands) then verified
    * with [[graft.functions.HammingBytes]]: work is linear in band
    * collisions, not block size. */
  /** Per-row interleaved band signatures (3 rows per customer, one per
    * band). Exposed so the PlanAudit amplification bound can compute
    * Σ per-(nat, seg, band, sig) collision pairs — the EXACT upper
    * bound on the candidate count (candidates are the dedup of the
    * union of per-band self-joins).
    *
    * Density limit, stated as the contract: each band carries ~∛K of
    * the used key space K's entropy (one high, one mid, one low
    * digit), so the candidate/blockPairs ratio behaves like
    * ~3/∛K — 0.25 measured at K=1.5k (sf0.01), ~0.03 at K=1M, ~0.003
    * at the full 9-digit space. The band space is FINITE, so as K
    * approaches 10⁹ the number of true ≤2-Hamming matches is itself
    * quadratic in block density — the plan is output-sensitive
    * (linear in band collisions ≥ matches), which is the best
    * achievable shape for this query. */
  def hammingBanded(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        col("c_custkey").as("key"), col("c_name").as("name"),
        posexplode(array((0 until 3).map { j =>
          concat(substring(col("c_name"), 10 + j, 1),
            substring(col("c_name"), 13 + j, 1),
            substring(col("c_name"), 16 + j, 1))
        }: _*)).as(Seq("band", "sig")))

  /** Banded-blocking candidate pairs: distinct (nat, seg, key_a, key_b,
    * name_a, name_b) rows whose names agree on at least one interleaved
    * digit band. Exposed (pre-verify) so the PlanAudit amplification
    * bound can pin candidates against the per-band collision count. */
  def hammingCandidates(spark: SparkSession, dir: String): DataFrame = {
    val banded = hammingBanded(spark, dir)
    // PINNED shuffled-hash: the band table is the RAW ×4 sig explode of
    // the customer scan — n-proportional, and its static size estimate
    // never saw the fan-out (the rel_edit_pairs misestimate class, made
    // a catalog-wide lint by CatalogPlanLintSpec rule 4). A band-bucket
    // self-join shuffles on (nat, seg, band, sig) at any real scale;
    // broadcasting one side only ever "works" at toy frames.
    banded.as("a").join(banded.as("b").hint("shuffle_hash"),
        col("a.nat") === col("b.nat") && col("a.seg") === col("b.seg") &&
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.key") < col("b.key"))
      .select(col("a.nat").as("nat"), col("a.seg").as("seg"),
        col("a.key").as("key_a"), col("b.key").as("key_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
  }

  def hammingPairs(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    hammingCandidates(spark, dir)
      .select(col("nat"), col("seg"), col("key_a"), col("key_b"),
        tf.hamming_bytes(col("name_a"), col("name_b")).as("hamming"))
      .filter(col("hamming").between(0, 2))
  }

  // ONE window literal shared with the oracle
  private val SnmWindow = 4

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995 — the
    * classic record-linkage candidate generator alongside
    * [[recordLinkage]]'s exact-agreement blocking and
    * [[jaroBestMatch]]'s equi-key blocking): sort each segment by a
    * composite key (account-balance bucket, id), slide a
    * [[SnmWindow]]-row window, and compare only records whose sorted
    * ranks are within the window — candidates are O(n·w) regardless of
    * how skewed the key distribution is, THE property that makes SNM
    * the scale-safe alternative to value-blocking on skewed keys.
    * Comparator: the engine's Jaro-Winkler kernel, so DuckDB's own
    * `jaro_winkler_similarity` replays the scores (cross-impl gate).
    * The rank join is an equi-join on (seg, rn + d), d ∈ 1..w — no
    * range scan, no cartesian.
    *
    * Ranking is scale-safe: a `Window.partitionBy(seg)` row_number
    * would funnel EVERY row of a segment through one task (segments
    * are few and huge — the exact single-task cliff the README bans),
    * so ranks come from [[graft.operators.GlobalOrder.withRowNumber]]
    * — one range-partitioned sort on (seg, bal, key) — rebased per
    * segment by subtracting the segment's min global rank (a
    * segments-sized broadcast). Same ranks, no task ever holds more
    * than one range. */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val c = Tables.load(spark, dir, "customer").select(
      col("c_mktsegment").as("seg"), col("c_custkey").as("key"),
      col("c_name").as("name"),
      floor(col("c_acctbal")).cast("long").as("bal"))
    val ordered = graft.operators.GlobalOrder.withRowNumber(
      c, struct(col("seg"), col("bal"), col("key")), "grn")
    val segBase = ordered.groupBy(col("seg")).agg(min(col("grn")).as("base"))
    val rn = ordered.join(broadcast(segBase), "seg")
      .withColumn("rn", (col("grn") - col("base") + 1L).cast("int"))
      .drop("grn", "base")
    val right = rn.select(col("seg"), col("rn").as("rn_b"),
      col("key").as("key_b"), col("name").as("name_b"),
      col("bal").as("bal_b"))
    rn.select(col("seg"), col("rn"), col("key").as("key_a"),
        col("name").as("name_a"), col("bal").as("bal_a"),
        explode(sequence(lit(1), lit(SnmWindow))).as("d"))
      .withColumn("rn_b", col("rn") + col("d"))
      // pinned shuffled-hash, `right` the build side: the exploded side
      // is SnmWindow × |customer| rows on a pre-explode size estimate,
      // so it must never be a broadcast build
      .join(right.hint("shuffle_hash"), Seq("seg", "rn_b"))
      .select(col("seg"), col("key_a"), col("key_b"),
        (col("bal_b") - col("bal_a")).as("bal_gap"),
        round(tf.jaro_winkler(col("name_a"), col("name_b")), 6).as("jw"))
      .filter(col("jw") >= 0.93)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "adv_jaro_best_match" -> jaroBestMatch,
    "adv_damerau_best_match" -> damerauBestMatch,
    "adv_hamming_pairs" -> hammingPairs,
    "adv_sorted_neighborhood" -> sortedNeighborhood,
    "adv_record_linkage" -> recordLinkage,
    "adv_session_window" -> sessionWindow,
    "adv_json_extract" -> jsonExtract,
    "adv_scrub" -> scrub,
    "adv_rollup" -> rollupAgg,
    "adv_langid_prf" -> langidPrf,
    "adv_cohen_kappa" -> cohenKappa,
    "adv_judge_prf_macro" -> judgePrfMacro,
    "adv_composite_components" -> compositeComponents,
    "adv_composite_match" -> compositeMatch,
    "adv_balanced_sample" -> balancedSample,
    "adv_fuzzy_best_match" -> fuzzyBestMatch,
    "adv_fuzzy_best_match_sig" -> fuzzyBestMatchSig,
    "adv_fuzzy_sig_recall" -> fuzzySigRecall,
    "adv_number_extraction" -> numberExtraction,
    "adv_asof_join" -> asofJoin,
    "adv_range_join" -> rangeJoin,
    "adv_salted_agg" -> saltedAgg,
    "adv_salted_join" -> saltedJoin,
    "stream_window_agg" -> streamWindowAgg,
    "stream_drift" -> streamDrift,
    "stream_dedup_count" -> streamDedup,
    "stream_join_attrib" -> streamJoinAttrib,
    "stream_sessions" -> streamSessions,
    "stream_rate_limit" -> streamRateLimit,
    "stream_ewma" -> streamEwma,
    "adv_hopping_window" -> hoppingWindow,
  )

  /** The quadratic blocked-argmax oracle, shared verbatim by the exact
    * entry and its tiered sibling (same question, independent
    * algorithms — agreement IS the recall proof). */
  private val ExactFuzzyArgmaxSql: String =
    """WITH t AS (SELECT p_type, p_size, p_partkey, string_split(p_name, ' ') AS toks
      |           FROM part),
      |scored AS (
      |  SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
      |    CASE WHEN a.p_partkey = b.p_partkey THEN -1.0
      |         ELSE len(list_intersect(a.toks, b.toks)) * 1.0
      |              / len(list_distinct(a.toks || b.toks)) END AS sim
      |  FROM t a JOIN t b ON a.p_type = b.p_type AND a.p_size = b.p_size)
      |SELECT part_a, part_b AS best_match, round(sim, 6) AS sim FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY part_a ORDER BY sim DESC, part_b ASC) AS rn
      |  FROM scored) WHERE rn = 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // DuckDB's own jaro_winkler_similarity scores the same blocked
    // candidates — the hash gate proves the engine kernel agrees with
    // an independent implementation on real data
    "adv_jaro_best_match" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS name,
        |    split_part(p_name, ' ', 1) AS blk FROM part),
        |pr AS (SELECT id AS probe_id, name AS pname, blk FROM p
        |  WHERE id < 100),
        |cand AS (SELECT pr.probe_id,
        |    {'jw': round(jaro_winkler_similarity(pr.pname, c.name), 6),
        |     'neg': -c.id} AS s
        |  FROM pr JOIN p c ON pr.blk = c.blk AND pr.probe_id <> c.id),
        |best AS (SELECT probe_id, max(s) AS b FROM cand GROUP BY 1)
        |SELECT probe_id, -b.neg AS best_id, b.jw AS jw FROM best""".stripMargin,
    // DuckDB's own damerau_levenshtein over the same blocked candidates
    // — second cross-implementation gate (TRUE byte-domain DL)
    "adv_damerau_best_match" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS name,
        |    split_part(p_name, ' ', 1) AS blk FROM part),
        |pr AS (SELECT id AS probe_id, name AS pname, blk FROM p
        |  WHERE id < 100),
        |cand AS (SELECT pr.probe_id,
        |    {'d': CAST(damerau_levenshtein(pr.pname, c.name) AS INT),
        |     'cid': c.id} AS s
        |  FROM pr JOIN p c ON pr.blk = c.blk AND pr.probe_id <> c.id),
        |best AS (SELECT probe_id, min(s) AS b FROM cand GROUP BY 1)
        |SELECT probe_id, b.cid AS best_id, b.d AS dl_dist FROM best""".stripMargin,
    // Same sorted ranks (tie-broken by key), same window equi-join,
    // DuckDB's own jaro_winkler_similarity as the comparator
    "adv_sorted_neighborhood" ->
      s"""WITH c AS (SELECT c_mktsegment AS seg, c_custkey AS key,
         |    c_name AS name, CAST(floor(c_acctbal) AS BIGINT) AS bal
         |  FROM customer),
         |r AS (SELECT seg, key, name, bal,
         |    CAST(row_number() OVER (PARTITION BY seg ORDER BY bal, key)
         |      AS BIGINT) AS rn
         |  FROM c)
         |SELECT a.seg, a.key AS key_a, b.key AS key_b,
         |  b.bal - a.bal AS bal_gap,
         |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
         |FROM r a JOIN r b
         |  ON a.seg = b.seg AND b.rn - a.rn BETWEEN 1 AND $SnmWindow
         |WHERE round(jaro_winkler_similarity(a.name, b.name), 6)
         |  >= CAST(0.93 AS DOUBLE)""".stripMargin,
    // DuckDB's own hamming over the same fixed-width blocked pairs —
    // third cross-implementation gate (byte Hamming)
    "adv_hamming_pairs" ->
      """SELECT a.c_nationkey AS nat, a.c_mktsegment AS seg,
        |  a.c_custkey AS key_a, b.c_custkey AS key_b,
        |  CAST(hamming(a.c_name, b.c_name) AS INT) AS hamming
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey
        |WHERE hamming(a.c_name, b.c_name) <= 2""".stripMargin,
    "adv_record_linkage" ->
      """WITH base AS (SELECT c_custkey AS key, c_nationkey AS nat,
        |    c_mktsegment AS seg,
        |    substr(c_name, 1, length(c_name) - 1) AS stem,
        |    substr(c_name, length(c_name), 1) AS lastc,
        |    CAST(floor(c_acctbal / CAST(500.0 AS DOUBLE)) AS BIGINT) AS bucket
        |  FROM customer),
        |b AS (SELECT key, nat, seg,
        |    CASE WHEN key % 7 = 0 THEN replace(stem, 'Customer', 'Custmer')
        |      ELSE stem END AS stem,
        |    CASE WHEN key % 11 = 0
        |      THEN CAST((CAST(lastc AS INT) + 1) % 10 AS VARCHAR)
        |      ELSE lastc END AS lastc,
        |    CASE WHEN key % 5 = 0 THEN bucket + 1 ELSE bucket END AS bucket
        |  FROM base),
        |u1 AS (SELECT CAST(sum(n * n) AS DOUBLE)
        |    / CAST(sum(n) * sum(n) AS DOUBLE) AS u_stem
        |  FROM (SELECT count(*) AS n FROM base GROUP BY stem)),
        |u2 AS (SELECT CAST(sum(n * n) AS DOUBLE)
        |    / CAST(sum(n) * sum(n) AS DOUBLE) AS u_last
        |  FROM (SELECT count(*) AS n FROM base GROUP BY lastc)),
        |u3 AS (SELECT CAST(sum(n * n) AS DOUBLE)
        |    / CAST(sum(n) * sum(n) AS DOUBLE) AS u_bucket
        |  FROM (SELECT count(*) AS n FROM base GROUP BY bucket)),
        |p AS (SELECT a.stem = b.stem AS ag_stem, a.lastc = b.lastc AS ag_last,
        |    a.bucket = b.bucket AS ag_bucket, a.key = b.key AS is_true,
        |    (CASE WHEN a.stem = b.stem
        |       THEN ln(CAST(6 AS DOUBLE) / CAST(7 AS DOUBLE) / u_stem)
        |       ELSE ln((CAST(1 AS DOUBLE) - CAST(6 AS DOUBLE) / CAST(7 AS DOUBLE))
        |         / (CAST(1.0 AS DOUBLE) - u_stem)) END
        |     + CASE WHEN a.lastc = b.lastc
        |       THEN ln(CAST(10 AS DOUBLE) / CAST(11 AS DOUBLE) / u_last)
        |       ELSE ln((CAST(1 AS DOUBLE) - CAST(10 AS DOUBLE) / CAST(11 AS DOUBLE))
        |         / (CAST(1.0 AS DOUBLE) - u_last)) END
        |     + CASE WHEN a.bucket = b.bucket
        |       THEN ln(CAST(4 AS DOUBLE) / CAST(5 AS DOUBLE) / u_bucket)
        |       ELSE ln((CAST(1 AS DOUBLE) - CAST(4 AS DOUBLE) / CAST(5 AS DOUBLE))
        |         / (CAST(1.0 AS DOUBLE) - u_bucket)) END) AS score
        |  FROM base a JOIN b ON a.nat = b.nat AND a.seg = b.seg
        |  CROSS JOIN u1 CROSS JOIN u2 CROSS JOIN u3)
        |SELECT ag_stem, ag_last, ag_bucket, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  round(max(score), 6) AS weight, max(score) > 0 AS matched
        |FROM p GROUP BY 1, 2, 3""".stripMargin,
    "stream_ewma" -> Relational.ewmaOracleSql,
    "adv_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    -- STRICTLY greater: session_window merges adjacent windows,
        |    -- i.e. an event exactly gap after the last still extends
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '30 minutes' OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |islands AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM islands GROUP BY user_id, session_id""".stripMargin,
    "adv_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin,
    "adv_scrub" ->
      """SELECT event_id,
        |  regexp_replace(props, '\d+', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(string_split_regex(props, '\d+')) - 1 AS INT) AS n_redactions
        |FROM events""".stripMargin,
    "adv_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "adv_langid_prf" -> {
      val inner = AnalysisQueries.oracleSql("ta_langid")
      s"""WITH pred AS ($inner),
         |per_true AS (
         |  SELECT lang, count(*) AS support,
         |    CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM pred GROUP BY lang),
         |per_pred AS (
         |  SELECT predicted AS lang, count(*) AS predicted_n FROM pred GROUP BY 1)
         |SELECT t.lang, t.support, t.tp,
         |  coalesce(p.predicted_n, 0) AS predicted_n,
         |  round(CASE WHEN coalesce(p.predicted_n, 0) > 0
         |        THEN t.tp * 1.0 / p.predicted_n ELSE 0.0 END, 4) AS precision,
         |  round(t.tp * 1.0 / t.support, 4) AS recall,
         |  round(CASE WHEN t.tp > 0
         |        THEN 2.0 * (t.tp * 1.0 / p.predicted_n) * (t.tp * 1.0 / t.support)
         |             / (t.tp * 1.0 / p.predicted_n + t.tp * 1.0 / t.support)
         |        ELSE 0.0 END, 4) AS f1
         |FROM per_true t LEFT JOIN per_pred p USING (lang)""".stripMargin
    },
    "adv_cohen_kappa" -> {
      val inner = AnalysisQueries.oracleSql("ta_langid")
      s"""WITH pred AS ($inner),
         |per_true AS (
         |  SELECT lang, count(*) AS support,
         |    CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM pred GROUP BY lang),
         |per_pred AS (
         |  SELECT predicted AS lang, count(*) AS predicted_n FROM pred GROUP BY 1),
         |pc AS (
         |  SELECT t.support, t.tp, coalesce(p.predicted_n, 0) AS predicted_n
         |  FROM per_true t LEFT JOIN per_pred p USING (lang)),
         |ag AS (
         |  SELECT CAST(sum(support) AS BIGINT) AS n,
         |    CAST(sum(tp) AS BIGINT) AS tp_sum,
         |    CAST(sum(support * predicted_n) AS BIGINT) AS cross_sum
         |  FROM pc),
         |k AS (
         |  SELECT n,
         |    CAST(tp_sum AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |    CAST(cross_sum AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
         |  FROM ag)
         |SELECT n, round(po, 6) AS po, round(pe, 6) AS pe,
         |  round(CASE WHEN pe < CAST(1.0 AS DOUBLE)
         |    THEN (po - pe) / (CAST(1.0 AS DOUBLE) - pe)
         |    ELSE NULL END, 6) AS kappa
         |FROM k""".stripMargin
    },
    "adv_judge_prf_macro" -> {
      val inner = AnalysisQueries.oracleSql("ta_langid")
      s"""WITH pred AS ($inner),
         |per_true AS (
         |  SELECT lang, count(*) AS support,
         |    CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM pred GROUP BY lang),
         |per_pred AS (
         |  SELECT predicted AS lang, count(*) AS predicted_n FROM pred GROUP BY 1),
         |pc AS (
         |  SELECT t.lang, t.support, t.tp,
         |    coalesce(p.predicted_n, 0) AS predicted_n
         |  FROM per_true t LEFT JOIN per_pred p USING (lang)),
         |m AS (
         |  SELECT tp, predicted_n, support,
         |    CASE WHEN predicted_n > 0
         |         THEN CAST(tp AS DOUBLE) / predicted_n ELSE 0.0 END AS p,
         |    CAST(tp AS DOUBLE) / support AS r
         |  FROM pc),
         |m2 AS (
         |  SELECT *, CASE WHEN tp > 0 THEN 2.0 * p * r / (p + r)
         |                 ELSE 0.0 END AS f FROM m)
         |SELECT 'macro' AS avg_type, round(avg(p), 4) AS precision,
         |  round(avg(r), 4) AS recall, round(avg(f), 4) AS f1 FROM m2
         |UNION ALL
         |SELECT 'micro' AS avg_type,
         |  round(CAST(sum(tp) AS DOUBLE) / sum(predicted_n), 4) AS precision,
         |  round(CAST(sum(tp) AS DOUBLE) / sum(support), 4) AS recall,
         |  round(CASE WHEN sum(tp) > 0
         |    THEN 2.0 * (CAST(sum(tp) AS DOUBLE) / sum(predicted_n))
         |         * (CAST(sum(tp) AS DOUBLE) / sum(support))
         |         / (CAST(sum(tp) AS DOUBLE) / sum(predicted_n)
         |            + CAST(sum(tp) AS DOUBLE) / sum(support))
         |    ELSE 0.0 END, 4) AS f1 FROM m2""".stripMargin
    },
    "adv_balanced_sample" ->
      """SELECT lang, doc_id, CAST(rn AS INT) AS rn FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin,
    "adv_composite_match" ->
      (s"WITH RECURSIVE\n$CompositePrCtes,\n$CompositeBlocksMmCtes,\n" +
      """scored AS (
        |  SELECT oa, ob,
        |    CASE WHEN ysim > 0 THEN least(CAST(1.0 AS DOUBLE),
        |        s * CAST(0.1 AS DOUBLE) + ysim * CAST(0.6 AS DOUBLE)
        |        + asim * CAST(0.2 AS DOUBLE) + osim * CAST(0.1 AS DOUBLE)
        |        + CAST(0.3 AS DOUBLE))
        |      WHEN asim > 0 THEN least(CAST(1.0 AS DOUBLE),
        |        s * CAST(0.2 AS DOUBLE) + asim * CAST(0.5 AS DOUBLE)
        |        + osim * CAST(0.3 AS DOUBLE))
        |      WHEN osim > 0 THEN least(CAST(1.0 AS DOUBLE),
        |        s * CAST(0.4 AS DOUBLE) + osim * CAST(0.6 AS DOUBLE))
        |      ELSE s * CAST(0.5 AS DOUBLE) END AS sim
        |  FROM (
        |    SELECT pr.*, CAST(2.0 AS DOUBLE) * mm.m / pr.tot AS s
        |    FROM pr JOIN mm ON pr.oa = mm.oa AND pr.ob = mm.ob)),
        |orient AS (
        |  SELECT oa AS owner, ob AS cand, sim FROM scored
        |  UNION ALL
        |  SELECT ob AS owner, oa AS cand, sim FROM scored)
        |SELECT owner AS order_a, cand AS best_match, round(sim, 6) AS sim
        |FROM (
        |  SELECT owner, cand, sim, row_number() OVER
        |    (PARTITION BY owner ORDER BY sim DESC, cand ASC) AS rn
        |  FROM orient)
        |WHERE rn = 1 AND sim >= CAST(0.4 AS DOUBLE)""".stripMargin),
    "adv_composite_components" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey,
        |    'Order ' || o_orderkey || ' total $' ||
        |    CAST(floor(o_totalprice) AS BIGINT) || ' approx ' ||
        |    CAST(floor(o_totalprice / 1000) AS BIGINT) || ' thousand in ' ||
        |    year(o_orderdate) || ' priority ' || o_orderpriority AS txt
        |  FROM orders),
        |e AS (
        |  SELECT o_custkey, o_orderkey,
        |    list_distinct(regexp_extract_all(txt, '\b(?:19|20)\d{2}\b')) AS years,
        |    list_distinct(list_transform(
        |      regexp_extract_all(txt,
        |        '(?i)\$\s*\d+(?:[,.]\d+)*(?:\s*(?:million|billion|thousand))?|\b\d+(?:[,.]\d+)*\s*(?:million|billion|thousand)\b'),
        |      x -> regexp_replace(lower(x), '[$,\s]', '', 'g'))) AS amounts,
        |    list_filter(
        |      list_distinct(list_transform(
        |        regexp_extract_all(txt,
        |          '\b\d+(?:[,.]\d+)*(?:[eE][+-]?\d+)?\b|\d+(?:\.\d+)?\s*%'),
        |        x -> regexp_replace(x, '[$%,\s]', '', 'g'))),
        |      x -> NOT list_contains(
        |        regexp_extract_all(txt, '\b(?:19|20)\d{2}\b'), x)) AS others
        |  FROM t),
        |j AS (
        |  SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
        |    a.years AS ya, b.years AS yb, a.amounts AS aa, b.amounts AS ab,
        |    a.others AS oa, b.others AS ob
        |  FROM e a JOIN e b
        |    ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey)
        |SELECT order_a, order_b,
        |  round(CASE WHEN len(ya) > 0 AND len(yb) > 0
        |    THEN len(list_intersect(ya, yb)) * 1.0 / len(list_distinct(ya || yb))
        |    ELSE 0.0 END, 6) AS year_sim,
        |  round(CASE WHEN len(aa) > 0 AND len(ab) > 0
        |    THEN len(list_intersect(aa, ab)) * 1.0 / len(list_distinct(aa || ab))
        |    ELSE 0.0 END, 6) AS amount_sim,
        |  round(CASE WHEN len(oa) > 0 AND len(ob) > 0
        |    THEN len(list_intersect(oa, ob)) * 1.0 / len(list_distinct(oa || ob))
        |    ELSE 0.0 END, 6) AS other_sim
        |FROM j""".stripMargin,
    "adv_fuzzy_best_match" -> ExactFuzzyArgmaxSql,
    // the tiered-signature sibling replays against the SAME quadratic
    // argmax — an independent-algorithm equality gate, not a replay of
    // the tiers
    "adv_fuzzy_best_match_sig" -> ExactFuzzyArgmaxSql,
    "adv_fuzzy_sig_recall" ->
      s"""WITH best AS ($ExactFuzzyArgmaxSql)
        |SELECT count(*) AS n_exact, count(*) AS n_sig,
        |  count(*) AS n_agree, CAST(1.0 AS DOUBLE) AS recall FROM best""".stripMargin,
    "adv_number_extraction" ->
      """SELECT p_partkey,
        |  CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT) AS brand_num,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_name_tokens
        |FROM part""".stripMargin,
    "adv_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
        |SELECT p.event_id, CAST(count(v.ts) AS BIGINT) AS n_views
        |FROM p LEFT JOIN v ON v.user_id = p.user_id
        |  AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |GROUP BY 1""".stripMargin,
    "adv_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     v AS (SELECT user_id, ts, event_id AS view_event_id FROM events
        |           WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  v.view_event_id,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  date_diff('second', v.ts, p.ts) AS gap_sec
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,
    "adv_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    "adv_salted_join" ->
      """WITH dim AS (SELECT event_type, count(*) AS type_cnt
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(max(d.type_cnt) AS BIGINT) AS type_cnt,
        |  CAST(sum(e.event_id) AS BIGINT) AS id_sum
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY 1""".stripMargin,
    "stream_dedup_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "adv_hopping_window" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws,
        |    event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts)
        |      - INTERVAL '30 minutes',
        |    event_type, value FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "stream_join_attrib" ->
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        |  date_diff('second', v.ts, c.ts) AS lag_sec
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id AND v.event_type = 'view'
        |  AND c.event_type = 'click'
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE""".stripMargin,
    "stream_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '45 minutes', ts), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_drift" ->
      """WITH wt AS (
        |  SELECT strftime(time_bucket(INTERVAL '45 minutes', ts),
        |      '%Y-%m-%d %H:%M:%S') AS window_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ref AS (SELECT event_type, count(*) AS rn FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS tn FROM events),
        |wtot AS (SELECT window_start, CAST(sum(n) AS BIGINT) AS wn
        |  FROM wt GROUP BY 1),
        |types AS (SELECT event_type FROM ref
        |  UNION SELECT DISTINCT event_type FROM wt),
        |grid AS (SELECT w.window_start, t.event_type
        |  FROM (SELECT DISTINCT window_start FROM wt) w CROSS JOIN types t),
        |j AS (SELECT g.window_start, g.event_type,
        |    coalesce(ref.rn, 0) AS rn, coalesce(wt.n, 0) AS n
        |  FROM grid g
        |  LEFT JOIN wt ON g.window_start = wt.window_start
        |    AND g.event_type = wt.event_type
        |  LEFT JOIN ref ON g.event_type = ref.event_type)
        |SELECT j.window_start, max(wtot.wn) AS n_events,
        |  round(list_reduce(list_prepend(0.0,
        |    list(abs(CAST(j.n AS DOUBLE) / wtot.wn
        |      - CAST(j.rn AS DOUBLE) / tot.tn) ORDER BY j.event_type)),
        |    (a, x) -> a + x), 6) AS l1_drift
        |FROM j JOIN wtot ON j.window_start = wtot.window_start
        |CROSS JOIN tot
        |GROUP BY j.window_start""".stripMargin,
    // gaps-and-islands replay of the stateful sessionizer; both windows
    // share the (sec, event_id) total order so the break flags and the
    // running session ids bind to the same rows (ties at equal sec can
    // carry at most one break, so tied rows always share a session —
    // matching the fold's `diff 0 <= gap` merge)
    "stream_rate_limit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    ((epoch_us(ts) // 1000000) // 3600) * 3600 AS window_start
        |  FROM events),
        |r AS (
        |  SELECT user_id, window_start, event_id,
        |    CAST(row_number() OVER (PARTITION BY user_id, window_start
        |      ORDER BY ts, event_id) AS INT) AS admit_rank
        |  FROM e)
        |SELECT user_id, window_start, event_id, admit_rank
        |FROM r WHERE admit_rank <= 5""".stripMargin,
    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, sec,
        |    CASE WHEN lag(sec) OVER w IS NULL
        |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |g AS (
        |  SELECT user_id, sec,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(sec) AS session_start, count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,
  )
}
