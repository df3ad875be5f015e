package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.Tokenizer
import graft.Engine
import graft.operators.TruncationStrategies

/** The reference's end-to-end QA dataflow as driver-checkable queries
  * (SURVEY.md §2.5 map/reduce, §2.6 truncation, §2.7 stats, §2.8 batching).
  *
  * `documents` plays the corpus; the question is a fixed scalar. The
  * deterministic ExtractiveModel makes every stage — chunk explode, map
  * scoring, filter, ordered reduce, judge, stats — reproducible in DuckDB
  * SQL (token space), so the whole pipeline is hash-verified, not just
  * rows-counted.
  */
object QaPipeline extends graft.QueryModule {

  private val engine = Engine(format = "hybrid", chunkSize = 64, overlap = 16,
    threshold = Some(1), question = "spark query join data")
  private val cfg = engine.config

  private val TruncMax = 100

  /** M1–M7/P4/P9/A7/O1 in one result: per-doc reduced answers. */
  def mapreduceAnswers(spark: SparkSession, dir: String): DataFrame =
    engine.answers(Tables.loadSpread(spark, dir, "documents"))

  /** + judge & positional batching (O5, P7 5-way judgment). */
  def judged(spark: SparkSession, dir: String): DataFrame =
    engine.judged(Tables.loadSpread(spark, dir, "documents"))

  /** Judgments without batch keys — the cheap base for the judgment
    * aggregations below (skips the global-order pass they never use). */
  private def judgedAnswers(spark: SparkSession, dir: String): DataFrame =
    engine.judgedAnswers(Tables.loadSpread(spark, dir, "documents"))

  /** Judge input blocks: 5 items per batch, XML shape (FIXTURES.md §6). */
  def judgeBlocks(spark: SparkSession, dir: String): DataFrame =
    engine.judgeBlocks(Tables.loadSpread(spark, dir, "documents"))

  /** A4: judgment distribution with share-of-total. */
  def judgmentDistribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    judgedAnswers(spark, dir)
      .groupBy(col("judgment"))
      .agg(count(lit(1)).as("n"))
      .withColumn("pct",
        round(col("n") * lit(1.0) / sum(col("n")).over(Window.partitionBy()), 4))
  }

  /** A2/J2: accuracy by document language — answers re-joined to the
    * (broadcast) documents dimension, grouped by lang. */
  def accuracyByLang(spark: SparkSession, dir: String): DataFrame = {
    // plain load: this side is broadcast (collected to the driver) — a
    // spread shuffle before a broadcast would be pure overhead
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang"))
    judgedAnswers(spark, dir)
      .join(broadcast(docs), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("judgment") === "Correct", 1).otherwise(0)).as("n_correct"),
        round(avg(when(col("judgment") === "Correct", 1.0).otherwise(0.0)), 4)
          .as("accuracy"))
  }

  /** A1/A5/A7: global token-usage summary — one row, whole-corpus. */
  def tokenSummary(spark: SparkSession, dir: String): DataFrame = {
    val m = engine.mapped(Tables.loadSpread(spark, dir, "documents"))
    m.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("total_chunks"),
      sum(col("token_count")).cast("long").as("map_input_tokens"),
      sum(when(col("score") > cfg.threshold, col("token_count")).otherwise(0))
        .cast("long").as("surviving_tokens"),
      round(count(lit(1)) * lit(1.0) / countDistinct(col("doc_id")), 4)
        .as("avg_chunks_per_doc"))
      .withColumn("token_retention",
        round(col("surviving_tokens") * lit(1.0) / col("map_input_tokens"), 4))
  }

  /** M9/T1/T4: truncation pipeline — single-call path, per doc: the
    * engine's truncation step, which scans each document once. */
  def truncation(spark: SparkSession, dir: String): DataFrame =
    engine.truncationAnswers(Tables.loadSpread(spark, dir, "documents"), Nil,
      lit(TruncMax), TruncationStrategies.get("start"), engine.inputs)
      .select("doc_id", "original_tokens", "truncated_tokens",
        "truncation_applied", "score")

  /** A8: corpus-level truncation summary — one row. */
  def truncationSummary(spark: SparkSession, dir: String): DataFrame = {
    truncation(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("truncation_applied"), 1).otherwise(0)).as("n_truncated"),
      round(avg(when(col("truncation_applied"), 1.0).otherwise(0.0)), 4)
        .as("truncation_rate"),
      round(avg(col("original_tokens")), 4).as("avg_original_tokens"),
      round(median(col("original_tokens")), 4).as("median_original_tokens"),
      max(col("original_tokens")).as("max_original_tokens"),
      round(avg(col("truncated_tokens") * lit(1.0) / col("original_tokens")), 4)
        .as("avg_retention"))
  }

  /** §5 answer-quality metrics dataflow (text_evaluation_metrics.py:20-69
    * shape): score every reduced answer against a deterministic reference
    * — the document's first-[[TruncMax]]-token prefix — with the lexical
    * P/R/F1 scorer, then the corpus means. The means fold doc_id-ordered
    * ([[graft.operators.TextMetrics.scoreAnswers]]) so the floats are
    * engine-reproducible; the model-scorer plug point for this same
    * dataflow is spec-pinned in ScaleSpec. */
  def answerPrf(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextMetrics.scoreAnswers(
      answerRefs(spark, dir), "llm_answer", "ref_text", col("doc_id"))

  /** Each document's pipeline answer (`llm_answer`) beside its reference
    * (`ref_text`): the document's first-[[TruncMax]]-token prefix. */
  private def answerRefs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val refs = docs
      .withColumn("t", truncate_tokens(col("text"), lit(TruncMax), lit("start")))
      .select(col("doc_id"), col("t.text").as("ref_text"))
    engine.answers(docs).select(col("doc_id"), col("llm_answer"))
      .join(refs, "doc_id")
  }

  private[queries] val EmbedDims = 16

  /** §5 model-scorer dataflow, REAL end-to-end (reference:
    * text_evaluation_metrics.py:71-189, the BERTScore shape): the same
    * answer/reference pairing as [[answerPrf]] scored through the
    * [[graft.operators.TextMetrics.EmbeddingScorer]] mapPartitions
    * seam with the deterministic random-projection embedding
    * ([[graft.operators.TextMetrics.RandomProjectionScorer]]) — token
    * sign vectors from the engine's hash-family mix, greedy max-cosine
    * alignment, per-doc P/R/F1 in [−1, 1]. Proves the BERTScore-shaped
    * dataflow is one weight file away: a transformer scorer replaces
    * the kernel, nothing else moves. Means fold doc_id-ordered so the
    * floats replay exactly; the DuckDB oracle re-derives the embedding
    * bit-for-bit via the XxHashSql xxh64 + fmix64 chains. */
  def embedScore(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.TextMetrics.scorePairsWith(
      new graft.operators.TextMetrics.RandomProjectionScorer(EmbedDims),
      answerRefs(spark, dir), "llm_answer", "ref_text", "doc_id")
      .select(col("doc_id"), round(col("precision"), 6).as("p"),
        round(col("recall"), 6).as("r"), round(col("f1"), 6).as("f"))
    // two-level corpus-mean fold (doc_id within MeanBlock-sized blocks,
    // blk across) — the TextMetrics.scoreAnswers discipline: the flat
    // global ordered fold would buffer one struct per answer
    scored.groupBy(expr(
        s"cast(doc_id as bigint) div ${graft.operators.TextMetrics.MeanBlock}")
        .as("blk"))
      .agg(count(lit(1)).as("bn"),
        ordered_sum(col("p"), col("doc_id")).as("bp"),
        ordered_sum(col("r"), col("doc_id")).as("br"),
        ordered_sum(col("f"), col("doc_id")).as("bf"))
      .agg(
        sum(col("bn")).as("n"),
        round(ordered_sum(col("bp"), col("blk")) / sum(col("bn")), 6)
          .as("mean_precision"),
        round(ordered_sum(col("br"), col("blk")) / sum(col("bn")), 6)
          .as("mean_recall"),
        round(ordered_sum(col("bf"), col("blk")) / sum(col("bn")), 6)
          .as("mean_f1"))
  }

  // ONE literal pair shared by the rate-source entry and its oracle
  private val RateQaRows = 2000
  private val RateQaPerBatch = 500

  /** Rate-limit throttle on a REAL unbounded source: `rate-micro-batch`
    * request ids → admission gate (observe'd per-batch counts) →
    * stream-static join to documents → the QA map-stage chunk scorer as
    * column HOFs → complete-mode per-doc agg
    * ([[graft.streaming.StreamingOps.rateThrottledQa]]). Oracle = the
    * batch equivalent over range([[RateQaRows]]): request ids are
    * 0..n−1 regardless of batch timing, so the result is deterministic
    * while the SOURCE is genuinely unbounded (the drain polls the sink
    * and stops the query; it can never exhaust the source). */
  def streamRateQa(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.rateThrottledQa(spark, dir,
      cfg.chunkSize, cfg.overlap, cfg.question.split(" ").toSeq,
      rowsPerBatch = RateQaPerBatch, totalRows = RateQaRows)._1

  // deliberately NOT a multiple of the bucket: the boundary batch (250)
  // proves the admission gate clips rather than rounds
  private val RateMetricsRows = 1750
  private val RateMetricsPerBatch = 500

  /** A13 rate/stat counters as a queryable metrics TABLE — the
    * per-batch admission counts of the rate-throttled QA drain,
    * exported through a StreamingQueryListener (QueryProgressEvent):
    * what a production throttle emits to its metrics store, not a
    * driver-side Seq (reference: async_llm_client.py:324-351's
    * rate/stat counters). Deterministic: from a fresh checkpoint,
    * rate-micro-batch batch b emits exactly ids
    * [b·perBatch, (b+1)·perBatch), so batch b admits
    * min(perBatch, total − b·perBatch) — the oracle replays the whole
    * table from `range()`. Trailing zero-admission batches are
    * drain-timing artifacts and are excluded. */
  def streamRateMetrics(spark: SparkSession, dir: String): DataFrame = {
    val perBatch = graft.streaming.StreamingOps.rateThrottledQa(spark, dir,
      cfg.chunkSize, cfg.overlap, cfg.question.split(" ").toSeq,
      rowsPerBatch = RateMetricsPerBatch, totalRows = RateMetricsRows)._2
    import spark.implicits._
    perBatch.filter(_._2 > 0).toDF("batch_id", "admitted")
  }

  private[queries] val RougeMax = 64
  /** 2^64 as a DuckDB HUGEINT literal — the wrap-arithmetic modulus of
    * the bit-parallel LCS replay (the XxHashSql discipline). */
  private val M64 = "18446744073709551616::HUGEINT"

  /** ROUGE-L answer scoring (Lin, 2004) — the sequence-aware companion
    * to [[answerPrf]]'s bag-of-tokens P/R/F1: per doc, the token-level
    * LCS between the pipeline's answer and the document prefix, with
    * precision lcs/|cand|, recall lcs/|ref| and the LCS F-measure. Both
    * sides cap at [[RougeMax]] = 64 tokens — answers are chunk-sized by
    * construction, and the cap puts the oracle's whole bit-parallel DP
    * row in ONE 64-bit word (see the oracle SQL below). The scalar
    * is the codegen [[graft.functions.LcsTokens]] expression: the scan
    * stays in WholeStageCodegen; per-doc work is O(RougeMax^2) flat. */
  def rougeL(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{count_tokens, lcs_tokens}
    val docs = Tables.loadSpread(spark, dir, "documents")
    val cand = engine.answers(docs).select(col("doc_id"), col("llm_answer"))
    cand.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        lcs_tokens(col("llm_answer"), col("text"), lit(RougeMax))
          .cast("long").as("lcs"),
        least(count_tokens(col("llm_answer")), lit(RougeMax))
          .cast("long").as("n_cand"),
        least(count_tokens(col("text")), lit(RougeMax))
          .cast("long").as("n_ref"))
      .withColumn("p", when(col("n_cand") > 0,
        col("lcs").cast("double") / col("n_cand").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("r", when(col("n_ref") > 0,
        col("lcs").cast("double") / col("n_ref").cast("double"))
        .otherwise(lit(0.0)))
      .select(col("doc_id"), col("lcs"), col("n_cand"), col("n_ref"),
        round(col("p"), 6).as("rouge_p"), round(col("r"), 6).as("rouge_r"),
        round(when(col("p") + col("r") > 0,
          lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
          .otherwise(lit(0.0)), 6).as("rouge_f"))
  }

  /** log-BLEU-2 answer scoring — the n-gram-precision companion to
    * [[rougeL]]: per doc, CLIPPED unigram and bigram precision of the
    * pipeline answer against the document's [[TruncMax]]-token prefix,
    * with the brevity penalty. Reported in the LOG domain
    * (log_bleu = min(0, 1 − r/c) + ½ln p1 + ½ln p2 — monotone with
    * BLEU, so ranking/thresholding is unchanged; linear BLEU is
    * exp(log_bleu) for the consumer): `ln` is the engine's one proven
    * cross-engine transcendental (the tf-idf family), while `exp`
    * appears in NO green oracle — the log form keeps this query inside
    * the proven-parity surface. Clipped counts come from the
    * [[graft.functions.TermCounts]]/[[graft.functions.BigramCounts]]
    * map kernels folded with `aggregate` — per-doc map algebra, no
    * shuffle beyond the answer join; zero-precision rows carry NULL
    * (mirrored, never ±inf). */
  def bleu(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{bigram_counts, count_tokens, term_counts}
    def clipped(candMap: org.apache.spark.sql.Column, refMap: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(map_entries(candMap), lit(0L), (acc, e) =>
        acc + least(e.getField("value"),
          coalesce(element_at(refMap, e.getField("key")), lit(0L))))
    val scored = answerRefs(spark, dir)
      .withColumn("c", count_tokens(col("llm_answer")).cast("long"))
      .withColumn("r", least(count_tokens(col("ref_text")), lit(TruncMax))
        .cast("long"))
      .withColumn("clip1", clipped(term_counts(col("llm_answer")),
        term_counts(col("ref_text"))))
      .withColumn("clip2", clipped(bigram_counts(col("llm_answer")),
        bigram_counts(col("ref_text"))))
      .withColumn("p1", when(col("c") > 0,
        col("clip1").cast("double") / col("c").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("p2", when(col("c") > 1,
        col("clip2").cast("double") / (col("c") - 1).cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("bp_log", when(col("c") === 0, lit(null).cast("double"))
        .otherwise(least(lit(0.0),
          lit(1.0) - col("r").cast("double") / col("c").cast("double"))))
    scored.select(col("doc_id"), col("c").as("n_cand"), col("r").as("n_ref"),
      round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
      round(col("bp_log"), 6).as("bp_log"),
      round(when(col("p1") > 0 && col("p2") > 0,
        col("bp_log") + lit(0.5) * log(col("p1")) +
          lit(0.5) * log(col("p2")))
        .otherwise(lit(null).cast("double")), 6).as("log_bleu"))
  }

  /** Formatter variants (factory.py format dispatch): same graph, format
    * semantics swapped. Longer question so format thresholds (5 on 0-10,
    * 50 on 0-100) are reachable. */
  private val fmtQuestion =
    "spark query join data filter group sort merge window stream batch hash"

  /** JSON format: 0-10 scale, threshold 5, XML-wrapped reduce input. */
  def mapreduceJson(spark: SparkSession, dir: String): DataFrame =
    engine.copy(format = "json", threshold = Some(5), question = fmtQuestion)
      .answers(Tables.loadSpread(spark, dir, "documents"))

  /** Plain format: 0-100 scale, threshold 50, newline concat. */
  def mapreducePlain(spark: SparkSession, dir: String): DataFrame =
    engine.copy(format = "plain_text", threshold = Some(50), question = fmtQuestion)
      .answers(Tables.loadSpread(spark, dir, "documents"))

  /** §2.10: the SAME answers graph fed by a file stream through
    * foreachBatch — on a bounded source this must equal the batch result,
    * and it shares the batch oracle, so the driver gate verifies the
    * streaming execution path end-to-end. */
  def streamingAnswers(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.streamingQaAnswers(spark, dir, engine)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_qa_answers" -> streamingAnswers,
    "qa_mapreduce_answers" -> mapreduceAnswers,
    "qa_mapreduce_json" -> mapreduceJson,
    "qa_mapreduce_plain" -> mapreducePlain,
    "qa_judged" -> judged,
    "qa_judge_blocks" -> judgeBlocks,
    "qa_judgment_distribution" -> judgmentDistribution,
    "qa_accuracy_by_lang" -> accuracyByLang,
    "qa_token_summary" -> tokenSummary,
    "qa_truncation" -> truncation,
    "qa_truncation_summary" -> truncationSummary,
    "qa_answer_prf" -> answerPrf,
    "qa_embed_score" -> embedScore,
    "stream_rate_qa" -> streamRateQa,
    "stream_rate_metrics" -> streamRateMetrics,
    "qa_rouge_l" -> rougeL,
    "qa_bleu" -> bleu,
  )

  // ------------------------------------------------------------- oracles

  private val re = Tokenizer.DuckDbTokenRegex
  private val qlist = "['spark','query','join','data']"
  private val stride = cfg.chunkSize - cfg.overlap

  /** Shared CTE prefix: tokenize -> chunk -> score, in token space. */
  private val scoredCte =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '$re') AS ts FROM documents
       |), base AS (
       |  SELECT doc_id, ts, len(ts) AS n,
       |    CASE WHEN len(ts) <= ${cfg.chunkSize} THEN 1
       |         ELSE 1 + CAST(ceil((len(ts) - ${cfg.chunkSize}) / $stride.0) AS INT)
       |    END AS k
       |  FROM toks WHERE len(ts) > 0
       |), idx AS (
       |  SELECT doc_id, ts, n,
       |    CAST(unnest(generate_series(0, k - 1)) AS INT) AS chunk_idx
       |  FROM base
       |), chunks AS (
       |  SELECT doc_id, chunk_idx,
       |    list_slice(ts, chunk_idx * $stride + 1,
       |               least(chunk_idx * $stride + ${cfg.chunkSize}, n)) AS ctoks
       |  FROM idx
       |), scored AS (
       |  SELECT doc_id, chunk_idx, len(ctoks) AS token_count,
       |    least(10, len(list_intersect(list_distinct(ctoks), $qlist))) AS score,
       |    array_to_string(ctoks, ' ') AS content
       |  FROM chunks
       |)""".stripMargin

  private val answersSelect =
    s"""SELECT doc_id,
       |  count(*) AS chunks_before,
       |  CAST(sum(CASE WHEN score > ${cfg.threshold} THEN 1 ELSE 0 END) AS BIGINT) AS chunks_after,
       |  max(score) AS best_score,
       |  coalesce(string_agg(content, chr(10) ORDER BY chunk_idx)
       |             FILTER (WHERE score > ${cfg.threshold}), '') AS reduce_input,
       |  round(sum(CASE WHEN score > ${cfg.threshold} THEN 1 ELSE 0 END) * 1.0
       |        / count(*), 4) AS retention_rate,
       |  coalesce(arg_max(content, score * 1000000 - chunk_idx)
       |             FILTER (WHERE score > ${cfg.threshold}),
       |           'No answer found in document') AS llm_answer
       |FROM scored GROUP BY doc_id""".stripMargin

  private val judgedBody =
    """SELECT *,
      |  CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 5) AS BIGINT) AS batch_id,
      |  CAST((row_number() OVER (ORDER BY doc_id) - 1) % 5 + 1 AS INT) AS item_number
      |FROM (SELECT *,
      |        CASE WHEN chunks_after = 0 THEN 'No answer'
      |             WHEN best_score >= 4 THEN 'Correct'
      |             WHEN best_score = 3 THEN 'Coherent'
      |             WHEN best_score = 2 THEN 'Deviated'
      |             ELSE 'Incorrect' END AS judgment
      |      FROM answers)""".stripMargin

  private val judgedSql = s"$scoredCte, answers AS ($answersSelect)\n$judgedBody"

  /** Parameterized oracle for the format variants. */
  private def fmtOracle(scale: Int, threshold: Int, xml: Boolean): String = {
    val qlist2 = fmtQuestion.split(" ").mkString("['", "','", "']")
    val contentExpr =
      if (xml)
        """'<chunk_' || chunk_idx || '>' ||
          |replace(replace(replace(replace(replace(content,
          |  '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
          |  '"', '&quot;'), '''', '&apos;') || '</chunk_' || chunk_idx || '>'"""
          .stripMargin.replaceAll("\n", " ")
      else "content"
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '$re') AS ts FROM documents
       |), base AS (
       |  SELECT doc_id, ts, len(ts) AS n,
       |    CASE WHEN len(ts) <= ${cfg.chunkSize} THEN 1
       |         ELSE 1 + CAST(ceil((len(ts) - ${cfg.chunkSize}) / $stride.0) AS INT)
       |    END AS k
       |  FROM toks WHERE len(ts) > 0
       |), idx AS (
       |  SELECT doc_id, ts, n,
       |    CAST(unnest(generate_series(0, k - 1)) AS INT) AS chunk_idx
       |  FROM base
       |), chunks AS (
       |  SELECT doc_id, chunk_idx,
       |    list_slice(ts, chunk_idx * $stride + 1,
       |               least(chunk_idx * $stride + ${cfg.chunkSize}, n)) AS ctoks
       |  FROM idx
       |), scored AS (
       |  SELECT doc_id, chunk_idx,
       |    least(10, len(list_intersect(list_distinct(ctoks), $qlist2))) * ${scale / 10} AS score,
       |    array_to_string(ctoks, ' ') AS content
       |  FROM chunks
       |)
       |SELECT doc_id,
       |  count(*) AS chunks_before,
       |  CAST(sum(CASE WHEN score > $threshold THEN 1 ELSE 0 END) AS BIGINT) AS chunks_after,
       |  max(score) AS best_score,
       |  coalesce(string_agg($contentExpr, chr(10) ORDER BY chunk_idx)
       |             FILTER (WHERE score > $threshold), '') AS reduce_input,
       |  round(sum(CASE WHEN score > $threshold THEN 1 ELSE 0 END) * 1.0
       |        / count(*), 4) AS retention_rate,
       |  coalesce(arg_max(content, score * 1000000 - chunk_idx)
       |             FILTER (WHERE score > $threshold),
       |           'No answer found in document') AS llm_answer
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "stream_qa_answers" -> s"$scoredCte\n$answersSelect",
    "qa_mapreduce_answers" -> s"$scoredCte\n$answersSelect",
    "qa_mapreduce_json" -> fmtOracle(10, 5, xml = true),
    "qa_mapreduce_plain" -> fmtOracle(100, 50, xml = false),
    "qa_judged" -> judgedSql,
    "qa_judge_blocks" ->
      s"""$scoredCte, answers AS ($answersSelect), judged AS ($judgedBody)
         |SELECT batch_id, count(*) AS n_items,
         |  string_agg('<qa_pair id="' || item_number || '"><answer>' ||
         |    replace(replace(replace(replace(replace(llm_answer,
         |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
         |      '"', '&quot;'), '''', '&apos;') || '</answer></qa_pair>',
         |    chr(10) ORDER BY item_number) AS judge_block
         |FROM judged GROUP BY batch_id""".stripMargin,
    "qa_judgment_distribution" ->
      s"""$scoredCte, answers AS ($answersSelect)
         |SELECT judgment, n, round(n * 1.0 / sum(n) OVER (), 4) AS pct FROM (
         |  SELECT CASE WHEN chunks_after = 0 THEN 'No answer'
         |              WHEN best_score >= 4 THEN 'Correct'
         |              WHEN best_score = 3 THEN 'Coherent'
         |              WHEN best_score = 2 THEN 'Deviated'
         |              ELSE 'Incorrect' END AS judgment, count(*) AS n
         |  FROM answers GROUP BY 1)""".stripMargin,
    "qa_accuracy_by_lang" ->
      s"""$scoredCte, answers AS ($answersSelect)
         |SELECT d.lang, count(*) AS n,
         |  CAST(sum(CASE WHEN a.chunks_after > 0 AND a.best_score >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(avg(CASE WHEN a.chunks_after > 0 AND a.best_score >= 4 THEN 1.0 ELSE 0.0 END), 4) AS accuracy
         |FROM answers a JOIN documents d USING (doc_id)
         |GROUP BY d.lang""".stripMargin,
    "qa_token_summary" ->
      s"""$scoredCte
         |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS total_chunks,
         |  CAST(sum(token_count) AS BIGINT) AS map_input_tokens,
         |  CAST(sum(CASE WHEN score > ${cfg.threshold} THEN token_count ELSE 0 END) AS BIGINT)
         |    AS surviving_tokens,
         |  round(count(*) * 1.0 / count(DISTINCT doc_id), 4) AS avg_chunks_per_doc,
         |  round(sum(CASE WHEN score > ${cfg.threshold} THEN token_count ELSE 0 END) * 1.0
         |        / sum(token_count), 4) AS token_retention
         |FROM scored""".stripMargin,
    "qa_truncation" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '$re') AS ts FROM documents
         |)
         |SELECT doc_id, len(ts) AS original_tokens,
         |  least(len(ts), $TruncMax) AS truncated_tokens,
         |  len(ts) > $TruncMax AS truncation_applied,
         |  least(10, len(list_intersect(
         |    list_distinct(list_slice(ts, 1, least(len(ts), $TruncMax))), $qlist))) AS score
         |FROM toks""".stripMargin,
    "qa_bleu" ->
      s"""$scoredCte, answers AS ($answersSelect),
         |ca AS (SELECT doc_id, regexp_extract_all(llm_answer, '$re') AS ct
         |  FROM answers),
         |rf AS (SELECT doc_id, list_slice(ts, 1, $TruncMax) AS rt FROM toks),
         |cu AS (SELECT doc_id, t, count(*) AS c FROM
         |  (SELECT doc_id, unnest(ct) AS t FROM ca) GROUP BY 1, 2),
         |ru AS (SELECT doc_id, t, count(*) AS c FROM
         |  (SELECT doc_id, unnest(rt) AS t FROM rf) GROUP BY 1, 2),
         |k1 AS (SELECT cu.doc_id,
         |    CAST(sum(least(cu.c, coalesce(ru.c, 0))) AS BIGINT) AS clip1
         |  FROM cu LEFT JOIN ru ON cu.doc_id = ru.doc_id AND cu.t = ru.t
         |  GROUP BY 1),
         |cb AS (SELECT doc_id, t, count(*) AS c FROM
         |  (SELECT doc_id, unnest([ct[i] || ' ' || ct[i + 1]
         |     for i in range(1, len(ct))]) AS t FROM ca) GROUP BY 1, 2),
         |rb AS (SELECT doc_id, t, count(*) AS c FROM
         |  (SELECT doc_id, unnest([rt[i] || ' ' || rt[i + 1]
         |     for i in range(1, len(rt))]) AS t FROM rf) GROUP BY 1, 2),
         |k2 AS (SELECT cb.doc_id,
         |    CAST(sum(least(cb.c, coalesce(rb.c, 0))) AS BIGINT) AS clip2
         |  FROM cb LEFT JOIN rb ON cb.doc_id = rb.doc_id AND cb.t = rb.t
         |  GROUP BY 1),
         |bb AS (SELECT ca.doc_id, len(ct) AS c, len(rt) AS r,
         |    coalesce(k1.clip1, 0) AS clip1, coalesce(k2.clip2, 0) AS clip2
         |  FROM ca JOIN rf USING (doc_id)
         |  LEFT JOIN k1 USING (doc_id) LEFT JOIN k2 USING (doc_id)),
         |pr AS (SELECT doc_id, c, r,
         |    CASE WHEN c > 0 THEN CAST(clip1 AS DOUBLE) / CAST(c AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END AS p1,
         |    CASE WHEN c > 1 THEN CAST(clip2 AS DOUBLE) / CAST(c - 1 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END AS p2,
         |    CASE WHEN c = 0 THEN NULL
         |         ELSE least(CAST(0.0 AS DOUBLE),
         |           CAST(1.0 AS DOUBLE) - CAST(r AS DOUBLE) / CAST(c AS DOUBLE))
         |    END AS bp_log
         |  FROM bb)
         |SELECT doc_id, c AS n_cand, r AS n_ref,
         |  round(p1, 6) AS p1, round(p2, 6) AS p2,
         |  round(bp_log, 6) AS bp_log,
         |  round(CASE WHEN p1 > 0 AND p2 > 0
         |    THEN bp_log + CAST(0.5 AS DOUBLE) * ln(p1)
         |       + CAST(0.5 AS DOUBLE) * ln(p2)
         |    ELSE NULL END, 6) AS log_bleu
         |FROM pr""".stripMargin,
    // ROUGE-L replay: LCS by the Allison–Dix BIT-PARALLEL algorithm —
    // the reference row fits ONE 64-bit word ([[RougeMax]] = 64), so
    // per-token masks m[tok] = OR of position bits and the classic
    // update R' = x & ~(x − ((R<<1)|1)) with x = m|R give
    // lcs = popcount(R). LCS length is an exact integer, so ANY correct
    // algorithm matches the engine's DP kernel bit-for-bit — the oracle
    // is free to use the O(n·⌈n/64⌉) form instead of replaying the
    // O(n²) DP row list (which as a recursive CTE cost 8.9 s of the
    // sf0.01 gate; this form runs in ~0.5 s). Wrap arithmetic runs as
    // HUGEINT mod 2^64 (the XxHashSql discipline); ~R is xor with
    // 2^64−1; the fold state is a scalar HUGEINT (scalar-state
    // list_reduce is safe — only STRUCT-state folds alias).
    "qa_rouge_l" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '$re') AS ts FROM documents
         |), base AS (
         |  SELECT doc_id, ts, len(ts) AS n,
         |    CASE WHEN len(ts) <= ${cfg.chunkSize} THEN 1
         |         ELSE 1 + CAST(ceil((len(ts) - ${cfg.chunkSize}) / $stride.0) AS INT)
         |    END AS k
         |  FROM toks WHERE len(ts) > 0
         |), idx AS (
         |  SELECT doc_id, ts, n,
         |    CAST(unnest(generate_series(0, k - 1)) AS INT) AS chunk_idx
         |  FROM base
         |), chunks AS (
         |  SELECT doc_id, chunk_idx,
         |    list_slice(ts, chunk_idx * $stride + 1,
         |               least(chunk_idx * $stride + ${cfg.chunkSize}, n)) AS ctoks
         |  FROM idx
         |), scored AS (
         |  SELECT doc_id, chunk_idx, len(ctoks) AS token_count,
         |    least(10, len(list_intersect(list_distinct(ctoks), $qlist))) AS score,
         |    array_to_string(ctoks, ' ') AS content
         |  FROM chunks
         |), answers AS ($answersSelect),
         |pairs AS (
         |  SELECT a.doc_id,
         |    list_slice(regexp_extract_all(a.llm_answer, '$re'), 1, $RougeMax) AS cts,
         |    list_slice(t.ts, 1, $RougeMax) AS rts
         |  FROM answers a JOIN toks t USING (doc_id)),
         |mask AS (
         |  SELECT doc_id, tok, CAST(sum(b) AS HUGEINT) AS m FROM (
         |    SELECT doc_id, rts[j] AS tok,
         |      CAST((1::HUGEINT << (j - 1)) % $M64 AS HUGEINT) AS b
         |    FROM (SELECT doc_id, rts, unnest(range(1, len(rts) + 1)) AS j
         |          FROM pairs))
         |  GROUP BY doc_id, tok),
         |cexp AS (SELECT doc_id, unnest(cts) AS tok,
         |    generate_subscripts(cts, 1) AS i FROM pairs),
         |mseq AS (
         |  SELECT c.doc_id, list(coalesce(k.m, 0::HUGEINT) ORDER BY c.i) AS ms
         |  FROM cexp c LEFT JOIN mask k ON k.doc_id = c.doc_id AND k.tok = c.tok
         |  GROUP BY c.doc_id),
         |folded AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(0::HUGEINT, ms),
         |      (R, m) -> ((m | R) & xor(
         |        (((m | R) - ((CAST((R << 1) % $M64 AS HUGEINT)) | 1::HUGEINT)
         |          + $M64) % $M64),
         |        18446744073709551615::HUGEINT))) AS R
         |  FROM mseq),
         |fin AS (
         |  SELECT p.doc_id,
         |    CAST(coalesce(bit_count(CAST(f.R AS UBIGINT)), 0) AS BIGINT) AS lcs,
         |    len(p.cts) AS n_cand, len(p.rts) AS n_ref
         |  FROM pairs p LEFT JOIN folded f USING (doc_id)),
         |pr AS (
         |  SELECT doc_id, lcs, n_cand, n_ref,
         |    CASE WHEN n_cand > 0
         |      THEN CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS p,
         |    CASE WHEN n_ref > 0
         |      THEN CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS r
         |  FROM fin)
         |SELECT doc_id, lcs, n_cand, n_ref,
         |  round(p, 6) AS rouge_p, round(r, 6) AS rouge_r,
         |  round(CASE WHEN p + r > 0
         |    THEN CAST(2.0 AS DOUBLE) * p * r / (p + r)
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS rouge_f
         |FROM pr""".stripMargin,
    "qa_answer_prf" ->
      s"""$scoredCte, answers AS ($answersSelect),
         |refs AS (
         |  SELECT doc_id, list_distinct(list_slice(ts, 1,
         |    least(len(ts), $TruncMax))) AS rtoks
         |  FROM toks
         |), prf AS (
         |  SELECT a.doc_id,
         |    CASE WHEN len(ctoks) > 0
         |      THEN len(list_intersect(ctoks, rtoks)) * 1.0 / len(ctoks)
         |      ELSE 0.0 END AS p,
         |    CASE WHEN len(rtoks) > 0
         |      THEN len(list_intersect(ctoks, rtoks)) * 1.0 / len(rtoks)
         |      ELSE 0.0 END AS r
         |  FROM (SELECT doc_id,
         |          list_distinct(regexp_extract_all(llm_answer, '$re')) AS ctoks
         |        FROM answers) a JOIN refs USING (doc_id)
         |), prf2 AS (
         |  SELECT doc_id, doc_id // ${graft.operators.TextMetrics.MeanBlock}
         |      AS blk,
         |    round(p, 6) AS p, round(r, 6) AS r,
         |    round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
         |               ELSE 0.0 END, 6) AS f1
         |  FROM prf
         |), prfb AS (
         |  SELECT blk, count(*) AS bn,
         |    list_reduce(list_prepend(0.0, list(p ORDER BY doc_id)),
         |      (a, b) -> a + b) AS bp,
         |    list_reduce(list_prepend(0.0, list(r ORDER BY doc_id)),
         |      (a, b) -> a + b) AS br,
         |    list_reduce(list_prepend(0.0, list(f1 ORDER BY doc_id)),
         |      (a, b) -> a + b) AS bf
         |  FROM prf2 GROUP BY blk
         |)
         |SELECT CAST(sum(bn) AS BIGINT) AS n,
         |  round(list_reduce(list_prepend(0.0, list(bp ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(bn) AS DOUBLE), 6) AS mean_precision,
         |  round(list_reduce(list_prepend(0.0, list(br ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(bn) AS DOUBLE), 6) AS mean_recall,
         |  round(list_reduce(list_prepend(0.0, list(bf ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(bn) AS DOUBLE), 6) AS mean_f1
         |FROM prfb""".stripMargin,
    // The random-projection embedding replayed bit-for-bit: xxh64 per
    // distinct token (XxHashSql chain), 16 family hashes via the
    // k·GOLDEN xor + fmix64 mix, low bits packed into a 16-bit mask;
    // cos(c, r) = (16 − 2·bit_count(xor)) / 16, greedy max alignment
    // per side, one float division per doc side — the engine kernel's
    // exact arithmetic (RandomProjectionScorer).
    "qa_embed_score" ->
      s"""$scoredCte, answers AS ($answersSelect),
         |refs AS (
         |  SELECT doc_id, list_distinct(list_slice(ts, 1,
         |    least(len(ts), $TruncMax))) AS rtoks
         |  FROM toks
         |), cset AS (
         |  SELECT doc_id,
         |    list_distinct(regexp_extract_all(llm_answer, '$re')) AS ctoks
         |  FROM answers
         |), bothd AS (
         |  SELECT c.doc_id AS doc_id, ctoks, rtoks
         |  FROM cset c JOIN refs USING (doc_id)
         |), vt0 AS (
         |  SELECT DISTINCT 0::BIGINT AS doc_id, t FROM (
         |    SELECT unnest(ctoks) AS t FROM bothd
         |    UNION ALL SELECT unnest(rtoks) AS t FROM bothd)
         |),
         |${graft.core.XxHashSql.hash64Ctes("vt0", "vbase", "ex")},
         |vkj AS (
         |  SELECT t, xor(h64, CAST((CAST(k AS HUGEINT) *
         |      ${java.lang.Long.toUnsignedString(0x9E3779B97F4A7C15L)}::HUGEINT) %
         |      18446744073709551616::HUGEINT AS UBIGINT)) AS h, k
         |  FROM vbase CROSS JOIN (SELECT unnest(range($EmbedDims)) AS k)),
         |${graft.core.XxHashSql.fmixCtes("vkf", "vkj", "vkfo", Seq("t", "k"))},
         |vmask AS (
         |  SELECT t, CAST(sum(CASE WHEN (h & 1::UBIGINT) = 0::UBIGINT
         |    THEN (1::BIGINT << k) ELSE 0::BIGINT END) AS UBIGINT) AS m
         |  FROM vkfo GROUP BY t),
         |cm AS (SELECT doc_id, ct, m FROM
         |  (SELECT doc_id, unnest(ctoks) AS ct FROM bothd) cu
         |  JOIN vmask ON cu.ct = vmask.t),
         |rmk AS (SELECT doc_id, rt, m FROM
         |  (SELECT doc_id, unnest(rtoks) AS rt FROM bothd) ru
         |  JOIN vmask ON ru.rt = vmask.t),
         |bestc AS (
         |  SELECT cm.doc_id AS doc_id, cm.ct,
         |    min(bit_count(xor(cm.m, rmk.m))) AS minh
         |  FROM cm JOIN rmk ON cm.doc_id = rmk.doc_id
         |  GROUP BY cm.doc_id, cm.ct),
         |bestr AS (
         |  SELECT rmk.doc_id AS doc_id, rmk.rt,
         |    min(bit_count(xor(rmk.m, cm.m))) AS minh
         |  FROM rmk JOIN cm ON rmk.doc_id = cm.doc_id
         |  GROUP BY rmk.doc_id, rmk.rt),
         |pdoc AS (SELECT doc_id,
         |    sum($EmbedDims - 2 * minh) / ($EmbedDims.0 * count(*)) AS p
         |  FROM bestc GROUP BY doc_id),
         |rdoc AS (SELECT doc_id,
         |    sum($EmbedDims - 2 * minh) / ($EmbedDims.0 * count(*)) AS r
         |  FROM bestr GROUP BY doc_id),
         |prf AS (
         |  SELECT b.doc_id AS doc_id,
         |    CASE WHEN len(ctoks) = 0 OR len(rtoks) = 0 THEN 0.0
         |         ELSE pdoc.p END AS p,
         |    CASE WHEN len(ctoks) = 0 OR len(rtoks) = 0 THEN 0.0
         |         ELSE rdoc.r END AS r
         |  FROM bothd b LEFT JOIN pdoc USING (doc_id)
         |    LEFT JOIN rdoc USING (doc_id)
         |), prf2 AS (
         |  SELECT doc_id, doc_id // ${graft.operators.TextMetrics.MeanBlock}
         |      AS blk,
         |    round(p, 6) AS p, round(r, 6) AS r,
         |    round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
         |               ELSE 0.0 END, 6) AS f1
         |  FROM prf
         |), prfb AS (
         |  SELECT blk, count(*) AS bn,
         |    list_reduce(list_prepend(0.0, list(p ORDER BY doc_id)),
         |      (a, b) -> a + b) AS bp,
         |    list_reduce(list_prepend(0.0, list(r ORDER BY doc_id)),
         |      (a, b) -> a + b) AS br,
         |    list_reduce(list_prepend(0.0, list(f1 ORDER BY doc_id)),
         |      (a, b) -> a + b) AS bf
         |  FROM prf2 GROUP BY blk
         |)
         |SELECT CAST(sum(bn) AS BIGINT) AS n,
         |  round(list_reduce(list_prepend(0.0, list(bp ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(bn) AS DOUBLE), 6) AS mean_precision,
         |  round(list_reduce(list_prepend(0.0, list(br ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(bn) AS DOUBLE), 6) AS mean_recall,
         |  round(list_reduce(list_prepend(0.0, list(bf ORDER BY blk)),
         |    (a, b) -> a + b) / CAST(sum(bn) AS DOUBLE), 6) AS mean_f1
         |FROM prfb""".stripMargin,
    // batch replay of the rate-source drive: request ids 0..n−1 route
    // v % |documents|; per-doc chunk windows at `stride`, distinct-token
    // overlap with the question terms capped at 10 — the map-stage
    // scorer formula the streaming column HOFs compute
    "stream_rate_qa" ->
      s"""WITH reqs AS (
         |  SELECT CAST(v % (SELECT count(*) FROM documents) AS BIGINT) AS doc_id
         |  FROM (SELECT unnest(range($RateQaRows)) AS v)
         |), rc AS (
         |  SELECT doc_id, count(*) AS n_requests FROM reqs GROUP BY doc_id
         |), toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '$re') AS ts FROM documents
         |), per AS (
         |  SELECT doc_id, len(ts) AS token_count,
         |    CASE WHEN len(ts) <= ${cfg.chunkSize} THEN 1
         |         ELSE 1 + CAST(ceil((len(ts) - ${cfg.chunkSize}) / $stride.0) AS INT)
         |    END AS n_chunks, ts
         |  FROM toks
         |), chunked AS (
         |  SELECT doc_id, token_count, n_chunks,
         |    list_max([least(10, len(list_intersect(
         |        list_distinct(list_slice(ts, (i - 1) * $stride + 1,
         |          (i - 1) * $stride + ${cfg.chunkSize})), $qlist)))
         |      for i in range(1, n_chunks + 1)]) AS best_score
         |  FROM per
         |)
         |SELECT rc.doc_id AS doc_id, n_requests, token_count, n_chunks,
         |  best_score
         |FROM rc JOIN chunked USING (doc_id)""".stripMargin,
    // the metrics table is fully determined by (total, perBatch):
    // batch b admits min(perBatch, total − b·perBatch)
    "stream_rate_metrics" ->
      s"""SELECT CAST(b AS BIGINT) AS batch_id,
         |  CAST(least($RateMetricsPerBatch,
         |    $RateMetricsRows - b * $RateMetricsPerBatch) AS BIGINT) AS admitted
         |FROM range(CAST(ceil($RateMetricsRows / $RateMetricsPerBatch.0) AS BIGINT)) t(b)""".stripMargin,
    "qa_truncation_summary" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(regexp_extract_all(text, '$re')) AS n FROM documents
         |)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n > $TruncMax THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |  round(avg(CASE WHEN n > $TruncMax THEN 1.0 ELSE 0.0 END), 4) AS truncation_rate,
         |  round(avg(n), 4) AS avg_original_tokens,
         |  round(CAST(median(n) AS DOUBLE), 4) AS median_original_tokens,
         |  max(n) AS max_original_tokens,
         |  round(avg(least(n, $TruncMax) * 1.0 / n), 4) AS avg_retention
         |FROM toks""".stripMargin,
  )
}
