package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.TextFunctions._
import graft.functions.TruncateTokens
import graft.operators.{TruncationStrategies, TruncationStrategy}
import graft.pipeline.{MapReduceConfig, PlanInputs, QaFormat, TextModel, ExtractiveModel}
import graft.sources.QaSources

/** The QA pipeline: both plan shapes of the reference's
  * `PipelineFactory` (`create_pipeline` / `create_truncation_pipeline`,
  * README.md:48-75, src/core/factory.py:27-162) over one config, one set
  * of plan inputs, one model and one judge.
  *
  *   - `format` selects the formatter semantics (P4/P5/P6 thresholds,
  *     M4 XML vs M5 concat; names in [[QaFormat.named]]);
  *   - map-reduce (`mapped`/`answers`/`judgedAnswers`/`judged`) is the
  *     reference's chunk -> map -> filter -> reduce dataflow
  *     (src/core/mapreduce_pipeline.py: chunk fan-out :252-268, score
  *     filter via formatters, per-QA gather :151-166, reduce :270-286,
  *     stats :335-356);
  *   - truncation (`truncationAnswers`/`truncationJudgedAnswers`/
  *     `truncationJudged`) is the single-call shape (M9/T1-T5);
  *   - the model is pluggable ([[graft.pipeline.TextModel]], deterministic
  *     extractive default; an external-model impl plugs in via
  *     [[graft.pipeline.ExternalModel]] without changing the dataflow).
  *
  * A user of the reference maps their calls 1:1:
  * {{{
  * val qa     = Engine.loadDataset(spark, "financebench", path, limit = Some(10))
  * val engine = Engine(format = "json", chunkSize = 512, overlap = 64)
  * val out    = engine.answers(documentsDf)       // chunk->map->filter->reduce
  * val judg   = engine.judgedAnswers(documentsDf) // + judge
  * val judged = engine.judged(documentsDf)        // + judge + batching
  * }}}
  *
  * Map-reduce chunks, scores, filters and reduces inside each document
  * row: `chunk_tokens` scans the document once and hands every chunk its
  * tokens, and the plan is projections over the input — no explode, no
  * shuffle, no aggregate, and no per-chunk rows (`mapped` still emits one
  * row per chunk for per-chunk consumers). The default
  * [[ExtractiveModel]] is column-based, so the whole pipeline stays in
  * whole-stage codegen and is checkable against a DuckDB oracle.
  *
  * Both shapes judge through one stage (the model's judge on the 0-10
  * scale) and have an unbatched form, `judgedAnswers` /
  * `truncationJudgedAnswers`, for a caller that never reads
  * `batch_id`/`item_number` (the one-row service ask): it skips the
  * global-order pass. `judged` and `truncationJudged` number the raw
  * (doc_id, text) rows first through one path and score them above the
  * range exchange; that exchange is the only shuffle in the QA path.
  *
  * Every plan reads the question tokens, chunk sizes and threshold as
  * [[PlanInputs]] columns (literals by default) and the truncation budget
  * as a column, so [[QaService]] analyzes one plan per format and
  * pipeline and feeds each ask's values in as data.
  */
case class Engine(
    format: String = "hybrid",
    chunkSize: Int = 64,
    overlap: Int = 16,
    threshold: Option[Int] = None,
    question: String = "spark query join data",
    model: TextModel = ExtractiveModel) {

  private val qaFormat: QaFormat = QaFormat.named(format)

  val config: MapReduceConfig = MapReduceConfig(
    chunkSize = chunkSize, overlap = overlap,
    threshold = threshold.getOrElse(qaFormat.defaultThreshold),
    question = question, format = qaFormat)

  /** The config's question, sizes and threshold as literals: the
    * default inputs of every plan below. */
  private[graft] val inputs: PlanInputs = PlanInputs.literals(config)

  /** The map step for one chunk, from its tokens: the relevance score
    * (scaled to the format's range, 0-10 json/hybrid, 0-100 plain) and the
    * extractive content. The one place the per-chunk formula lives:
    * [[mapped]] applies it to chunk rows, [[answers]] inside each
    * document's chunk array, truncation to its kept window. */
  private def mapChunk(ctoks: Column, in: PlanInputs): (Column, Column) =
    (qaFormat.scaleUp(model.score(ctoks, in.questionTokens)), model.content(ctoks))

  /** Map phase (M1/M2): documents exploded into scored chunks, one row
    * per chunk: doc_id, chunk_idx, token_count, score, content. */
  def mapped(documents: DataFrame): DataFrame = {
    val (score, content) = mapChunk(col("c.tokens"), inputs)
    documents.select(col("doc_id"),
        explode(chunk_tokens(col("text"), inputs.chunkSize, inputs.overlap)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        size(col("c.tokens")).as("token_count"), score.as("score"),
        content.as("content"))
  }

  /** M4: XML-wrapped reduce-input item `<chunk_i>escaped</chunk_i>` with
    * the 5-entity escape (json_formatter.py:36-98). */
  private def xmlItem(idx: Column, content: Column): Column =
    concat(lit("<chunk_"), idx, lit(">"), xml_escape(content), lit("</chunk_"), idx, lit(">"))

  /** Documents that yield at least one chunk. Tested on the raw text, not
    * on the size of the scored array: Catalyst would push a filter on the
    * array below its Project and score every document twice. Stops at
    * the first token. */
  private def withChunks(documents: DataFrame): DataFrame =
    documents.filter(has_tokens(col("text")))

  /** Stage 3-5 inside each document row: filter (P4), ordered reduce
    * input (M4/M5/O1), extractive reduce + error-row fabrication
    * (M6/M7/P9), filtering stats (A7/A9). `carry` columns pass through
    * (between reduce_input and the retention_rate/llm_answer pair). */
  private def reduced(documents: DataFrame, carry: Seq[String],
      in: PlanInputs): DataFrame = {
    val carried = carry ++ in.keep
    // the document tokenized once; each chunk scored and its content
    // built from its tokens, in one pass over the chunks
    val scored = transform(chunk_tokens(col("text"), in.chunkSize, in.overlap), c => {
      val (score, content) = mapChunk(c("tokens"), in)
      struct(c("chunk_idx").as("chunk_idx"), score.as("score"), content.as("content"))
    })
    // single-value ordering key: best score first, then lowest chunk_idx
    // (chunk_idx < 1e6 by construction at sane chunk sizes)
    val top = array_max(transform(col("survivors"), c =>
      struct((c("score") * 1000000L - c("chunk_idx")).as("ord"), c("content").as("content"))))
    documents
      .select(col("doc_id") +: carried.map(col) :+ scored.as("scored"): _*)
      .withColumn("survivors", filter(col("scored"), c => c("score") > in.threshold))
      .select(Seq(col("doc_id"),
        size(col("scored")).cast("long").as("chunks_before"),
        size(col("survivors")).cast("long").as("chunks_after"),
        array_max(transform(col("scored"), c => c("score"))).as("best_score"),
        // M4/M5: reduce input = surviving contents in chunk order —
        // XML-wrapped items (json format) or bare concat (plain/hybrid)
        array_join(transform(col("survivors"), c =>
          if (qaFormat.xmlReduce) xmlItem(c("chunk_idx"), c("content"))
          else c("content")), "\n").as("reduce_input"),
        top("content").as("top_content")) ++ carried.map(col): _*)
      .withColumn("retention_rate",
        round(col("chunks_after") / col("chunks_before"), 4))
      // P9: error-row fabrication — no surviving chunk => canned answer
      .withColumn("llm_answer", coalesce(col("top_content"), lit(Engine.NoAnswer)))
      .drop("top_content")
  }

  /** Map-reduce (M1-M7/P4/P9/A7/A9): one answer row per input row that
    * has at least one chunk, with its filtering stats. Every chunk of an
    * answer comes from its own row: rows sharing a `doc_id` are answered
    * separately, never merged. The plan is a Filter and Projects over
    * the input, so over a local relation it is evaluated during
    * optimization and runs no Spark job. `in` defaults to the config's
    * values as literals. */
  def answers(documents: DataFrame, in: PlanInputs = inputs): DataFrame =
    reduced(withChunks(documents), Nil, in)

  /** [[answers]] + judgment (P7), without positional batching — for
    * analytics that aggregate judgments and never look at batch keys. */
  def judgedAnswers(documents: DataFrame, in: PlanInputs = inputs): DataFrame =
    withJudgment(answers(documents, in), col("best_score"), col("chunks_after"))

  /** [[judgedAnswers]] + positional batching (O5/P7): batches of 5 docs
    * by doc_id order, `batch_id`, `item_number` last. */
  def judged(documents: DataFrame): DataFrame =
    batched(withChunks(documents)) { (numbered, carry) =>
      withJudgment(reduced(numbered, carry, inputs), col("best_score"), col("chunks_after"))
    }

  /** Judge input blocks (FIXTURES.md §6 shape; async_evaluation.py:60-83):
    * batches of 5 docs -> one XML block per batch, items ordered by
    * position, 5-entity-escaped answers. */
  def judgeBlocks(documents: DataFrame): DataFrame = {
    val item = concat(lit("<qa_pair id=\""), col("item_number"), lit("\"><answer>"),
      xml_escape(col("llm_answer")), lit("</answer></qa_pair>"))
    judged(documents).withColumn("item", item)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_items"),
        array_join(
          transform(array_sort(collect_list(struct(col("item_number"), col("item")))),
            x => x("item")),
          "\n").as("judge_block"))
  }

  /** M8: optional question-improvement pre-map stage (reference:
    * base_pipeline.py:521-630) — rewrites `question`, keeps
    * `original_question`, falls back to the original when the rewriter
    * yields null (the reference's parse-failure fallback). Routes through
    * the engine's model by default, so a custom [[TextModel]] reaches
    * this stage exactly like it reaches map/reduce; pass `improve` to
    * override ad hoc. */
  def improveQuestions(qa: DataFrame): DataFrame =
    improveQuestions(qa, model.improve)

  def improveQuestions(qa: DataFrame, improve: Column => Column): DataFrame =
    qa.withColumn("original_question", col("question"))
      .withColumn("question", coalesce(improve(col("question")), col("question")))

  /** Truncation (M9/T1-T5): no chunk explode, one extractive call over
    * the token-budgeted document, same answer/stats contract. Budget =
    * contextWindow - question tokens - buffer, floored at 1000
    * (reference: truncation_formatter.py:45-73,
    * truncation_utils.py:247-266). The strategy is resolved through the
    * pluggable registry (T5), so custom registered strategies reach the
    * Engine by name. */
  def truncationAnswers(documents: DataFrame,
      contextWindow: Int = 128000, buffer: Int = 2000,
      strategy: String = "start"): DataFrame =
    truncationAnswers(documents, Nil, budgetOf(contextWindow, buffer),
      TruncationStrategies.get(strategy), inputs)

  /** [[truncationAnswers]] with the budget, the strategy and the
    * question/threshold inputs given as columns and instances. `carry`
    * columns pass through after `llm_answer`. One projection: the kept
    * window and the score are common subexpressions, evaluated once, and
    * no later projection reads the kept tokens back from a column. */
  private[graft] def truncationAnswers(documents: DataFrame, carry: Seq[String],
      budget: Column, strategy: TruncationStrategy, in: PlanInputs): DataFrame = {
    val (window, tokens) = keptWindow(strategy.truncate(col("text"), budget))
    val (score, content) = mapChunk(tokens, in)
    documents.select(Seq(col("doc_id")) ++
      Seq("original_tokens", "truncated_tokens", "retention_rate", "truncation_applied")
        .map(f => window(f).as(f)) ++
      Seq(score.as("score"),
        when(score > in.threshold, content).otherwise(lit(Engine.NoAnswer)).as("llm_answer"))
      ++ (carry ++ in.keep).map(col): _*)
  }

  /** A strategy's stats struct and its kept tokens. A strategy that is
    * `truncate_tokens` (every built-in) yields both from one scan of the
    * document; any other strategy's kept text is tokenized after it. */
  private def keptWindow(stats: Column): (Column, Column) =
    Bridge.expression(stats) match {
      case t: TruncateTokens =>
        val window = Bridge.column(t.copy(withTokens = true))
        (window, window("tokens"))
      case _ => (stats, regex_tokens(stats("text")))
    }

  /** [[truncationAnswers]] + judgment, without positional batching. A
    * score at or below the threshold is the truncation path's "no
    * surviving chunk". */
  def truncationJudgedAnswers(documents: DataFrame,
      contextWindow: Int = 128000, buffer: Int = 2000,
      strategy: String = "start"): DataFrame =
    truncationJudgedAnswers(documents, Nil, budgetOf(contextWindow, buffer),
      TruncationStrategies.get(strategy), inputs)

  /** [[truncationJudgedAnswers]] with column inputs, as
    * [[truncationAnswers]]. */
  private[graft] def truncationJudgedAnswers(documents: DataFrame,
      carry: Seq[String], budget: Column, strategy: TruncationStrategy,
      in: PlanInputs): DataFrame =
    withJudgment(truncationAnswers(documents, carry, budget, strategy, in), col("score"),
      when(col("score") <= in.threshold, lit(0)).otherwise(lit(1)))

  /** [[truncationJudgedAnswers]] + positional batching — the same
    * contract as [[judged]], built the same way. */
  def truncationJudged(documents: DataFrame,
      contextWindow: Int = 128000, buffer: Int = 2000,
      strategy: String = "start"): DataFrame =
    truncationJudged(documents, budgetOf(contextWindow, buffer),
      TruncationStrategies.get(strategy))

  private[graft] def truncationJudged(documents: DataFrame, budget: Column,
      strategy: TruncationStrategy): DataFrame =
    batched(documents) { (numbered, carry) =>
      truncationJudgedAnswers(numbered, carry, budget, strategy, inputs)
    }

  /** The judge stage of both shapes (P7, the reference's separate judge
    * LLM: async_evaluation applies to any pipeline's answers), routed
    * through the model's 5-way judge (config/prompts/judge_prompt.yml).
    * The judge's contract is the 0-10 scale and `score` carries the
    * format's (0-100 for plain), so it is normalized first: otherwise
    * every plain-format answer scoring >= 40/100 judges "Correct".
    * `survivors` is 0 for the canned no-answer row. */
  private def withJudgment(answers: DataFrame, score: Column, survivors: Column): DataFrame =
    answers.withColumn("judgment", model.judge(
      if (qaFormat.scoreScale == 10) score else qaFormat.scaleDown(score), survivors))

  /** Positional batching of both shapes: the raw (doc_id, text) rows are
    * numbered first, then `shape` scores them, passing the `carry`
    * columns `batch_id`, `item_number` through, and they move last. The
    * range partitioner's sampling job executes the exchange's child, so
    * numbered raw, that job reads only the scan, and scoring runs once,
    * above the range exchange, spread over its partitions. */
  private def batched(documents: DataFrame)(
      shape: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val carry = Seq("batch_id", "item_number")
    val j = shape(Engine.positionalBatches(
      documents.select(col("doc_id"), col("text")), col("doc_id")), carry)
    j.select((j.columns.toSeq.filterNot(carry.contains) ++ carry).map(col): _*)
  }

  private def budgetOf(contextWindow: Int, buffer: Int): Column =
    lit(Engine.truncationBudget(question, contextWindow, buffer))
}

object Engine {
  /** Canonical format names ([[QaFormat.names]]); [[QaService.models]]
    * lists these, read from the same table the format dispatch reads. */
  val supportedFormats: Seq[String] = QaFormat.names
  /** Pipelines the engine exposes: `answers`/`judged` (mapreduce) and
    * `truncationAnswers` (truncation). */
  val supportedPipelines: Seq[String] = Seq("mapreduce", "truncation")

  /** P9 canned answer for a document with no surviving chunk. */
  val NoAnswer: String = "No answer found in document"

  /** O5 positional judge batching (async_evaluation.py:260, :389-404):
    * global position over `order` -> batches of `size`, 1-based item
    * numbers. Uses [[graft.operators.GlobalOrder]] (range partition +
    * Spark's distributed sequence), not a bare `Window.orderBy`, so no
    * single task sees all rows; building the frame runs no job. */
  def positionalBatches(df: DataFrame, order: Column, size: Int = 5): DataFrame =
    graft.operators.GlobalOrder.withRowNumber(df, order)
      .withColumn("batch_id", floor((col("rn") - 1) / size).cast("long"))
      .withColumn("item_number", ((col("rn") - 1) % size + 1).cast("int"))
      .drop("rn")

  /** Truncation token budget: contextWindow - question tokens - buffer,
    * floored at 1000. */
  def truncationBudget(question: String, contextWindow: Int, buffer: Int): Int =
    math.max(1000, contextWindow - graft.functions.Tokenizer.countTokens(question) - buffer)

  /** Dataset registry (factory.py:203-220 register_dataset analog). */
  def loadDataset(spark: SparkSession, dataset: String, path: String,
      limit: Option[Int] = None): DataFrame = dataset match {
    case "financebench" => QaSources.financeBench(spark, path, limit)
    case "finqa" => QaSources.finqa(spark, path, limit)
    case other => throw new IllegalArgumentException(
      s"unknown dataset '$other' (expected financebench | finqa)")
  }
}
