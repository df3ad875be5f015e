package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.TextFunctions.regex_tokens
import graft.functions.TruncateTokens
import graft.operators.{TruncationStrategies, TruncationStrategy}
import graft.pipeline.{MapReduceConfig, MapReducePipeline, PlanInputs, QaFormat, TextModel, ExtractiveModel}
import graft.sources.QaSources

/** Public library facade — the Spark-native equivalent of the reference's
  * `PipelineFactory.create_pipeline(...)` builder surface (README.md:48-75,
  * src/core/factory.py:27-162):
  *
  *   - `dataset` selects the loader (S1 financebench / S2 finqa);
  *   - `format` selects the formatter semantics (P4/P5/P6 thresholds,
  *     M4 XML vs M5 concat);
  *   - `truncation` selects the single-call plan shape (M9/T1-T5);
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
  * Both plan shapes (map-reduce and truncation) have an unbatched form,
  * `judgedAnswers`/`truncationJudgedAnswers`, for a caller that never
  * reads `batch_id`/`item_number` (the one-row service ask): it skips
  * the global-order pass. `judged` and `truncationJudged` number the raw
  * (doc_id, text) rows first and score them above the range exchange.
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

  private val qaFormat: QaFormat = format match {
    case "json" => QaFormat.Json
    case "plain_text" | "plain" => QaFormat.Plain
    case "hybrid" => QaFormat.Hybrid
    case other => throw new IllegalArgumentException(
      s"unknown format '$other' (expected json | plain_text | hybrid)")
  }

  val config: MapReduceConfig = MapReduceConfig(
    chunkSize = chunkSize, overlap = overlap,
    threshold = threshold.getOrElse(qaFormat.defaultThreshold),
    question = question, format = qaFormat)

  private val pipeline = new MapReducePipeline(config, model)
  /** The config's question, sizes and threshold as literals. */
  private val inputs: PlanInputs = PlanInputs.literals(config)

  /** Map phase: scored chunks (M1/M2). */
  def mapped(documents: DataFrame): DataFrame = pipeline.mapped(documents)
  /** Full MapReduce: per-doc answers + filtering stats (M3-M7/P9/A7). */
  def answers(documents: DataFrame): DataFrame = pipeline.answers(documents)
  /** + judge (P7), without positional batching; `in` defaults to the
    * config's values as literals. */
  def judgedAnswers(documents: DataFrame, in: PlanInputs = inputs): DataFrame =
    pipeline.judgedAnswers(documents, in)
  /** + judge & positional batching (O5/P7). */
  def judged(documents: DataFrame): DataFrame = pipeline.judged(documents)

  /** Truncation pipeline (M9/T1-T5 — the factory's
    * create_truncation_pipeline plan shape): no chunk explode, one
    * extractive call over the token-budgeted document, same answer/stats
    * contract. Budget = contextWindow - question tokens - buffer, floored
    * at 1000 (reference: truncation_formatter.py:45-73,
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
    // same pluggable-model routing as MapReducePipeline.mapped: a custom
    // TextModel changes the truncation path too, not just answers()
    val score = qaFormat.scaleUp(model.score(tokens, in.questionTokens))
    documents.select(Seq(col("doc_id")) ++
      Seq("original_tokens", "truncated_tokens", "retention_rate", "truncation_applied")
        .map(f => window(f).as(f)) ++
      Seq(score.as("score"),
        when(score > in.threshold, model.content(tokens))
          .otherwise(lit(MapReducePipeline.NoAnswer)).as("llm_answer"))
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

  /** Truncation pipeline + judge stage, without positional batching —
    * the reference evaluates BOTH plan shapes with the same judge
    * (async_evaluation applies to any pipeline's answers); same 5-way
    * judgment as MapReducePipeline.judgedAnswers. */
  def truncationJudgedAnswers(documents: DataFrame,
      contextWindow: Int = 128000, buffer: Int = 2000,
      strategy: String = "start"): DataFrame =
    truncationJudgedAnswers(documents, Nil, budgetOf(contextWindow, buffer),
      TruncationStrategies.get(strategy), inputs)

  /** [[truncationJudgedAnswers]] with column inputs, as
    * [[truncationAnswers]]; `carry` columns come last. */
  private[graft] def truncationJudgedAnswers(documents: DataFrame,
      carry: Seq[String], budget: Column, strategy: TruncationStrategy,
      in: PlanInputs): DataFrame = {
    val scaled = qaFormat.scaleDown(col("score")) // back to 0-10
    // below-threshold scores are the truncation path's "no surviving
    // chunk"; routed through the model's judge slot like the MapReduce
    // path, so a custom model judges BOTH plan shapes
    val judgment = model.judge(scaled,
      when(col("score") <= in.threshold, lit(0)).otherwise(lit(1)))
    val j = truncationAnswers(documents, carry, budget, strategy, in)
      .withColumn("judgment", judgment)
    if (carry.isEmpty) j
    else j.select((j.columns.toSeq.filterNot(carry.contains) ++ carry).map(col): _*)
  }

  /** [[truncationJudgedAnswers]] + positional batching — the same
    * contract as MapReducePipeline.judged, built the same way: the raw
    * (doc_id, text) rows are numbered first because the range
    * partitioner's sampling job executes the exchange's child, so that
    * job reads only the scan, and truncation and scoring run once, above
    * the range exchange. */
  def truncationJudged(documents: DataFrame,
      contextWindow: Int = 128000, buffer: Int = 2000,
      strategy: String = "start"): DataFrame =
    truncationJudged(documents, budgetOf(contextWindow, buffer),
      TruncationStrategies.get(strategy))

  private[graft] def truncationJudged(documents: DataFrame, budget: Column,
      strategy: TruncationStrategy): DataFrame =
    truncationJudgedAnswers(
      MapReducePipeline.positionalBatches(
        documents.select(col("doc_id"), col("text")), col("doc_id")),
      Seq("batch_id", "item_number"), budget, strategy, inputs)

  private def budgetOf(contextWindow: Int, buffer: Int): Column =
    lit(Engine.truncationBudget(question, contextWindow, buffer))
}

object Engine {
  /** Canonical format names, one per arm of the [[Engine]] format
    * dispatch ('plain' is accepted as an alias but the reference
    * endpoint advertises 'plain_text' — main.py capabilities listing).
    * [[graft.QaService.models]] derives its listing from these so the
    * advertised surface cannot drift from what the dispatch accepts. */
  val supportedFormats: Seq[String] = Seq("json", "plain_text", "hybrid")
  /** Pipelines the engine exposes: `answers`/`judged` (mapreduce) and
    * `truncationAnswers` (truncation). */
  val supportedPipelines: Seq[String] = Seq("mapreduce", "truncation")

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
