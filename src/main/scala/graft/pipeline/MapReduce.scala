package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.Tokenizer

/** The reference's MapReduce QA dataflow, re-expressed as one declarative
  * Spark plan (reference pipeline shape: src/core/mapreduce_pipeline.py —
  * chunk fan-out :252-268, score filter via formatters, per-QA gather
  * :151-166, reduce :270-286, stats :335-356).
  *
  * Stages (all lazy DataFrames — Catalyst sees the whole graph), per
  * document row:
  *   text --chunk_tokens--> chunks --map--> scored --filter-->
  *   survivors --reduce--> answer + filtering stats
  *
  * The reference's LLM call is abstracted as a [[TextModel]]. The default
  * [[ExtractiveModel]] is *column-based*: map/score/reduce are Catalyst
  * expressions, so the whole pipeline stays inside whole-stage codegen and
  * is deterministic (testable against a DuckDB oracle with no network).
  * An external-model adapter would implement [[TextModel]] with
  * `mapPartitions` + connection reuse instead (SURVEY.md §2.11) — the
  * surrounding dataflow is unchanged.
  *
  * Scale notes: every chunk of an answer comes from one document row, so
  * [[MapReducePipeline.answers]] chunks, scores, filters and reduces
  * inside that row — projections over the input, no shuffle, no
  * aggregate, and no per-chunk rows at all; a task holds one document's
  * chunks at a time. The only shuffle
  * in the QA path is the judge's range exchange for positional batching
  * (`judged`), which numbers the raw (doc_id, text) rows before they are
  * scored. [[MapReducePipeline.mapped]] still emits one row per chunk for
  * per-chunk consumers.
  *
  * Tokenize once: `chunk_tokens` scans each document once and hands every
  * chunk its tokens, so the map step never re-tokenizes chunk text.
  */
trait TextModel {
  /** Relevance score (0-10) of a chunk's tokens against question tokens.
    * `chunkTokens` is the chunk's `array<string>` of engine tokens (the
    * type `regexp_extract_all` returns), sliced from its document's one
    * scan; `questionTokens` is the question's distinct tokens. */
  def score(chunkTokens: Column, questionTokens: Column): Column
  /** Per-chunk extractive answer content, given the chunk's tokens (as
    * in [[score]]). */
  def content(chunkTokens: Column): Column
  /** M8 question improvement (base_pipeline.py:521-630: the LLM rewrites
    * the question before the map stage). Default: whitespace-normalize
    * and guarantee a trailing '?' — the extractive stand-in. A custom
    * model overrides this to reach the question stage, same as it reaches
    * map/reduce. Returning null signals parse failure; the pipeline falls
    * back to the original question. */
  def improve(question: Column): Column = {
    val t = trim(regexp_replace(question, "\\s+", " "))
    when(t.endsWith("?"), t).otherwise(concat(t, lit("?")))
  }

  /** P7/O5 judge (the reference's separate judge LLM,
    * async_evaluation.py + judge_prompt.yml's 5-way scale). Inputs are
    * the reduce outcome: the 0-10-scaled best score and the surviving
    * chunk count (0 => the canned no-answer row). Default: the
    * deterministic score-band stand-in. */
  def judge(bestScore: Column, chunksAfter: Column): Column =
    when(chunksAfter === 0, "No answer")
      .when(bestScore >= 4, "Correct")
      .when(bestScore === 3, "Coherent")
      .when(bestScore === 2, "Deviated")
      .otherwise("Incorrect")
}

/** Deterministic extractive scorer: score = |distinct chunk tokens ∩
  * question tokens| capped at 10, counted by the native
  * `distinct_overlap` kernel (no hash sets per chunk); content =
  * space-joined chunk tokens. */
object ExtractiveModel extends TextModel {
  def score(chunkTokens: Column, questionTokens: Column): Column =
    least(lit(10), distinct_overlap(chunkTokens, questionTokens))
  def content(chunkTokens: Column): Column = concat_ws(" ", chunkTokens)
}

/** Formatter semantics (reference factory.py:56-87 format dispatch):
  * score scale + filter threshold + reduce-input shape per format.
  *  - json:   0-10 scale, threshold 5, XML-wrapped reduce input
  *            (json_formatter.py:17-34, 36-98)
  *  - plain:  0-100 scale, threshold 50, newline concat
  *            (plain_text_formatter.py:18-56)
  *  - hybrid: 0-10 scale, threshold 5, newline concat
  *            (hybrid_formatter.py:17-60) */
sealed abstract class QaFormat(
    val scoreScale: Int, val defaultThreshold: Int, val xmlReduce: Boolean) {
  require(scoreScale > 0, s"scoreScale must be positive, got $scoreScale")
  /** 0-10 -> format scale. Exact for any scale (25 -> x2.5, not the
    * truncated x2); stays an INT literal when the factor is whole so
    * the built-in 10/100 formats keep their integer score schema. */
  def scaleUp(score: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = scoreScale / 10.0
    if (f == Math.floor(f)) score * org.apache.spark.sql.functions.lit(f.toInt)
    else score * org.apache.spark.sql.functions.lit(f)
  }
  /** format scale -> 0-10 (double division: scale 25 divides by 2.5,
    * scale 9 doesn't divide by zero). Spark's Divide returns double
    * either way, so the 10/100 formats' result schema is unchanged. */
  def scaleDown(score: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    score / org.apache.spark.sql.functions.lit(scoreScale / 10.0)
}
object QaFormat {
  case object Json extends QaFormat(10, 5, true)
  case object Plain extends QaFormat(100, 50, false)
  case object Hybrid extends QaFormat(10, 5, false)
}

/** @param chunkSize   tokens per chunk (reference default 32768; small here
  *                    so the synthetic docs actually produce fan-out)
  * @param overlap     overlapping tokens between consecutive chunks
  * @param threshold   keep map results with score > threshold (strict >,
  *                    matching json_formatter.py:32)
  * @param question    the (constant) question text driving relevance
  * @param format      formatter semantics (score scale / reduce shape)
  */
case class MapReduceConfig(
    chunkSize: Int = 64,
    overlap: Int = 16,
    threshold: Int = 1,
    question: String = "spark query join data",
    format: QaFormat = QaFormat.Hybrid)

/** The per-question values a QA plan reads: the question's distinct
  * tokens (`array<string>`), `chunkSize`, `overlap` and `threshold`
  * (`int`). Batch plans bind them as literals ([[PlanInputs.literals]]);
  * [[graft.QaService]] binds them to columns of its placeholder row, so
  * one analyzed plan serves every question and chunk size. `keep` names
  * the document columns the plan must pass through its first projection
  * because an input reads them later (the threshold's column). */
final case class PlanInputs(questionTokens: Column, chunkSize: Column,
    overlap: Column, threshold: Column, keep: Seq[String] = Nil)

object PlanInputs {
  /** The config's values as literals (driver-side tokenization: the
    * question is a scalar, not data). */
  def literals(cfg: MapReduceConfig): PlanInputs = PlanInputs(
    array(Tokenizer.tokens(cfg.question).distinct.map(lit).toIndexedSeq: _*)
      .cast("array<string>"), // empty question => array<null> otherwise
    lit(cfg.chunkSize), lit(cfg.overlap), lit(cfg.threshold))
}

object MapReducePipeline {
  /** Default M8 rewriter (the [[TextModel]] default `improve`), kept as a
    * standalone function for callers outside a pipeline. */
  val defaultImprover: Column => Column = ExtractiveModel.improve

  /** P9 canned answer for a document with no surviving chunk. */
  val NoAnswer: String = "No answer found in document"

  /** O5 positional judge batching (async_evaluation.py:260, :389-404):
    * global position over `order` -> batches of `size`, 1-based item
    * numbers. Shared by the map-reduce and truncation judge paths. Uses
    * [[graft.operators.GlobalOrder]] (range partition + Spark's
    * distributed sequence), not a bare `Window.orderBy`, so no single
    * task sees all rows; building the frame runs no job. */
  def positionalBatches(df: DataFrame, order: Column, size: Int = 5): DataFrame =
    graft.operators.GlobalOrder.withRowNumber(df, order)
      .withColumn("batch_id", floor((col("rn") - 1) / size).cast("long"))
      .withColumn("item_number", ((col("rn") - 1) % size + 1).cast("int"))
      .drop("rn")
}

class MapReducePipeline(cfg: MapReduceConfig, model: TextModel = ExtractiveModel) {

  /** The config's question, sizes and threshold as literals: the
    * default inputs of every plan below. */
  private val literals: PlanInputs = PlanInputs.literals(cfg)

  /** The map step for one chunk, from its tokens: the relevance score
    * (scaled to the format's range, 0-10 json/hybrid, 0-100 plain) and the
    * extractive content. The one place the per-chunk formula lives:
    * [[mapped]] applies it to chunk rows, [[answers]] inside each
    * document's chunk array. */
  private def mapChunk(ctoks: Column, in: PlanInputs): (Column, Column) =
    (cfg.format.scaleUp(model.score(ctoks, in.questionTokens)), model.content(ctoks))

  /** Stage 1-2: explode documents into scored chunks (M1 + map), one row
    * per chunk: doc_id, chunk_idx, token_count, score, content. */
  def mapped(documents: DataFrame): DataFrame = {
    val (score, content) = mapChunk(col("c.tokens"), literals)
    documents.select(col("doc_id"),
        explode(chunk_tokens(col("text"), literals.chunkSize, literals.overlap)).as("c"))
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
          if (cfg.format.xmlReduce) xmlItem(c("chunk_idx"), c("content"))
          else c("content")), "\n").as("reduce_input"),
        top("content").as("top_content")) ++ carried.map(col): _*)
      .withColumn("retention_rate",
        round(col("chunks_after") / col("chunks_before"), 4))
      // P9: error-row fabrication — no surviving chunk => canned answer
      .withColumn("llm_answer",
        coalesce(col("top_content"), lit(MapReducePipeline.NoAnswer)))
      .drop("top_content")
  }

  /** Stage 1-5: one answer row per input row that has at least one chunk
    * (M1-M7/P4/P9/A7/A9). Every chunk of an answer comes from its own
    * row: rows sharing a `doc_id` are answered separately, never merged.
    * The plan is a Filter and Projects over the input — no explode, no
    * shuffle, no aggregate — so over a local relation it is evaluated
    * during optimization and runs no Spark job. `in` defaults to the
    * config's values as literals. */
  def answers(documents: DataFrame, in: PlanInputs = literals): DataFrame =
    reduced(withChunks(documents), Nil, in)

  /** M8: optional question-improvement pre-map stage (reference:
    * base_pipeline.py:521-630) — rewrites `question`, keeps
    * `original_question`, falls back to the original when the rewriter
    * yields null (the reference's parse-failure fallback). Routes through
    * THE PIPELINE'S MODEL by default, so a custom [[TextModel]] reaches
    * this stage exactly like it reaches map/reduce; pass `improve` to
    * override ad hoc. */
  def improveQuestions(qa: DataFrame): DataFrame =
    improveQuestions(qa, model.improve)

  def improveQuestions(qa: DataFrame, improve: Column => Column): DataFrame =
    qa.withColumn("original_question", col("question"))
      .withColumn("question", coalesce(improve(col("question")), col("question")))

  /** Judge input blocks (FIXTURES.md §6 shape; async_evaluation.py:60-83):
    * batches of 5 docs -> one XML block per batch, items ordered by
    * position, 5-entity-escaped answers. */
  def judgeBlocks(documents: DataFrame): DataFrame = {
    val j = judged(documents)
    val item = concat(lit("<qa_pair id=\""), col("item_number"), lit("\"><answer>"),
      xml_escape(col("llm_answer")), lit("</answer></qa_pair>"))
    j.withColumn("item", item)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_items"),
        array_join(
          transform(array_sort(collect_list(struct(col("item_number"), col("item")))),
            x => x("item")),
          "\n").as("judge_block"))
  }

  /** Judgment routed through the MODEL's judge slot (5-way as in
    * config/prompts/judge_prompt.yml) — a custom [[TextModel]] supplies
    * its own judge exactly like its own map/reduce. */
  private def withJudgment(answers: DataFrame): DataFrame =
    answers.withColumn("judgment",
      // judge's contract is the 0-10 scale; best_score carries the
      // FORMAT's scale (0-100 for plain), so normalize before the
      // bands — without this every plain-format doc scoring >= 40/100
      // judged "Correct" and the middle bands were unreachable
      model.judge(
        if (cfg.format.scoreScale == 10) col("best_score")
        else cfg.format.scaleDown(col("best_score")),
        col("chunks_after")))

  /** Answers + judgment, WITHOUT positional batching — for analytics
    * that aggregate judgments and never look at batch keys; skips the
    * global-order pass entirely. */
  def judgedAnswers(documents: DataFrame, in: PlanInputs = literals): DataFrame =
    withJudgment(answers(documents, in))

  /** Judge stage (O5 positional batching + P7 normalization): batches of
    * 5 docs by doc_id order, columns of [[judgedAnswers]] then
    * `batch_id`, `item_number`. The documents are numbered BEFORE they
    * are scored because the range partitioner's sampling job executes
    * the exchange's child: numbered raw, that job recomputes only the
    * scan and the token-count filter, and the scoring runs once, above
    * the range exchange, spread over its partitions. */
  def judged(documents: DataFrame): DataFrame = {
    val carry = Seq("batch_id", "item_number")
    val numbered = MapReducePipeline.positionalBatches(
      withChunks(documents).select(col("doc_id"), col("text")), col("doc_id"))
    val j = withJudgment(reduced(numbered, carry, literals))
    j.select((j.columns.toSeq.filterNot(carry.contains) ++ carry).map(col): _*)
  }
}
