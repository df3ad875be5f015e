package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.Tokenizer

/** The reference's LLM call in the QA dataflow ([[graft.Engine]]): map
  * (score + content per chunk), question improvement and judge. The
  * default [[ExtractiveModel]] is *column-based*: every stage is a
  * Catalyst expression, so the whole pipeline stays inside whole-stage
  * codegen and is deterministic (testable against a DuckDB oracle with
  * no network). An external-model adapter implements it with
  * `mapPartitions` + connection reuse instead (SURVEY.md §2.11) — the
  * surrounding dataflow is unchanged.
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

  /** The one name table: a format's first name is its canonical one,
    * later names are aliases ('plain' is accepted, but the reference
    * endpoint advertises 'plain_text' — main.py capabilities listing). */
  private val table: Seq[(String, QaFormat)] =
    Seq("json" -> Json, "plain_text" -> Plain, "hybrid" -> Hybrid, "plain" -> Plain)

  /** Canonical names, in listing order. */
  val names: Seq[String] = table.distinctBy(_._2).map(_._1)

  /** The format a name (canonical or alias) selects. */
  def named(name: String): QaFormat =
    table.collectFirst { case (`name`, f) => f }.getOrElse(throw new IllegalArgumentException(
      s"unknown format '$name' (expected ${names.mkString(" | ")})"))
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
