package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Tokenizer
import graft.operators.{TruncationStrategies, TruncationStrategy}
import graft.pipeline.{PlanInputs, TextModel, ExtractiveModel}
import graft.sources.{BinaryDocs, DocumentParser, Prompts}

/** §3.3: the single-request service facade (webapp/backend/api/
  * endpoints.py:183-310): a long-lived session answers one uploaded
  * document + question per call from prepared plans (the
  * `_pipeline_cache` at endpoints.py:25-180), with the document fed
  * through the parser slot like the upload path.
  *
  * N=1 latency posture: a warm ask creates no Dataset and runs no
  * Catalyst pass and no Spark job. The service keeps one template per
  * (format, pipeline, truncation-strategy instance): the judged-answers
  * plan (`Engine.judgedAnswers`/`truncationJudgedAnswers`; one row is
  * always `batch_id = 0, item_number = 1`, so the judge's positional
  * batching would buy nothing), analyzed once over a placeholder relation
  * whose columns carry the document, the question tokens, the chunk
  * sizes, the threshold and the truncation budget ([[PlanInputs]]). The
  * plan is a Filter and Projects; each is bound once to its child's
  * attributes with Spark's codegen'd predicate and projection. An ask
  * then tokenizes the question on the driver, builds one `InternalRow`
  * and runs it through that chain: what `ConvertToLocalRelation` did to a
  * one-row Dataset, without the per-ask analysis, optimization and
  * `collect`. A template holding an expression that fold would not
  * evaluate (an `Unevaluable` one, e.g. from a custom [[TextModel]]) runs
  * its plan over the ask's row as a Dataset instead. A bound chain holds
  * mutable state (projection buffers, the lambda variables of `transform`
  * and `filter`), so it is evaluated under its template's lock.
  * ServiceSpec pins zero jobs and zero SQL executions per warm ask, one
  * template per key, and equality with the Dataset path (also from eight
  * threads at once).
  */
final case class QaAnswer(
    answer: String, score: Double, judgment: String,
    chunksBefore: Long, chunksAfter: Long, retentionRate: Double,
    promptSet: String)

/** `/preview` response shape (endpoints.py:350-421). */
final case class DocPreview(
    filename: String, fileType: String, fileSize: Long,
    estimatedTokens: Long, previewText: String, fullLength: Long,
    isTruncated: Boolean)

/** `/health` response shape (endpoints.py:315-322). */
final case class ServiceHealth(status: String, timestamp: String,
    version: String)

/** `/models` capability listing (endpoints.py:325-346) — every list is
  * DERIVED from the live registry it describes, so the listing can't
  * drift from what the engine actually accepts. */
final case class ServiceCapabilities(
    models: Seq[String], pipelineTypes: Seq[String],
    formatTypes: Seq[String], truncationStrategies: Seq[String],
    pdfParsers: Seq[String], promptSets: Seq[String])

class QaService(spark: SparkSession, model: TextModel = ExtractiveModel) {

  /** Prepared templates keyed by (format, pipeline, strategy name); a
    * truncation template also remembers the strategy instance it was
    * built from, so re-registering a name replaces it. */
  private val templates =
    new java.util.HashMap[(String, String, String), QaService.Template]

  private def templateFor(format: String, strategy: Option[TruncationStrategy]) = {
    val key = (format, if (strategy.isEmpty) "mapreduce" else "truncation",
      strategy.fold("")(_.name))
    templates.synchronized {
      val t = templates.get(key)
      if (t != null && strategy.forall(_ eq t.strategy)) t
      else {
        val engine = Engine(format = format, model = model)
        val docs = spark.createDataFrame(
          java.util.Collections.emptyList[Row](), QaService.Placeholder)
        val df = strategy.fold(engine.judgedAnswers(docs, QaService.Inputs))(s =>
          engine.truncationJudgedAnswers(docs, Nil, col("budget"), s, QaService.Inputs))
        val fresh = new QaService.Template(spark, strategy.orNull, df.queryExecution.analyzed)
        templates.put(key, fresh)
        fresh
      }
    }
  }

  /** Every template, by (format, pipeline, strategy name), with whether
    * its chain is bound (true) or it runs as a Dataset (false). */
  private[graft] def templateModes: Map[(String, String, String), Boolean] =
    templates.synchronized(templates.asScala.map { case (k, t) => k -> t.bound }.toMap)

  /** Answer one question about one raw document (the /answer endpoint
    * semantics): bytes -> parser slot -> one row -> the map-reduce (or
    * truncation) template -> the reduced answer + judgment. An ask fails
    * fast on a `pipelineType` outside [[Engine.supportedPipelines]]; a
    * map-reduce ask on a chunk size <= 0 or an overlap outside
    * [0, chunkSize), whatever the document. */
  def ask(fileName: String, content: Array[Byte], question: String,
      format: String = "hybrid", chunkSize: Int = 64, overlap: Int = 16,
      threshold: Int = 1, pipelineType: String = "mapreduce",
      strategy: String = "start", contextWindow: Int = 128000,
      buffer: Int = 2000, promptSet: String = "hybrid",
      parsers: Map[String, DocumentParser] = BinaryDocs.defaultParsers): QaAnswer = {
    require(fileName.nonEmpty, "no file provided")
    require(Engine.supportedPipelines.contains(pipelineType),
      s"unknown pipelineType '$pipelineType' (expected ${Engine.supportedPipelines.mkString(" | ")})")
    val truncation = pipelineType == "truncation"
    if (!truncation) {
      require(chunkSize > 0, s"chunkSize must be > 0, got $chunkSize")
      require(overlap >= 0 && overlap < chunkSize,
        s"overlap must be in [0, chunkSize = $chunkSize), got $overlap")
    }
    val method = BinaryDocs.methodForPath(fileName)
    val text = parsers.get(method).flatMap(_.parse(fileName, content))
      .getOrElse(throw new IllegalArgumentException(
        s"could not parse '$fileName' with method '$method'"))
    Prompts.resolve(Some(promptSet)) // fail fast on unknown set, like the factory
    val template = templateFor(format,
      if (truncation) Some(TruncationStrategies.get(strategy)) else None)
    val q = Tokenizer.of(question)
    val questionTokens = q.slice(0, q.length).distinct
    template.answer(InternalRow(0L, UTF8String.fromString(text),
      new GenericArrayData(questionTokens), chunkSize, overlap, threshold,
      Engine.truncationBudget(question, contextWindow, buffer)), promptSet)
  }

  /** `/preview` semantics: parse through the same parser slot as the
    * upload path, but return only the head of the document — no pipeline
    * run. Token estimate is the engine's own ceil(count * 1.15) rule
    * ([[graft.functions.Tokenizer]]), not a chars/4 guess. */
  def preview(fileName: String, content: Array[Byte],
      previewChars: Int = 2000,
      parsers: Map[String, DocumentParser] = BinaryDocs.defaultParsers): DocPreview = {
    require(fileName.nonEmpty, "no file provided")
    val method = BinaryDocs.methodForPath(fileName)
    val text = parsers.get(method).flatMap(_.parse(fileName, content))
      .getOrElse(throw new IllegalArgumentException(
        s"could not parse '$fileName' with method '$method'"))
    val truncated = text.length > previewChars
    val head = if (truncated)
      text.substring(0, previewChars) + "\n\n... (content truncated for preview)"
    else text
    val ext = fileName.lastIndexOf('.') match {
      case -1 => ""
      case i  => fileName.substring(i).toLowerCase
    }
    DocPreview(
      filename = fileName, fileType = ext, fileSize = content.length.toLong,
      estimatedTokens =
        math.ceil(graft.functions.Tokenizer.countTokens(text) * 1.15).toLong,
      previewText = head, fullLength = text.length.toLong,
      isTruncated = truncated)
  }

  /** `/models` semantics: the capability listing, derived from the live
    * registries (parser slot, prompt sets, truncation strategies) and the
    * [[Engine]] companion's canonical format/pipeline lists rather than
    * hardcoded literals. */
  def models: ServiceCapabilities = ServiceCapabilities(
    models = Seq(model.getClass.getSimpleName.stripSuffix("$")),
    pipelineTypes = Engine.supportedPipelines,
    formatTypes = Engine.supportedFormats,
    truncationStrategies = graft.operators.TruncationStrategies.available,
    pdfParsers = BinaryDocs.defaultParsers.keySet.toSeq.sorted,
    promptSets = Prompts.registry.keySet.toSeq.sorted)

  /** `/health` semantics. */
  def health: ServiceHealth = ServiceHealth(
    status = "healthy",
    timestamp = java.time.Instant.now().toString,
    version = "1.0")

  /** Releases nothing: the service holds no background resource (its
    * templates are plain objects and it reads no shared cache). Kept so
    * embedders and harnesses may close every service they open. */
  def close(): Unit = ()
}

object QaService {
  /** The relation a template is analyzed over: the document, then the
    * ask's [[PlanInputs]] and truncation budget. */
  private val Placeholder = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("question_tokens", ArrayType(StringType), nullable = false),
    StructField("chunk_size", IntegerType, nullable = false),
    StructField("overlap", IntegerType, nullable = false),
    StructField("threshold", IntegerType, nullable = false),
    StructField("budget", IntegerType, nullable = false)))

  private val Inputs = PlanInputs(col("question_tokens"), col("chunk_size"),
    col("overlap"), col("threshold"), keep = Seq("threshold"))

  /** One analyzed service plan over [[Placeholder]], read back into a
    * [[QaAnswer]] by ordinal. */
  private final class Template(spark: SparkSession,
      val strategy: TruncationStrategy, plan: LogicalPlan) {
    private val conf = spark.sessionState.conf
    private val out = plan.output
    private def at(name: String): Int = out.indexWhere(_.name == name)
    private val scoreAt = if (at("best_score") >= 0) at("best_score") else at("score")
    private val scoreType = out(scoreAt).dataType
    private val Seq(answerAt, judgmentAt, retentionAt, beforeAt, afterAt) =
      Seq("llm_answer", "judgment", "retention_rate", "chunks_before", "chunks_after")
        .map(at)

    /** The Filter/Project chain, leaf first, each step bound to its
      * child's attributes and returning null for a filtered-out row; None
      * where a node or expression is one `ConvertToLocalRelation` would
      * not evaluate. Runtime-replaceable expressions are replaced first,
      * as the optimizer does before that fold. Each step is initialized
      * per ask, as the fold's fresh projection was, so a nondeterministic
      * expression gives every ask the same values. */
    private val chain: Option[List[InternalRow => InternalRow]] =
      SQLConf.withExistingConf(conf)(bind(ReplaceExpressions(plan)))

    private def bind(p: LogicalPlan): Option[List[InternalRow => InternalRow]] = p match {
      case _: LocalRelation => Some(Nil)
      case Project(list, child) if !list.exists(ConvertToLocalRelation.hasUnevaluableExpr) =>
        bind(child).map { steps =>
          val projection = UnsafeProjection.create(list, child.output)
          steps :+ { (r: InternalRow) => projection.initialize(0); projection(r) }
        }
      case Filter(cond, child) if !ConvertToLocalRelation.hasUnevaluableExpr(cond) =>
        bind(child).map { steps =>
          val predicate = Predicate.create(cond, child.output)
          steps :+ { (r: InternalRow) =>
            predicate.initialize(0); if (predicate.eval(r)) r else null }
        }
      case _ => None
    }

    def bound: Boolean = chain.isDefined

    def answer(input: InternalRow, promptSet: String): QaAnswer = chain match {
      case Some(steps) => synchronized {
        SQLConf.withExistingConf(conf) {
          toAnswer(steps.foldLeft(input)((r, step) => if (r == null) r else step(r)),
            promptSet)
        }
      }
      case None =>
        val df = Bridge.dataFrame(spark,
          plan.transform { case r: LocalRelation => r.copy(data = Seq(input)) })
        toAnswer(df.collect().headOption.map(r =>
          CatalystTypeConverters.convertToCatalyst(r).asInstanceOf[InternalRow]).orNull,
          promptSet)
    }

    private def toAnswer(row: InternalRow, promptSet: String): QaAnswer =
      // an upload with no tokens has no chunk, so map-reduce returns no
      // row: answer with the P9 canned row, like truncation does
      if (row == null) QaAnswer(
        answer = Engine.NoAnswer, score = 0.0, judgment = "No answer",
        chunksBefore = 0L, chunksAfter = 0L, retentionRate = 0.0,
        promptSet = promptSet)
      else {
        def str(i: Int) = if (row.isNullAt(i)) null else row.getUTF8String(i).toString
        // truncation has no chunk counts: its one window is the one chunk
        def long(i: Int) = if (i < 0) 1L else if (row.isNullAt(i)) 0L else row.getLong(i)
        QaAnswer(
          answer = str(answerAt),
          score = row.get(scoreAt, scoreType) match { case n: Number => n.doubleValue },
          judgment = str(judgmentAt),
          chunksBefore = long(beforeAt), chunksAfter = long(afterAt),
          retentionRate = if (row.isNullAt(retentionAt)) 0.0 else row.getDouble(retentionAt),
          promptSet = promptSet)
      }
  }
}
