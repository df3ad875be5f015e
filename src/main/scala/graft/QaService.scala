package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{MapReduceConfig, MapReducePipeline, QaFormat, TextModel, ExtractiveModel}
import graft.sources.{BinaryDocs, DocumentParser, Prompts}

/** §3.3: the single-request service facade (webapp/backend/api/
  * endpoints.py:183-310): a long-lived session answers one uploaded
  * document + question per call, with engines cached per configuration
  * (the `_pipeline_cache` at endpoints.py:25-180) and the document fed
  * through the parser slot like the upload path.
  *
  * N=1 latency posture: the ask runs only the plan that produces its
  * answer, over a one-row local DataFrame, and runs NO Spark job for
  * either pipeline. Both plans are only a Filter and Projects over the
  * `LocalRelation` (map-reduce scores and reduces the document inside its
  * row, with no explode or aggregate), so `ConvertToLocalRelation`
  * evaluates them during optimization and `collect` reads the folded
  * rows. The input is left bare: a `coalesce` there would block that fold
  * and compile a codegen'd job per ask (the question tokens are
  * literals). Neither pipeline runs the judge's positional batching
  * (`Engine.judgedAnswers`/`truncationJudgedAnswers`): one row is always
  * `batch_id = 0, item_number = 1`, and [[QaAnswer]] returns neither, so
  * the batched plan's range-sampling and `zipWithIndex` jobs would buy
  * nothing.
  * Engines (plan builders) are cached so repeated asks reuse analyzed
  * fragments and the session's codegen cache; ServiceSpec pins the zero
  * job count, the folded plan, parity with the batched plans and warm
  * single-request latency.
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

  /** Engine cache keyed by full config — bounded LRU, like the
    * reference's keyed pipeline cache. */
  private val maxEntries = 64
  private val cache =
    new java.util.LinkedHashMap[(String, Int, Int, Int, String), Engine](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Int, Int, String), Engine]): Boolean =
        size() > maxEntries
    }

  private[graft] def engineFor(question: String, format: String,
      chunkSize: Int, overlap: Int, threshold: Int): Engine =
    cache.synchronized {
      val key = (format, chunkSize, overlap, threshold, question)
      var e = cache.get(key)
      if (e == null) {
        e = Engine(question = question, format = format,
          chunkSize = chunkSize, overlap = overlap,
          threshold = Some(threshold), model = model)
        cache.put(key, e)
      }
      e
    }

  private[graft] def cacheSize: Int = cache.synchronized(cache.size())

  /** Answer one question about one raw document (the /answer endpoint
    * semantics): bytes -> parser slot -> one-row DataFrame -> the
    * map-reduce (or truncation) plan -> the reduced answer + judgment. */
  def ask(fileName: String, content: Array[Byte], question: String,
      format: String = "hybrid", chunkSize: Int = 64, overlap: Int = 16,
      threshold: Int = 1, pipelineType: String = "mapreduce",
      strategy: String = "start", contextWindow: Int = 128000,
      buffer: Int = 2000, promptSet: String = "hybrid",
      parsers: Map[String, DocumentParser] = BinaryDocs.defaultParsers): QaAnswer = {
    require(fileName.nonEmpty, "no file provided")
    val method = BinaryDocs.methodForPath(fileName)
    val text = parsers.get(method).flatMap(_.parse(fileName, content))
      .getOrElse(throw new IllegalArgumentException(
        s"could not parse '$fileName' with method '$method'"))
    Prompts.resolve(Some(promptSet)) // fail fast on unknown set, like the factory
    val engine = engineFor(question, format, chunkSize, overlap, threshold)
    val docs = spark.createDataFrame(Seq((0L, text))).toDF("doc_id", "text")
    val rows = (pipelineType match {
      case "truncation" =>
        engine.truncationJudgedAnswers(docs, contextWindow, buffer, strategy)
      case _ => engine.judgedAnswers(docs)
    }).collect()
    // an upload with no tokens has no chunk, so map-reduce returns no
    // row: answer with the P9 canned row, like truncation does
    if (rows.isEmpty) return QaAnswer(
      answer = MapReducePipeline.NoAnswer, score = 0.0, judgment = "No answer",
      chunksBefore = 0L, chunksAfter = 0L, retentionRate = 0.0,
      promptSet = promptSet)
    val row = rows.head
    def optLong(name: String): Long =
      if (row.schema.fieldNames.contains(name)) row.getAs[Long](name) else 1L
    QaAnswer(
      answer = row.getAs[String]("llm_answer"),
      score = row.getAs[Any](
        if (row.schema.fieldNames.contains("best_score")) "best_score" else "score")
        match { case i: Int => i.toDouble; case l: Long => l.toDouble
                case d: Double => d },
      judgment = row.getAs[String]("judgment"),
      chunksBefore = optLong("chunks_before"),
      chunksAfter = optLong("chunks_after"),
      retentionRate = row.getAs[Double]("retention_rate"),
      promptSet = promptSet)
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

  // Idle cache maintenance: DfCache drains its deferred-release list on
  // every lookup/insert, which covers active traffic — but a service
  // whose tag set stabilizes and then goes idle gets no further cache
  // calls, pinning evicted checkpoint blocks whose consumers are long
  // GC'd. The sweeper is REFERENCE-COUNTED on the global store: every
  // service instance sweeps the same cache, so one shared daemon timer
  // serves them all — instances created without close() no longer
  // accumulate redundant threads (DfCacheSpec pins idle-drain and the
  // refcount).
  graft.core.DfCache.acquireSweeper(30000L)
  private var closed = false

  /** Stops background maintenance (the daemon sweeper dies with the JVM
    * anyway; explicit close keeps long-lived embedders tidy). Safe to
    * call more than once. */
  def close(): Unit = synchronized {
    if (!closed) { closed = true; graft.core.DfCache.releaseSweeper() }
  }
}
