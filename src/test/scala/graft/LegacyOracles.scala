package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Tokenizer
import graft.functions.TextFunctions.split_chunks
import graft.operators.TruncationStrategy
import graft.pipeline.{ExtractiveModel, MapReduceConfig, PlanInputs, TextModel}

/** Reference formulations the fused codegen kernels replaced, kept
  * verbatim as parity oracles: [[pairsOfLegacy]] for
  * [[graft.operators.PairKernels]] (PairKernelsParitySpec), the two SQL
  * strings for [[graft.operators.EditKernels]] (EditDistanceFuzzSpec),
  * [[LegacyMapReduce]] for the row-local map-reduce answers and
  * [[truncationJudged]] for the raw-rows-first truncation batching
  * (MapReduceParitySpec), [[LegacyQaAsk]] for the prepared service ask
  * (ServiceSpec), [[globalOrder]] for the distributed-sequence numbering
  * (GlobalOrderSpec). The QA oracles tokenize with the regex
  * ([[regexTokens]]) and score with [[LegacyExtractiveModel]], so the
  * scanner kernels they check are not their own reference. Not on any
  * query path. */
object LegacyOracles {

  /** The engine's token rule as Spark's `regexp_extract_all` — the
    * reference the scanner-backed `TextFunctions.regex_tokens` is
    * property-tested against (TokenKernelsSpec) and the independent
    * tokenization the term/bigram/winnow/sketch specs count with. */
  def regexTokens(c: Column): Column =
    regexp_extract_all(c, lit(Tokenizer.DuckDbTokenRegex), lit(0))

  /** `GlobalOrder.withRowNumber` as it numbered rows outside Catalyst:
    * the range-partitioned, sorted frame converted to an RDD of external
    * `Row`s, `zipWithIndex`, and `createDataFrame` back — its count job
    * runs when the frame is built. */
  def globalOrder(df: DataFrame, order: Column, out: String = "rn",
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, order).sortWithinPartitions(order)
    val schema = ranged.schema.add(out, LongType, nullable = false)
    val indexed = ranged.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** `Engine.positionalBatches` over [[globalOrder]], so the
    * judged oracles do not number with the operator they are checked
    * against. */
  def positionalBatches(df: DataFrame, order: Column, size: Int = 5): DataFrame =
    globalOrder(df, order)
      .withColumn("batch_id", floor((col("rn") - 1) / size).cast("long"))
      .withColumn("item_number", ((col("rn") - 1) % size + 1).cast("int"))
      .drop("rn")

  /** `Engine.truncationJudgedAnswers` over literal inputs as it scored
    * the truncated text: regex tokens and, for the extractive model, the
    * hash-set formula. */
  private[graft] def truncationJudgedAnswers(engine: Engine, documents: DataFrame,
      budget: Column, strategy: TruncationStrategy): DataFrame = {
    val (cfg, model) = (engine.config, LegacyExtractiveModel.or(engine.model))
    val threshold = lit(cfg.threshold)
    documents
      .withColumn("t", strategy.truncate(col("text"), budget))
      .withColumn("ttoks", regexTokens(col("t.text")))
      .withColumn("score", cfg.format.scaleUp(
        model.score(col("ttoks"), PlanInputs.literals(cfg).questionTokens)))
      .select(col("doc_id"),
        col("t.original_tokens").as("original_tokens"),
        col("t.truncated_tokens").as("truncated_tokens"),
        col("t.retention_rate").as("retention_rate"),
        col("t.truncation_applied").as("truncation_applied"),
        col("score"),
        when(col("score") > threshold, model.content(col("ttoks")))
          .otherwise(lit(Engine.NoAnswer)).as("llm_answer"))
      .withColumn("judgment", model.judge(cfg.format.scaleDown(col("score")),
        when(col("score") <= threshold, lit(0)).otherwise(lit(1))))
  }

  /** The pre-r18 formulation, kept VERBATIM as the parity oracle for
    * PairKernelsParitySpec — THE one place the subtle
    * 0-based-transform-index into 1-based-slice enumeration lives
    * (`i + 2` skips x itself). Not on any query path. */
  private[graft] def pairsOfLegacy(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(x.as("_1"), y.as("_2")))))

  /** The legacy HOF formulation of [[editProbe]]'s signature array,
    * kept verbatim as the parity oracle for the fused kernel
    * (EditDistanceFuzzSpec compares them element-for-element). */
  /** `Engine.truncationJudged` as it batched its judged answers last
    * (positional batching over the truncated, scored rows). */
  private[graft] def truncationJudged(engine: Engine, documents: DataFrame,
      budget: Column, strategy: TruncationStrategy): DataFrame =
    positionalBatches(
      truncationJudgedAnswers(engine, documents, budget, strategy), col("doc_id"))

  /** `StreamingOps.rateThrottledQa`'s per-document columns as it computed
    * them: regex tokens and its own copy of the hash-set score formula
    * over every token window. doc_id, token_count, n_chunks, best_score. */
  private[graft] def rateQaScores(docs: DataFrame, chunkSize: Int, overlap: Int,
      question: Seq[String]): DataFrame = {
    val stride = chunkSize - overlap
    val toks = regexTokens(col("text"))
    val qarr = array(question.map(lit): _*)
    val n = size(toks)
    val k = when(n <= chunkSize, lit(1)).otherwise(
      (lit(1) + ceil((n - lit(chunkSize)).cast("double") / stride)).cast("int"))
    val best = array_max(transform(sequence(lit(1), col("n_chunks")), i =>
      least(lit(10), size(array_intersect(
        array_distinct(slice(toks, (i - 1) * stride + 1, lit(chunkSize))), qarr)))))
    docs.withColumn("token_count", n)
      .withColumn("n_chunks", k)
      .withColumn("best_score", best)
      .select("doc_id", "token_count", "n_chunks", "best_score")
  }

  private[graft] val legacyProbeSigsSql: String =
    """array_distinct(transform(
      |  filter(
      |    flatten(transform(
      |      array(named_struct('dl', -2, 'sh', 0),
      |            named_struct('dl', -2, 'sh', 1),
      |            named_struct('dl', -2, 'sh', 2),
      |            named_struct('dl', -1, 'sh', 0),
      |            named_struct('dl', -1, 'sh', 1),
      |            named_struct('dl',  0, 'sh', -1),
      |            named_struct('dl',  0, 'sh', 0),
      |            named_struct('dl',  0, 'sh', 1),
      |            named_struct('dl',  1, 'sh', -1),
      |            named_struct('dl',  1, 'sh', 0),
      |            named_struct('dl',  2, 'sh', -2),
      |            named_struct('dl',  2, 'sh', -1),
      |            named_struct('dl',  2, 'sh', 0)), ds ->
      |      transform(sequence(0, 2), i -> named_struct(
      |        'ls', CAST(l + ds.dl AS INT),
      |        'i', CAST(i AS INT),
      |        'st', CAST(i * ((l + ds.dl) div 3)
      |          + greatest(0, i - (3 - (l + ds.dl) % 3)) + ds.sh AS INT),
      |        'ln', CAST(((l + ds.dl) div 3)
      |          + IF(i >= 3 - (l + ds.dl) % 3, 1, 0) AS INT))))),
      |    s -> s.st >= 0 AND s.ln >= 1 AND s.st + s.ln <= l
      |         AND s.ls >= 9),
      |  s -> named_struct('ls', s.ls, 'i', s.i,
      |    'seg', substring(p_name, s.st + 1, s.ln))))""".stripMargin

  /** Legacy index-side segment array ([[legacyProbeSigsSql]]'s sibling
    * parity oracle for [[graft.operators.EditKernels.segments]]). */
  private[graft] val legacySegmentsSql: String =
    """transform(sequence(0, 2), i -> named_struct(
      |  'i', CAST(i AS INT),
      |  'seg', substring(p_name,
      |    CAST(i * (l div 3) + greatest(0, i - (3 - l % 3)) + 1 AS INT),
      |    CAST((l div 3) + IF(i >= 3 - l % 3, 1, 0) AS INT))))""".stripMargin
}

/** [[ExtractiveModel]] as it scored before the `distinct_overlap`
  * kernel: |distinct chunk tokens ∩ question tokens| through two hash
  * sets (`array_distinct`, `array_intersect`), capped at 10. */
private[graft] object LegacyExtractiveModel extends TextModel {
  def score(chunkTokens: Column, questionTokens: Column): Column =
    least(lit(10), size(array_intersect(array_distinct(chunkTokens), questionTokens)))
  def content(chunkTokens: Column): Column = concat_ws(" ", chunkTokens)

  /** This model in place of [[ExtractiveModel]]; any other model as is. */
  def or(model: TextModel): TextModel = if (model eq ExtractiveModel) this else model
}

/** The explode -> groupBy(doc_id) -> aggregate formulation of
  * [[Engine]]'s `answers`/`judgedAnswers`/`judged`, kept
  * verbatim as the parity oracle for the row-local plan
  * (MapReduceParitySpec). `mapped` is the pipeline's per-chunk map as it
  * was before the document was tokenized once: `split_chunks`, then the
  * regex over each chunk's text, with [[LegacyExtractiveModel]] in place
  * of [[ExtractiveModel]]; `xmlItem` is the five-`replace` escape. */
private[graft] class LegacyMapReduce(cfg: MapReduceConfig,
    pipelineModel: TextModel = ExtractiveModel) {

  private val model = LegacyExtractiveModel.or(pipelineModel)

  private def mapped(documents: DataFrame): DataFrame = {
    val ctoks = col("ctoks")
    documents.select(col("doc_id"),
        split_chunks(col("text"), lit(cfg.chunkSize), lit(cfg.overlap)))
      .withColumn("ctoks", LegacyOracles.regexTokens(col("chunk_text")))
      .withColumn("score", cfg.format.scaleUp(
        model.score(ctoks, PlanInputs.literals(cfg).questionTokens)))
      .withColumn("content", model.content(ctoks))
      .drop("ctoks", "chunk_text")
  }

  private def xmlItem(idx: Column, content: Column): Column = {
    val escaped = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
      "\"" -> "&quot;", "'" -> "&apos;")
      .foldLeft(content) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    concat(lit("<chunk_"), idx, lit(">"), escaped, lit("</chunk_"), idx, lit(">"))
  }

  /** Stage 3-5: filter (P4), gather per doc (M3), ordered reduce input
    * (M4/M5/O1), extractive reduce + error-row fabrication (M6/M7/P9),
    * filtering stats (A7/A9). One shuffle. */
  def answers(documents: DataFrame): DataFrame = {
    val m = mapped(documents)
    val surviving = col("score") > cfg.threshold
    // single-column ordering key: best score first, then lowest chunk_idx
    // (chunk_idx < 1e6 by construction at sane chunk sizes)
    val ord = col("score") * 1000000L - col("chunk_idx")
    m.groupBy(col("doc_id")).agg(
      count(lit(1)).as("chunks_before"),
      sum(when(surviving, 1).otherwise(0)).as("chunks_after"),
      max(col("score")).as("best_score"),
      // M4/M5: reduce input = surviving contents in chunk order —
      // XML-wrapped items (json format) or bare concat (plain/hybrid)
      array_join(
        transform(
          array_sort(collect_list(when(surviving,
            struct(col("chunk_idx"), col("content"))))),
          x => if (cfg.format.xmlReduce) xmlItem(x("chunk_idx"), x("content"))
               else x("content")),
        "\n").as("reduce_input"),
      max_by(when(surviving, col("content")), when(surviving, ord))
        .as("top_content"))
      .withColumn("retention_rate",
        round(col("chunks_after") / col("chunks_before"), 4))
      // P9: error-row fabrication — no surviving chunk => canned answer
      .withColumn("llm_answer",
        coalesce(col("top_content"), lit(Engine.NoAnswer)))
      .drop("top_content")
  }

  def judgedAnswers(documents: DataFrame): DataFrame =
    answers(documents).withColumn("judgment",
      // judge's contract is the 0-10 scale; best_score carries the
      // FORMAT's scale (0-100 for plain), so normalize before the
      // bands — without this every plain-format doc scoring >= 40/100
      // judged "Correct" and the middle bands were unreachable
      model.judge(
        if (cfg.format.scoreScale == 10) col("best_score")
        else cfg.format.scaleDown(col("best_score")),
        col("chunks_after")))

  def judged(documents: DataFrame): DataFrame =
    LegacyOracles.positionalBatches(judgedAnswers(documents), col("doc_id"))
}

/** `QaService.ask` over a Dataset, as it ran before prepared templates:
  * an [[Engine]] per configuration with the question, sizes and threshold
  * as literals, a one-row DataFrame, the judged-answers plan of the
  * frozen oracles above ([[LegacyMapReduce]],
  * [[LegacyOracles.truncationJudgedAnswers]]), `collect` and by-name
  * reads. The parity oracle for the prepared ask
  * (ServiceSpec); `text` is the parsed upload. */
private[graft] object LegacyQaAsk {
  def ask(spark: SparkSession, model: TextModel, text: String, question: String,
      format: String = "hybrid", chunkSize: Int = 64, overlap: Int = 16,
      threshold: Int = 1, pipelineType: String = "mapreduce",
      strategy: String = "start", contextWindow: Int = 128000,
      buffer: Int = 2000, promptSet: String = "hybrid"): QaAnswer = {
    val engine = Engine(question = question, format = format,
      chunkSize = chunkSize, overlap = overlap,
      threshold = Some(threshold), model = model)
    val docs = spark.createDataFrame(Seq((0L, text))).toDF("doc_id", "text")
    val rows = (pipelineType match {
      case "truncation" => LegacyOracles.truncationJudgedAnswers(engine, docs,
        lit(Engine.truncationBudget(question, contextWindow, buffer)),
        graft.operators.TruncationStrategies.get(strategy))
      case _ => new LegacyMapReduce(engine.config, model).judgedAnswers(docs)
    }).collect()
    // an upload with no tokens has no chunk, so map-reduce returns no
    // row: answer with the P9 canned row, like truncation does
    if (rows.isEmpty) return QaAnswer(
      answer = Engine.NoAnswer, score = 0.0, judgment = "No answer",
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
}
