package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TruncationStrategy
import graft.pipeline.{ExtractiveModel, MapReduceConfig, MapReducePipeline, PlanInputs, TextModel}

/** Reference formulations the fused codegen kernels replaced, kept
  * verbatim as parity oracles: [[pairsOfLegacy]] for
  * [[graft.operators.PairKernels]] (PairKernelsParitySpec), the two SQL
  * strings for [[graft.operators.EditKernels]] (EditDistanceFuzzSpec),
  * [[LegacyMapReduce]] for the row-local map-reduce answers and
  * [[truncationJudged]] for the raw-rows-first truncation batching
  * (MapReduceParitySpec), [[LegacyQaAsk]] for the prepared service ask
  * (ServiceSpec). Not on any query path. */
object LegacyOracles {

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
    MapReducePipeline.positionalBatches(
      engine.truncationJudgedAnswers(documents, Nil, budget, strategy,
        PlanInputs.literals(engine.config)),
      col("doc_id"))

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

/** The explode -> groupBy(doc_id) -> aggregate formulation of
  * [[MapReducePipeline]]'s `answers`/`judgedAnswers`/`judged`, kept
  * verbatim as the parity oracle for the row-local plan
  * (MapReduceParitySpec). `mapped` is the pipeline's own (unchanged);
  * `xmlItem` and the judge are copies of the pipeline's private ones. */
private[graft] class LegacyMapReduce(cfg: MapReduceConfig,
    model: TextModel = ExtractiveModel) {

  private val pipe = new MapReducePipeline(cfg, model)
  private def mapped(documents: DataFrame): DataFrame = pipe.mapped(documents)

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
        coalesce(col("top_content"), lit(MapReducePipeline.NoAnswer)))
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
    MapReducePipeline.positionalBatches(judgedAnswers(documents), col("doc_id"))
}

/** `QaService.ask` over a Dataset, as it ran before prepared templates:
  * an [[Engine]] per configuration with the question, sizes and threshold
  * as literals, a one-row DataFrame, the judged-answers plan, `collect`
  * and by-name reads. The parity oracle for the prepared ask
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
}
