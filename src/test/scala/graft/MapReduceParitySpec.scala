package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.python.AttachDistributedSequenceExec
import org.apache.spark.sql.functions._

import graft.functions.{ChunkTokens, TruncateTokens}
import graft.operators.TruncationStrategies
import graft.pipeline.{ExtractiveModel, TextModel}

/** Score = tokens longer than 3 chars (nested lambda inside the
  * pipeline's own lambdas), content = reversed tokens upper-cased. */
private[graft] object LongTokenModel extends TextModel {
  def score(chunkTokens: Column, questionTokens: Column): Column =
    least(lit(10), size(filter(chunkTokens, t => length(t) > 3)))
  def content(chunkTokens: Column): Column =
    upper(array_join(reverse(chunkTokens), "_"))
}

object MapReduceParitySpec {
  /** Edge-case documents for chunkSize 4, overlap 1 and the question
    * "spark query join data"; doc_id = position + 1. */
  val edgeTexts: Seq[String] = Seq(
    "",
    "   \n  ",
    "?! ... ,;",                          // tokens, no survivor
    null,
    "spark",                              // 1 token
    "spark query join data",              // chunkSize tokens
    "spark query join data more",         // chunkSize + 1 tokens
    "alpha beta gamma delta epsilon zeta eta theta", // no survivor
    "spark query join spark query join spark query join", // all survive, all tied
    "spark query x y z w spark query",   // chunks 0 and 2 tie on score
    "spark & query <join> \"data\" 'x' a&b </chunk_0>", // XML specials
    "spark query join data across tables with window functions " * 12)
}

/** The row-local map-reduce plan (`answers`, `judgedAnswers`, `judged`)
  * against the explode -> groupBy(doc_id) formulation it replaced
  * ([[LegacyMapReduce]]): identical rows and identical schema (names,
  * types, order) for every format, on the sf0.01 corpus and on edge-case
  * documents; plus the plan shape that makes the ask fold and keeps the
  * judge from scoring twice. The same for `Engine.truncationJudged`,
  * which numbers the raw rows before truncating them, against the
  * batch-last form ([[LegacyOracles.truncationJudged]]). */
class MapReduceParitySpec extends SparkSpec {

  private val formats = Engine.supportedFormats
  private val question = "spark query join data"

  // chunkSize 4, overlap 1 (stride 3); threshold 1: a chunk survives with
  // at least 2 distinct question tokens
  private val small = Engine(chunkSize = 4, overlap = 1, threshold = Some(1),
    question = question)

  private lazy val edgeDocs: DataFrame = spark.createDataFrame(
    MapReduceParitySpec.edgeTexts.zipWithIndex.map { case (t, i) => (i + 1L, t) })
    .toDF("doc_id", "text")

  private def schemaOf(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))

  private def assertSame(newDf: DataFrame, oldDf: DataFrame, clue: String): Unit = {
    assert(schemaOf(newDf) == schemaOf(oldDf), clue)
    val (n, o) = (rows(newDf), rows(oldDf))
    assert(n.length == o.length, clue)
    n.zip(o).foreach { case (a, b) => assert(a == b, s"$clue: $a != $b") }
  }

  private def assertParity(engine: Engine, model: TextModel,
      docs: DataFrame, what: String): Unit = {
    val (pipe, legacy) = (engine.copy(model = model), new LegacyMapReduce(engine.config, model))
    val clue = s"$what/${engine.format}"
    assertSame(pipe.answers(docs), legacy.answers(docs), s"$clue answers")
    assertSame(pipe.judgedAnswers(docs), legacy.judgedAnswers(docs), s"$clue judgedAnswers")
    assertSame(pipe.judged(docs), legacy.judged(docs), s"$clue judged")
  }

  test("row-local answers equal the aggregate oracle on sf0.01 documents") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    val docs = graft.core.Tables.load(spark, sf01, "documents")
    formats.foreach(f =>
      assertParity(Engine(format = f, threshold = Some(1), question = question),
        ExtractiveModel, docs, "sf0.01"))
  }

  test("row-local answers equal the aggregate oracle on edge-case documents") {
    for (f <- formats; model <- Seq(ExtractiveModel, LongTokenModel))
      assertParity(small.copy(format = f), model, edgeDocs, model.getClass.getSimpleName)
    val byId = rows(small.answers(edgeDocs))
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // no token (empty, whitespace-only, null) => no answer row
    assert(byId.keySet == Set(3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L))
    assert(byId(6L).getAs[Long]("chunks_before") == 1L)
    assert(byId(7L).getAs[Long]("chunks_before") == 2L)
    assert(byId(8L).getAs[String]("llm_answer") == Engine.NoAnswer)
    assert(byId(9L).getAs[Long]("chunks_after") == 3L)
    // score ties go to the lowest chunk_idx
    assert(byId(10L).getAs[String]("llm_answer") == "spark query x y")
    val json = rows(small.copy(format = "json")
      .answers(edgeDocs.filter(col("doc_id") === 11L))).head
    assert(json.getAs[String]("reduce_input").contains("&amp;"), json)
  }

  test("answers on a parquet scan plan no shuffle and no aggregate") {
    val docs = graft.core.Tables.load(spark, sf, "documents")
    val plan = Engine(threshold = Some(1)).answers(docs)
      .queryExecution.sparkPlan
    assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty, plan.treeString)
    assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty, plan.treeString)
  }

  /** The plan numbers the raw rows (one shuffle, the range exchange
    * below the distributed sequence) and computes `scoredBy` once, in a
    * Project above that numbering. */
  private def assertRawRowsNumbered(df: DataFrame, scoredBy: Class[_]): Unit = {
    val plan = df.queryExecution.sparkPlan
    val scoring = plan.collect {
      case p: ProjectExec if p.projectList.exists(_.exists(e => scoredBy.isInstance(e))) => p
    }
    assert(scoring.length == 1, plan.treeString)
    val numbering = scoring.head.collect { case s: AttachDistributedSequenceExec => s }
    assert(numbering.length == 1, plan.treeString)
    // only the raw rows and their number cross the range exchange
    assert(numbering.head.child.output.map(_.name) == Seq("doc_id", "text"), plan.treeString)
    val exchanges = plan.collect { case s: ShuffleExchangeLike => s }
    assert(exchanges.length == 1, plan.treeString)
    assert(numbering.head.collect { case s: ShuffleExchangeLike => s } == exchanges,
      plan.treeString)
  }

  test("judged shuffles once, to number raw rows, and scores above that exchange") {
    val docs = graft.core.Tables.load(spark, sf, "documents")
    assertRawRowsNumbered(Engine(threshold = Some(1)).judged(docs),
      classOf[ChunkTokens])
  }

  test("truncationJudged equals the batch-last form on sf0.01 documents") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    val docs = graft.core.Tables.load(spark, sf01, "documents")
    // 30 tokens truncates most sf0.01 documents; 126000 none
    for (format <- Engine.supportedFormats; name <- Seq("start", "end", "smart");
         budget <- Seq(30, 126000)) {
      val (engine, strategy) = (Engine(format = format, question = question),
        TruncationStrategies.get(name))
      assertSame(engine.truncationJudged(docs, lit(budget), strategy),
        LegacyOracles.truncationJudged(engine, docs, lit(budget), strategy),
        s"truncationJudged/$format/$name/$budget")
    }
  }

  test("truncationJudged shuffles once, to number raw rows, and truncates above it") {
    val docs = graft.core.Tables.load(spark, sf, "documents")
    assertRawRowsNumbered(Engine().truncationJudged(docs), classOf[TruncateTokens])
  }
}
