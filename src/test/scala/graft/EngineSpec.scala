package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class EngineSpec extends SparkSpec {

  test("improveQuestions: rewrite + original kept + null fallback") {
    val sess = spark
    import sess.implicits._
    val pipe = Engine()
    val qa = Seq("  what   is\nrevenue", "already clean?").toDF("question")
    val out = pipe.improveQuestions(qa).collect()
    assert(out(0).getAs[String]("question") == "what is revenue?")
    assert(out(0).getAs[String]("original_question") == "  what   is\nrevenue")
    assert(out(1).getAs[String]("question") == "already clean?")
    // rewriter returning null falls back to the original
    val out2 = pipe.improveQuestions(qa, _ => lit(null).cast("string")).collect()
    assert(out2(0).getAs[String]("question") == "  what   is\nrevenue")
  }

  test("improveQuestions routes through a custom TextModel (M8)") {
    import org.apache.spark.sql.Column
    val sess = spark
    import sess.implicits._
    object UpperModel extends graft.pipeline.TextModel {
      def score(chunkTokens: Column, questionTokens: Column): Column = lit(1)
      def content(chunkTokens: Column): Column = lit("x")
      override def improve(question: Column): Column = upper(question)
    }
    val qa = Seq("what is revenue").toDF("question")
    val out = Engine(model = UpperModel).improveQuestions(qa).collect()
    // the custom model's rewriter reaches the question stage, not the
    // extractive default
    assert(out(0).getAs[String]("question") == "WHAT IS REVENUE")
    assert(out(0).getAs[String]("original_question") == "what is revenue")
  }

  test("a custom TextModel judge reaches both plan shapes") {
    import org.apache.spark.sql.Column
    object BinaryJudge extends graft.pipeline.TextModel {
      def score(chunkTokens: Column, questionTokens: Column): Column =
        graft.pipeline.ExtractiveModel.score(chunkTokens, questionTokens)
      def content(chunkTokens: Column): Column =
        graft.pipeline.ExtractiveModel.content(chunkTokens)
      override def judge(bestScore: Column, chunksAfter: Column): Column =
        when(chunksAfter === 0, "No answer").otherwise("Custom")
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = "spark query join data filter group sort merge window stream batch hash"
    val mr = Engine(question = q, model = BinaryJudge).judged(docs)
      .select("judgment").distinct().collect().map(_.getString(0)).toSet
    assert(mr.subsetOf(Set("No answer", "Custom")) && mr.contains("Custom"))
    val tr = Engine(question = q, model = BinaryJudge).truncationJudged(docs)
      .select("judgment").distinct().collect().map(_.getString(0)).toSet
    assert(tr.subsetOf(Set("No answer", "Custom")))
  }

  test("Engine format selection changes thresholds and reduce shape") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = "spark query join data filter group sort merge window stream batch hash"
    val json = Engine(format = "json", question = q).answers(docs)
    val hybrid = Engine(format = "hybrid", question = q).answers(docs)
    val j = json.filter(col("chunks_after") > 0).select("reduce_input").first().getString(0)
    assert(j.startsWith("<chunk_"))
    val h = hybrid.filter(col("chunks_after") > 0).select("reduce_input").first().getString(0)
    assert(!h.startsWith("<chunk_"))
  }

  test("GraftExtensions injects all kernel functions") {
    // a fresh SparkSession can't be built in the shared test JVM (the
    // extensions only apply at session construction); the end-to-end path
    // is exercised via spark-shell with spark.sql.extensions (see verify
    // skill). Here: injection runs cleanly and registers the function set.
    val injected = scala.collection.mutable.ArrayBuffer[String]()
    val exts = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions().apply(exts)
    assert(injected.size == injected.distinct.size, injected)
    // the session-level path registers the same names: a fresh session
    // starts from the built-ins alone (this test session has no
    // extensions), so what register adds is the registry minus those
    val fresh = spark.newSession()
    graft.functions.TextFunctions.register(fresh)
    val builtins = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .builtin.listFunction().map(_.funcName).toSet
    val registered = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet -- builtins
    assert(registered == injected.toSet,
      s"only injected: ${injected.toSet -- registered}; " +
        s"only registered: ${registered -- injected}")
    // and the session-level registration path covers SQL resolution:
    graft.functions.TextFunctions.register(spark)
    val r = spark.sql(
      "SELECT count_tokens('hello world') AS c").collect()(0)
    assert(r.getAs[Int]("c") == 2)
    val tc = spark.sql(
      "SELECT term_counts('a b a') AS m").collect()(0)
      .getAs[Map[String, Long]]("m")
    assert(tc == Map("a" -> 2L, "b" -> 1L))
    // the native SequenceMatcher expression resolves from SQL and agrees
    // with the static kernel (difflib parity is golden-spec'd)
    val sr = spark.sql(
      "SELECT sequence_ratio('abcab', 'bcab') AS r").collect()(0).getDouble(0)
    assert(sr == graft.operators.FuzzyJoin.ratioFn("abcab", "bcab"))
    assert(math.abs(sr - 8.0 / 9.0) < 1e-12)
    // non-literal children: constant folding can't pre-evaluate, so this
    // compiles and runs the doGenCode path inside whole-stage codegen —
    // a broken generated-call string fails HERE, not first at bench time
    // (a local Seq would fold to a LocalTableScan pre-codegen; a range
    // scan keeps the projection in generated code)
    val gen = spark.range(3).selectExpr(
        "CASE id WHEN 0 THEN 'abcab' WHEN 1 THEN 'xyz' ELSE '' END AS a",
        "CASE id WHEN 0 THEN 'bcab' WHEN 1 THEN 'abc' ELSE '' END AS b")
      .select(graft.functions.TextFunctions.sequence_ratio(col("a"), col("b"))
        .as("r"))
    // the "*(n)" prefix is executedPlan.toString's WholeStageCodegen marker
    assert(gen.queryExecution.executedPlan.toString.contains("*(1) Project"),
      s"projection must be codegen'd:\n${gen.queryExecution.executedPlan}")
    val rs = gen.collect().map(_.getDouble(0))
    assert(rs(0) == graft.operators.FuzzyJoin.ratioFn("abcab", "bcab"))
    assert(rs(1) == 0.0 && rs(2) == 1.0)
    // the r11 additions resolve from SQL and agree with their kernels
    val h = spark.sql("SELECT hash64('abc') AS h, hash_family(hash64('abc'), 2) AS hf")
      .collect()(0)
    val base = graft.functions.HashKernel.xxh64(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc"))
    assert(h.getLong(0) == base)
    assert(h.getLong(1) ==
      graft.functions.Mix.fmix64(base ^ (2L * 0x9E3779B97F4A7C15L)))
    val lcs = spark.sql("SELECT lcs_tokens('a b c', 'a c', 10) AS l")
      .collect()(0).getInt(0)
    assert(lcs == 2)
    // golden JW values (Winkler 1990 / rapidfuzz; DuckDB-verified)
    val jw = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS a, " +
        "jaro_winkler('dixon', 'dicksonx') AS b, " +
        "jaro_winkler('', '') AS c, jaro_winkler('a', '') AS d")
      .collect()(0)
    assert(math.abs(jw.getDouble(0) - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw.getDouble(1) - 0.8133333333333332) < 1e-15)
    assert(jw.getDouble(2) == 1.0 && jw.getDouble(3) == 0.0)
  }

  test("judgment is format-invariant: plain's 0-100 scores normalize before the judge bands") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = "spark query join data filter group sort merge window stream batch hash"
    def judgments(format: String): Map[Long, String] =
      Engine(format = format, question = q).judged(docs)
        .select(col("doc_id"), col("judgment"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val json = judgments("json")
    val plain = judgments("plain")
    // same docs, same extractive scores — only the format scale differs,
    // so the 5-way judgment must be identical (pre-fix, every plain doc
    // with best_score >= 40/100 was "Correct" and middle bands dead)
    assert(json == plain,
      s"diverging: ${json.toSet.diff(plain.toSet).take(5)}")
    assert(json.values.toSet.size > 1, "fixture must exercise several bands")
  }

  test("truncationAnswers: budget floor, strategies, threshold gating") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = "spark query join data filter group sort merge window stream batch hash"
    val eng = Engine(question = q)
    // tiny contextWindow => budget floored at 1000 tokens
    val floored = eng.truncationAnswers(docs, contextWindow = 10, buffer = 2000)
    assert(floored.agg(max(col("truncated_tokens"))).first().getInt(0) <= 1000)
    // end strategy keeps a suffix: same stats contract, applied rows exist
    // (synthetic long doc — the sf corpus sits under the 1000-token floor)
    val sess = spark
    import sess.implicits._
    val longDoc = Seq((1L, (1 to 2500).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ends = eng.truncationAnswers(longDoc, contextWindow = 1100, buffer = 0,
      strategy = "end")
    val ap = ends.filter(col("truncation_applied")).first()
    assert(ap.getAs[Int]("truncated_tokens") <= 1100 &&
      ap.getAs[Double]("retention_rate") < 1.0)
    // threshold gating: rows at score <= threshold get the canned answer
    val out = eng.truncationAnswers(docs)
    assert(out.filter(col("score") <= eng.config.threshold &&
      col("llm_answer") =!= "No answer found in document").count() == 0)
  }

  test("truncationAnswers routes through the pluggable model") {
    import org.apache.spark.sql.Column
    object ConstModel extends graft.pipeline.TextModel {
      def score(chunkTokens: Column, questionTokens: Column): Column = lit(9)
      def content(chunkTokens: Column): Column = lit("CUSTOM")
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Engine(model = ConstModel).truncationAnswers(docs)
    // a custom model must drive BOTH the score and the answer content on
    // the truncation path (not silently fall back to extractive semantics)
    assert(out.select("score").distinct().collect().map(_.getInt(0)).toSet == Set(9))
    assert(out.select("llm_answer").distinct().first().getString(0) == "CUSTOM")
  }

  test("truncation strategy registry: builtins, custom reach the Engine, bad ones rejected") {
    import org.apache.spark.sql.Column
    import graft.operators.{TruncationStrategies, TruncationStrategy}
    assert(TruncationStrategies.available.toSet
      .intersect(Set("start", "end", "smart")).size == 3)
    intercept[IllegalArgumentException](TruncationStrategies.get("nope"))
    // a custom strategy registered by name reaches Engine.truncationAnswers
    object HalfBudget extends TruncationStrategy {
      val name = "half"
      def truncate(text: Column, maxTokens: Column): Column =
        graft.functions.TextFunctions.truncate_tokens(
          text, (maxTokens / 2).cast("int"), lit("start"))
    }
    TruncationStrategies.register(HalfBudget)
    val sess = spark
    import sess.implicits._
    val longDoc = Seq((1L, (1 to 2500).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Engine(question = "w1 w2").truncationAnswers(
      longDoc, contextWindow = 1100, buffer = 0, strategy = "half")
    // the halved budget (not the full one) reached the expression
    assert(out.first().getAs[Int]("truncated_tokens") <= 550)
    // a strategy with the wrong output shape is rejected at registration
    object Bad extends TruncationStrategy {
      val name = "bad"
      def truncate(text: Column, maxTokens: Column): Column = lit("oops")
    }
    intercept[IllegalArgumentException](TruncationStrategies.register(Bad))
  }

  test("empty question tokenizes to a typed empty array (no analysis error)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(5)
    val out = Engine(question = " ").answers(docs)
    assert(out.count() == 5) // would throw at analysis time on array<null>
  }

  test("truncationJudged: 5-way judgment + positional batching over truncation path") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = "spark query join data filter group sort merge window stream batch hash"
    val j = Engine(question = q).truncationJudged(docs)
    assert(j.count() == docs.count())
    val valid = Set("Correct", "Coherent", "Deviated", "Incorrect", "No answer")
    assert(j.select("judgment").distinct().collect()
      .map(_.getString(0)).forall(valid))
    // batches of 5 by doc_id order; item numbers 1-5 within batch
    val rows = j.orderBy("doc_id").select("batch_id", "item_number").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i / 5 && r.getInt(1) == i % 5 + 1)
    }
    // the gate: judgment 'No answer' iff score below threshold
    assert(j.filter(col("judgment") === "No answer" &&
      col("llm_answer") =!= "No answer found in document").count() == 0)
  }

  test("truncationJudged's generated code does not depend on its budget") {
    // each question has its own budget; an inlined one compiled every plan anew
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def code(contextWindow: Int): String = {
      val j = Engine().truncationJudged(docs, contextWindow = contextWindow, buffer = 500)
      // the generated classes only, without the plan trees and their ids
      org.apache.spark.sql.execution.debug.codegenString(j.queryExecution.executedPlan)
        .split("Generated code:").drop(1).map(_.split("== Subtree").head).mkString
    }
    // the whole plan up front, not AQE's stages
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (a, b) = try (code(3000), code(3001))
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(a.contains("truncateTokens("))
    assert(a == b)
    // and the budget still reaches the kernel
    val five = Engine().truncationJudged(docs, lit(5), operators.TruncationStrategies.get("start"))
    assert(five.filter(col("truncated_tokens") =!= least(col("original_tokens"), lit(5)))
      .count() == 0)
    assert(five.filter(col("truncation_applied")).count() > 0)
  }

  test("judge blocks contain exactly the batch's escaped items") {
    val blocks = graft.queries.QaPipeline.judgeBlocks(spark, sf)
      .orderBy("batch_id").collect()
    assert(blocks.forall(_.getAs[Long]("n_items") <= 5))
    val first = blocks.head.getAs[String]("judge_block")
    assert(first.contains("<qa_pair id=\"1\"><answer>"))
    assert(first.split("\n").length == blocks.head.getAs[Long]("n_items"))
  }
}
