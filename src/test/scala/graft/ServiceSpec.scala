package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{expr, lit, when}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{TruncationStrategies, TruncationStrategy}
import graft.pipeline.{ExtractiveModel, TextModel}
import graft.sources.BinaryDocs

/** §3.3: single-request service facade — upload-shaped input, prepared
  * templates (equal to the Dataset path, also under concurrent asks), and
  * the N=1 latency posture. */
class ServiceSpec extends SparkSpec {

  private val doc =
    ("spark query join data across tables with window functions " +
      "and stream batch merge sort hash aggregation ") * 40

  test("ask answers a parsed upload end to end (mapreduce and truncation)") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    val a = svc.ask("report.md", doc.getBytes("UTF-8"), q)
    assert(a.answer.nonEmpty && a.answer != "No answer found in document")
    assert(a.score > 0 && a.chunksAfter > 0)
    assert(Set("Correct", "Coherent", "Deviated", "Incorrect", "No answer")(a.judgment))
    val t = svc.ask("report.md", doc.getBytes("UTF-8"), q,
      pipelineType = "truncation")
    assert(t.answer.nonEmpty)
    assert(t.retentionRate > 0)
    // unparseable upload fails like the endpoint's 400 path
    intercept[IllegalArgumentException](
      svc.ask("bad.pdf", Array[Byte](1, 2, 3), q))
    intercept[IllegalArgumentException](
      svc.ask("report.md", doc.getBytes("UTF-8"), q, promptSet = "nope"))
  }

  test("an upload with no tokens or no surviving chunk gets the canned answer") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    for (text <- Seq("", "   \n  ", "?! ... ,;")) {
      val bytes = text.getBytes("UTF-8")
      val m = svc.ask("e.md", bytes, q)
      val t = svc.ask("e.md", bytes, q, pipelineType = "truncation")
      for (a <- Seq(m, t)) {
        assert(a.answer == "No answer found in document", s"'$text'")
        assert(a.score == 0.0 && a.judgment == "No answer", s"'$text'")
      }
      // no token => no chunk; punctuation tokens make one chunk, none survive
      val chunks = if (text.trim.isEmpty) 0L else 1L
      assert(m.chunksBefore == chunks && m.chunksAfter == 0L, s"'$text'")
      assert(m.retentionRate == 0.0, s"'$text'")
    }
  }

  test("ask answers exactly what the batched judged plans return for its row") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    val unrelated = "unrelated prose about gardening and weather " * 30
    val cases = (for (f <- Engine.supportedFormats; p <- Engine.supportedPipelines)
      yield (doc, f, p)) ++ Engine.supportedPipelines.map(p => (unrelated, "hybrid", p))
    for ((text, format, pipeline) <- cases) {
      val clue = s"$format/$pipeline/${text.take(9)}"
      val a = svc.ask("p.md", text.getBytes("UTF-8"), q, format = format,
        pipelineType = pipeline)
      val e = Engine(question = q, format = format, threshold = Some(1))
      val docs = spark.createDataFrame(Seq((0L, text))).toDF("doc_id", "text")
      val rows = (if (pipeline == "truncation") e.truncationJudged(docs)
                  else e.judged(docs)).collect()
      assert(rows.length == 1, clue)
      val r = rows.head
      assert(r.getAs[Long]("batch_id") == 0L && r.getAs[Int]("item_number") == 1, clue)
      val trunc = pipeline == "truncation"
      assert(a.answer == r.getAs[String]("llm_answer"), clue)
      assert(a.judgment == r.getAs[String]("judgment"), clue)
      assert(a.retentionRate == r.getAs[Double]("retention_rate"), clue)
      assert(a.score ==
        r.getAs[Number](if (trunc) "score" else "best_score").doubleValue, clue)
      assert(a.chunksBefore == (if (trunc) 1L else r.getAs[Long]("chunks_before")), clue)
      assert(a.chunksAfter == (if (trunc) 1L else r.getAs[Long]("chunks_after")), clue)
      if (text eq unrelated) assert(a.answer == "No answer found in document", clue)
    }
  }

  test("a warm ask starts no job and no SQL execution (both pipelines)") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    val bytes = doc.getBytes("UTF-8")
    val events = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.synchronized(events += s"job ${e.jobId}")
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          events.synchronized(events += s"sql ${s.executionId}")
        case _ =>
      }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        events.synchronized(events += s"qe $f")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        events.synchronized(events += s"qe failed $f")
    }
    // what one ask posts, seen once the listener bus has drained
    def observe(pipeline: String): Seq[String] = {
      ListenerBusDrain(spark.sparkContext)
      events.synchronized(events.clear())
      svc.ask("pin.md", bytes, q, pipelineType = pipeline)
      ListenerBusDrain(spark.sparkContext)
      events.synchronized(events.toList)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      Seq("mapreduce", "truncation").foreach(p => svc.ask("pin.md", bytes, q,
        pipelineType = p)) // warm: prepares both templates
      for (pipeline <- Seq("mapreduce", "truncation"))
        assert(observe(pipeline).isEmpty, pipeline)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("a map-reduce ask rejects chunkSize <= 0 or overlap outside [0, chunkSize) up front") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    for ((chunkSize, overlap) <- Seq((64, 64), (0, 16), (64, -1));
         text <- Seq("", doc)) {
      val clue = s"chunkSize $chunkSize, overlap $overlap, ${text.length} chars"
      val e = intercept[IllegalArgumentException](svc.ask("v.md",
        text.getBytes("UTF-8"), q, chunkSize = chunkSize, overlap = overlap))
      assert(e.getMessage.contains(
        if (chunkSize <= 0) "chunkSize must be" else "overlap must be"),
        s"$clue: ${e.getMessage}")
      // truncation reads no chunk parameter
      svc.ask("v.md", text.getBytes("UTF-8"), q, chunkSize = chunkSize,
        overlap = overlap, pipelineType = "truncation")
    }
    assert(svc.templateModes.keySet.forall(_._2 == "truncation"))
  }

  test("an ask rejects an unknown pipelineType up front") {
    val svc = new QaService(spark)
    for (p <- Seq("map_reduce", "Truncation", "")) {
      val e = intercept[IllegalArgumentException](
        svc.ask("v.md", doc.getBytes("UTF-8"), "spark query", pipelineType = p))
      assert(e.getMessage.contains(s"unknown pipelineType '$p'") &&
        Engine.supportedPipelines.forall(e.getMessage.contains), e.getMessage)
    }
    assert(svc.templateModes.isEmpty)
  }

  test("preview returns the parsed head without running the pipeline") {
    val svc = new QaService(spark)
    val p = svc.preview("report.md", doc.getBytes("UTF-8"))
    assert(p.filename == "report.md" && p.fileType == ".md")
    assert(p.fileSize == doc.getBytes("UTF-8").length.toLong)
    assert(p.fullLength == doc.length.toLong)
    assert(p.isTruncated && p.previewText.length > 2000) // head + marker
    assert(p.previewText.startsWith(doc.substring(0, 100)))
    assert(p.previewText.endsWith("... (content truncated for preview)"))
    // estimate follows the engine's ceil(count * 1.15) rule
    val n = graft.functions.Tokenizer.countTokens(doc)
    assert(p.estimatedTokens == math.ceil(n * 1.15).toLong)
    // short docs come back whole, unmarked
    val s = svc.preview("tiny.md", "short text".getBytes("UTF-8"))
    assert(!s.isTruncated && s.previewText == "short text")
    // unparseable upload fails like the endpoint's 400 path
    intercept[IllegalArgumentException](
      svc.preview("bad.pdf", Array[Byte](1, 2, 3)))
  }

  test("models/health capability surface derives from the live registries") {
    val svc = new QaService(spark)
    val caps = svc.models
    assert(caps.models == Seq("ExtractiveModel"))
    assert(caps.pipelineTypes == Engine.supportedPipelines)
    assert(caps.formatTypes == Engine.supportedFormats)
    // the reference-canonical name is advertised, and every advertised
    // format is accepted by the Engine dispatch
    assert(caps.formatTypes.contains("plain_text"))
    caps.formatTypes.foreach(f => Engine(format = f))
    // the alias selects the same format; an unknown name lists the canonical ones
    assert(Engine(format = "plain").config.format == Engine(format = "plain_text").config.format)
    val bad = intercept[IllegalArgumentException](Engine(format = "xml"))
    assert(bad.getMessage == "unknown format 'xml' (expected json | plain_text | hybrid)")
    // the registry is JVM-global and other suites register strategies, so
    // the listing is compared with the registry as it is now
    assert(caps.truncationStrategies == graft.operators.TruncationStrategies.available)
    assert(Set("start", "end", "smart").subsetOf(caps.truncationStrategies.toSet))
    assert(caps.pdfParsers.contains("marker") && caps.pdfParsers.contains("markdown"))
    // every advertised prompt set actually resolves
    caps.promptSets.foreach(n => graft.sources.Prompts.resolve(Some(n)))
    assert(caps.promptSets.contains("hybrid"))
    val h = svc.health
    assert(h.status == "healthy" && h.version.nonEmpty)
    assert(java.time.Instant.parse(h.timestamp) != null) // ISO-8601
  }

  test("templates: one per (format, pipeline, strategy), whatever the question and sizes") {
    val svc = new QaService(spark)
    val bytes = doc.getBytes("UTF-8")
    val formats = Seq("hybrid", "json")
    for (i <- 1 to 50; (chunkSize, overlap) <- Seq((8, 2), (16, 4), (32, 0), (64, 16));
         format <- formats; pipeline <- Engine.supportedPipelines)
      svc.ask("t.md", bytes, s"question $i about spark data", format = format,
        chunkSize = chunkSize, overlap = overlap, pipelineType = pipeline)
    assert(svc.templateModes == formats.flatMap(f => Seq(
      (f, "mapreduce", "") -> true, (f, "truncation", "start") -> true)).toMap)
  }

  test("RunPipeline CLI entry: markdown corpus -> results envelope end to end") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_cli").toString
    Files.writeString(java.nio.file.Paths.get(dir, "a.md"),
      "spark query join data across tables " * 30)
    Files.writeString(java.nio.file.Paths.get(dir, "b.md"),
      "unrelated prose about gardening and weather " * 30)
    val out = Files.createTempDirectory("graft_cli_out").toString
    val cfg = RunPipeline.parse(Array(
      "--dataset", "markdown", "--path", dir, "--approach", "mapreduce",
      "--format", "hybrid", "--prompt-set", "hybrid",
      "--question", "spark query join data", "--out", out))
    val runDir = RunPipeline.run(spark, cfg, "test_ts")
    val qa = spark.read.json(s"$runDir/qa_data")
    assert(qa.count() == 2)
    assert(qa.columns.contains("judgment") && qa.columns.contains("llm_answer"))
    val env = spark.read.json(s"$runDir/envelope")
    assert(env.count() == 1)
    // the serialized prompt set survives the envelope round-trip (S12)
    val promptsJson = env.select("config_prompts_json").first().getString(0)
    assert(graft.sources.Prompts.fromJson(promptsJson) ==
      graft.sources.Prompts.resolve(Some("hybrid")))
    // bad args fail fast
    intercept[IllegalArgumentException](RunPipeline.parse(Array("--nope", "x")))
    intercept[IllegalArgumentException](
      RunPipeline.run(spark, cfg.copy(dataset = "nope"), "t"))
  }

  test("RunPipeline --dataset binary answers files sharing a basename separately") {
    import java.nio.file.{Files, Paths}
    // report.md and report.pdf both get doc_id "report"; each file's
    // answer comes from its own chunks only
    val dir = Files.createTempDirectory("graft_cli_binary").toString
    val q = "spark query join data window merge" // hybrid keeps scores > 5
    Files.writeString(Paths.get(dir, "report.md"), s"$q markdown " * 20)
    Files.writeString(Paths.get(dir, "report.pdf"), "%PDF-1.4\n" + s"$q portable " * 20)
    val out = Files.createTempDirectory("graft_cli_binary_out").toString
    val cfg = RunPipeline.parse(Array("--dataset", "binary", "--path", dir,
      "--approach", "mapreduce", "--question", q, "--out", out))
    val qa = spark.read.json(s"${RunPipeline.run(spark, cfg, "test_ts")}/qa_data")
      .collect()
    assert(qa.length == 2)
    assert(qa.map(_.getAs[String]("doc_id")).toSet == Set("report"))
    val answers = qa.map(_.getAs[String]("llm_answer"))
    assert(answers.count(a => a.contains("markdown") && !a.contains("portable")) == 1,
      answers.mkString("\n"))
    assert(answers.count(a => a.contains("portable") && !a.contains("markdown")) == 1,
      answers.mkString("\n"))
  }

  test("warm single-request latency stays interactive") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    svc.ask("warm.md", doc.getBytes("UTF-8"), q) // prepares the template
    val t0 = System.nanoTime()
    val reps = 3
    (1 to reps).foreach(_ => svc.ask("warm.md", doc.getBytes("UTF-8"), q))
    val avgSec = (System.nanoTime() - t0) / 1e9 / reps
    info(f"warm single-request latency: $avgSec%.3f s avg of $reps")
    // N=1 on a warm session must be interactive (reference answers one
    // upload per request, SURVEY 3.3); measured 0.001 s avg in the full
    // suite and 0.002 s with ServiceSpec and two other suites, local[4, 2]
    // test session on a 4-vCPU host (PERF_NOTES "Prepared ask") - the 1 s
    // bound leaves CI headroom
    assert(avgSec < 1.0, f"warm single-request latency $avgSec%.2f s")
  }

  // --- prepared ask vs the Dataset path (LegacyQaAsk) ---

  private val unrelated = "unrelated prose about gardening and weather " * 30
  /** > 1000 tokens, different at either end: a 1000-token budget keeps
    * only the spark prose from the start and only the gardening prose
    * from the end. */
  private val longDoc = doc * 2 + unrelated * 6
  /** contextWindow 3000 - buffer 2000 floors the budget at 1000 tokens. */
  private val smallWindow = 3000

  /** Score = ExtractiveModel's, behind `current_timezone()`, which stays
    * Unevaluable until the optimizer replaces it: its templates cannot be
    * bound and run as Datasets. */
  private object ZoneModel extends TextModel {
    def score(chunkTokens: Column, questionTokens: Column): Column =
      when(expr("current_timezone()").isNotNull,
        ExtractiveModel.score(chunkTokens, questionTokens))
    def content(chunkTokens: Column): Column = ExtractiveModel.content(chunkTokens)
  }

  /** Keeps the last half of the budget. */
  private object TailHalf extends TruncationStrategy {
    val name = "tail_half"
    def truncate(text: Column, maxTokens: Column): Column =
      graft.functions.TextFunctions.truncate_tokens(
        text, (maxTokens / 2).cast("int"), lit("end"))
  }

  private case class Ask(text: String, question: String, format: String,
      chunkSize: Int, overlap: Int, threshold: Int, pipeline: String,
      strategy: String) {
    def prepared(svc: QaService): QaAnswer = svc.ask("p.md",
      text.getBytes("UTF-8"), question, format = format, chunkSize = chunkSize,
      overlap = overlap, threshold = threshold, pipelineType = pipeline,
      strategy = strategy, contextWindow = smallWindow)
    def dataset(model: TextModel): QaAnswer = LegacyQaAsk.ask(spark, model,
      BinaryDocs.defaultParsers("markdown").parse("p.md", text.getBytes("UTF-8")).get,
      question, format, chunkSize, overlap, threshold, pipeline, strategy,
      contextWindow = smallWindow)
  }

  private val pipelines = Seq("mapreduce" -> "start") ++
    Seq("start", "end", "smart", TailHalf.name).map("truncation" -> _)

  private def asks(texts: Seq[String], sizes: Seq[(Int, Int)],
      thresholds: Seq[Int]): Seq[Ask] =
    for (text <- texts; format <- Engine.supportedFormats;
         (pipeline, strategy) <- pipelines;
         (chunkSize, overlap) <- (if (pipeline == "mapreduce") sizes else sizes.take(1));
         threshold <- thresholds)
      yield Ask(text, "spark query join data", format, chunkSize, overlap,
        threshold, pipeline, strategy)

  private def assertSameAnswers(svc: QaService, model: TextModel, all: Seq[Ask]): Unit =
    all.foreach(a => assert(a.prepared(svc) == a.dataset(model), a.copy(text = a.text.take(40))))

  test("prepared ask equals the Dataset path (formats x pipelines x strategies x models)") {
    TruncationStrategies.register(TailHalf)
    val texts = (Seq(doc, unrelated, longDoc) ++
      MapReduceParitySpec.edgeTexts.filter(_ != null)).distinct
    val sizes = Seq((4, 1), (64, 16))
    for ((model, thresholds) <- Seq(ExtractiveModel -> Seq(1, 3), LongTokenModel -> Seq(1))) {
      val svc = new QaService(spark, model)
      assertSameAnswers(svc, model, asks(texts, sizes, thresholds))
      // every built-in template (and the custom strategy's) is bound
      assert(svc.templateModes == (for (f <- Engine.supportedFormats;
        (p, st) <- pipelines) yield (f, p, if (p == "mapreduce") "" else st) -> true).toMap)
    }
  }

  test("a template holding an Unevaluable expression runs as a Dataset and still matches") {
    val svc = new QaService(spark, ZoneModel)
    assertSameAnswers(svc, ZoneModel,
      asks(Seq(doc, longDoc, "", "spark query x y z w spark query"), Seq((4, 1)), Seq(1))
        .filter(a => a.strategy == "start" || a.strategy == "end"))
    assert(svc.templateModes.nonEmpty && svc.templateModes.values.forall(!_),
      svc.templateModes)
  }

  test("re-registering a strategy name changes the next ask's answer") {
    def keep(mode: String) = new TruncationStrategy {
      val name = "svc_swap"
      def truncate(text: Column, maxTokens: Column): Column =
        graft.functions.TextFunctions.truncate_tokens(text, maxTokens, lit(mode))
    }
    val svc = new QaService(spark)
    def ask() = svc.ask("s.md", longDoc.getBytes("UTF-8"), "spark query join data",
      pipelineType = "truncation", strategy = "svc_swap", contextWindow = smallWindow)
    TruncationStrategies.register(keep("start"))
    val fromStart = ask()
    TruncationStrategies.register(keep("end"))
    val fromEnd = ask()
    assert(fromStart.answer != Engine.NoAnswer &&
      fromEnd.answer == Engine.NoAnswer,
      (fromStart.answer.take(40), fromEnd.answer.take(40)))
    assert(svc.templateModes.keySet == Set(("hybrid", "truncation", "svc_swap")))
  }

  test("8 threads asking through shared templates get the sequential Dataset answers") {
    val svc = new QaService(spark)
    val mixed = (for (text <- Seq(doc, longDoc, "spark query x y z w spark query", "");
                      format <- Seq("hybrid", "json");
                      (pipeline, strategy) <- Seq("mapreduce" -> "start",
                        "truncation" -> "start", "truncation" -> "end");
                      (q, (chunkSize, overlap)) <- Seq("spark query join data" -> (4, 1),
                        "window functions merge" -> (64, 16)))
      yield Ask(text, q, format, chunkSize, overlap, 1, pipeline, strategy)).toIndexedSeq
    val expected = mixed.map(_.dataset(ExtractiveModel))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          def call(): Seq[Int] = {
            start.await()
            // each thread its own order, twice over
            val order = new scala.util.Random(t).shuffle((mixed.indices ++ mixed.indices).toList)
            order.filter(i => mixed(i).prepared(svc) != expected(i))
          }
        })
      }
      start.countDown()
      val wrong = futures.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(wrong.isEmpty, wrong.distinct.map(i => mixed(i).copy(text = mixed(i).text.take(40))))
    } finally pool.shutdownNow()
  }
}
