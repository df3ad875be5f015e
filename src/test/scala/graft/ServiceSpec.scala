package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** §3.3: single-request service facade — upload-shaped input, pipeline
  * cache behavior, and the N=1 latency posture. */
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
      val e = svc.engineFor(q, format, 64, 16, 1)
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

  test("a warm ask runs no job: both plans fold into one LocalRelation") {
    val svc = new QaService(spark)
    val q = "spark query join data"
    val bytes = doc.getBytes("UTF-8")
    val group = "service-spec-ask"
    val jobs = ArrayBuffer.empty[Int]
    val plans = ArrayBuffer.empty[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs += e.jobId
      }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { if (f == "collect") plans += qe }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // jobs and plans of one ask, seen once the listener bus has drained
    def observe(pipeline: String): (Int, Seq[QueryExecution]) = {
      ListenerBusDrain(spark.sparkContext)
      jobs.synchronized(jobs.clear()); plans.synchronized(plans.clear())
      spark.sparkContext.setJobGroup(group, "ask")
      try svc.ask("pin.md", bytes, q, pipelineType = pipeline)
      finally spark.sparkContext.clearJobGroup()
      ListenerBusDrain(spark.sparkContext)
      (jobs.synchronized(jobs.size), plans.synchronized(plans.toList))
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      Seq("mapreduce", "truncation").foreach(p => svc.ask("pin.md", bytes, q,
        pipelineType = p)) // warm
      for (pipeline <- Seq("mapreduce", "truncation")) {
        val (n, qes) = observe(pipeline)
        assert(n == 0, pipeline)
        assert(qes.length == 1, pipeline)
        val optimized = qes.head.optimizedPlan
        assert(optimized.isInstanceOf[LocalRelation], s"$pipeline:\n$optimized")
      }
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
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
    assert(caps.truncationStrategies.toSet == Set("start", "end", "smart"))
    assert(caps.pdfParsers.contains("marker") && caps.pdfParsers.contains("markdown"))
    // every advertised prompt set actually resolves
    caps.promptSets.foreach(n => graft.sources.Prompts.resolve(Some(n)))
    assert(caps.promptSets.contains("hybrid"))
    val h = svc.health
    assert(h.status == "healthy" && h.version.nonEmpty)
    assert(java.time.Instant.parse(h.timestamp) != null) // ISO-8601
  }

  test("engine cache: same config reuses the instance, distinct configs don't") {
    val svc = new QaService(spark)
    val e1 = svc.engineFor("q one", "hybrid", 64, 16, 1)
    val e2 = svc.engineFor("q one", "hybrid", 64, 16, 1)
    val e3 = svc.engineFor("q one", "json", 64, 16, 1)
    assert(e1 eq e2)
    assert(!(e1 eq e3))
    assert(svc.cacheSize == 2)
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
    svc.ask("warm.md", doc.getBytes("UTF-8"), q) // codegen + cache warmup
    val t0 = System.nanoTime()
    val reps = 3
    (1 to reps).foreach(_ => svc.ask("warm.md", doc.getBytes("UTF-8"), q))
    val avgSec = (System.nanoTime() - t0) / 1e9 / reps
    info(f"warm single-request latency: $avgSec%.3f s avg of $reps")
    // N=1 on a warm session must be interactive (reference answers one
    // upload per request, SURVEY 3.3); measured 0.045 s avg in the full
    // suite and 0.06 s with ServiceSpec and two other suites, local[4, 2]
    // test session on a 4-vCPU host (PERF_NOTES "Row-local reduce") - the
    // 1 s bound leaves CI headroom
    assert(avgSec < 1.0, f"warm single-request latency $avgSec%.2f s")
  }
}
