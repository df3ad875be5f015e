package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, QaService, SparkEntry}
import graft.sources.BinaryDocs

/** Benchmark harness JVM. Reads a plan written by `perfbench/run.py`
  * (generated inputs and the operation list), sets the workload up once,
  * runs timed operations one at a time for the planned seconds and writes
  * every operation's outcome, the set-up times and the run record to the
  * result file. It calls the engine only through `QaService.ask`,
  * `Engine.judged`/`Engine.truncationJudged` and `SparkEntry.queries`, and
  * observes it only through Spark's public listeners (traced runs).
  *
  * Usage: Main <plan.json> <result.json> */
object Main {
  final case class Op(id: String, name: String, wallNs: Long,
      outcome: String, detail: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val out = args(1)
    val cpus = plan.get("cpus").asInt
    val spark = session(cpus)
    val sessionReadyMs = System.currentTimeMillis()
    val workload: Workload = plan.get("workload").asText match {
      case "qa_service" => new QaServiceWorkload(spark, plan)
      case "qa_corpus" => new QaCorpusWorkload(spark, plan)
      case "catalog" => new CatalogWorkload(spark, plan)
      case "record" => new RecordWorkload(spark, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setUpStart = System.nanoTime()
    workload.setUp()
    val setUpS = (System.nanoTime() - setUpStart) / 1e9
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val tracer = if (plan.get("trace").asInt == 1) {
      val t = new Tracer(spark, cpus); t.install(); Some(t)
    } else None
    val seconds = plan.get("seconds").asDouble
    val ops = ArrayBuffer.empty[Op]
    val firstOpMs = System.currentTimeMillis()
    val phaseStart = System.nanoTime()
    var next = 0
    while (workload.hasOp(next) &&
           (workload.mustRun(next) || (System.nanoTime() - phaseStart) / 1e9 < seconds)) {
      val (id, name) = workload.opName(next)
      spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (outcome, detail) =
        try ("ok", workload.run(next, id, tracer))
        catch { case e: Throwable =>
          ("error", Map[String, Any]("error_class" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage).take(2000)))
        }
      val wall = System.nanoTime() - t0
      tracer.foreach(_.root(id, name, startMs, System.currentTimeMillis(), wall))
      spark.sparkContext.clearJobGroup()
      ops += Op(id, name, wall, outcome,
        detail ++ (if (tracer.isDefined) workload.tracedExtra(next) else Map.empty))
      next += 1
    }
    val measuredS = (System.nanoTime() - phaseStart) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val traced = tracer.map(_.finish())
    val result = Map[String, Any](
      "workload" -> plan.get("workload").asText,
      "session_ready_ms" -> sessionReadyMs,
      "workload_setup_s" -> setUpS,
      "first_op_ms" -> firstOpMs,
      "measured_s" -> measuredS,
      "ops" -> ops.map(o => Map[String, Any]("id" -> o.id, "name" -> o.name,
        "wall_ms" -> o.wallNs / 1e6, "outcome" -> o.outcome) ++ o.detail),
      "warmup_errors" -> workload.warmupErrors,
      "setup_detail" -> workload.setupDetail,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
        "peak_rss_mb" -> vmHwmMb, "flags" -> jvmFlags),
      "record" -> runRecord(spark),
      "layers" -> traced.map(_._1),
      "op_spans" -> traced.map(_._2),
      "spans" -> traced.map(_._3))
    Files.write(Paths.get(out), Json.render(result).getBytes(UTF_8))
    workload.close()
    spark.stop()
  }

  /** The session graft.Bench measures: same master, partitions, AQE posture,
    * extensions, codegen cache, ObjectHashAggregate threshold and local-dir
    * choice, at their defaults. */
  def session(cpus: Int): SparkSession = {
    val spark = graft.core.LocalDirs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Metrics.register(spark)
    spark
  }

  private def runRecord(spark: SparkSession): Map[String, Any] = {
    val shm = new java.io.File("/dev/shm")
    Map(
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "spark_local_dir_conf" -> spark.sparkContext.getConf.getOption("spark.local.dir"),
      "spark_local_dirs_in_use" -> org.apache.spark.perfbench.LocalDirsInUse(),
      "local_dirs_guard" -> Map(
        "preferred" -> graft.core.LocalDirs.preferred(),
        "shm_usable_bytes" -> (if (shm.isDirectory) shm.getUsableSpace else 0L)),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "default_parallelism" -> spark.sparkContext.defaultParallelism)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private def jvmFlags: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  /** Peak resident set of this process (VmHWM), in MB. */
  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One workload: set-up, then operations run in plan order. */
trait Workload {
  def setUp(): Unit
  def hasOp(i: Int): Boolean
  /** Operations that run even when the time is up (a catalog pass). */
  def mustRun(i: Int): Boolean = false
  def opName(i: Int): (String, String)
  /** Runs operation i; returns what the checker compares. */
  def run(i: Int, id: String, tracer: Option[Tracer]): Map[String, Any]
  /** Per-operation facts measured outside the timed wall, traced runs only. */
  def tracedExtra(i: Int): Map[String, Any] = Map.empty
  def warmupErrors: Seq[Map[String, Any]] = Nil
  /** Per-step set-up times, recorded with the run. */
  def setupDetail: Seq[Map[String, Any]] = Nil
  def close(): Unit = ()

  protected def span[T](tracer: Option[Tracer], op: String, kind: String)(body: => T): T =
    tracer match {
      case Some(t) => t.child(op, kind, kind)(body)
      case None => body
    }
}

object Digest {
  /** Canonical form of a result column for hashing: doubles rounded to 9
    * places, as the repository's DuckDB oracle check compares them; maps as
    * sorted entry arrays; nested values recursively. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** One action that computes every output column of `df` and returns its
    * row count and an order-independent digest (two 32-bit halves of each
    * row's xxhash64, summed). Columns are taken in name order. */
  def summary(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.toIndexedSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val order = fields.indices.sortBy(i => (fields(i).name, i))
    val h =
      if (order.isEmpty) lit(42L)
      else xxhash64(order.map(i => canon(col(s"c$i"), fields(i).dataType)): _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$hi%x-$lo%x")
  }
}

final class QaServiceWorkload(spark: SparkSession, plan: JsonNode) extends Workload {
  private val asks = plan.get("asks").elements().asScala.toIndexedSeq
  private var files: Map[String, Array[Byte]] = Map.empty
  private var service: QaService = _
  private val errors = ArrayBuffer.empty[Map[String, Any]]

  private def ask(a: JsonNode) = service.ask(
    fileName = a.get("file").asText, content = files(a.get("file").asText),
    question = a.get("question").asText, format = a.get("format").asText,
    chunkSize = a.get("chunk_size").asInt, overlap = a.get("overlap").asInt,
    pipelineType = a.get("pipeline").asText)

  def setUp(): Unit = {
    val dir = plan.get("files_dir").asText
    files = Json.strings(plan.get("files")).map(f =>
      f -> Files.readAllBytes(Paths.get(dir, f))).toMap
    service = new QaService(spark)
    plan.get("warmup").elements().asScala.foreach { a =>
      try ask(a) catch { case e: Throwable =>
        errors += Map("op" -> a.get("id").asText, "error_class" -> e.getClass.getName)
      }
    }
  }
  def hasOp(i: Int): Boolean = i < asks.length
  def opName(i: Int): (String, String) = (asks(i).get("id").asText, "ask")
  def run(i: Int, id: String, tracer: Option[Tracer]): Map[String, Any] = {
    val a = span(tracer, id, "ask")(ask(asks(i)))
    Map("answer_md5" -> md5(a.answer), "answer_len" -> a.answer.length,
      "score" -> a.score, "judgment" -> a.judgment,
      "chunks_before" -> a.chunksBefore, "chunks_after" -> a.chunksAfter,
      "retention_rate" -> a.retentionRate)
  }
  /** The BinaryDocs parser alone on the ask's bytes, outside the timed ask. */
  override def tracedExtra(i: Int): Map[String, Any] = {
    val f = asks(i).get("file").asText
    val bytes = files(f)
    val t = System.nanoTime()
    BinaryDocs.defaultParsers(BinaryDocs.methodForPath(f)).parse(f, bytes)
    Map("parse_ms" -> (System.nanoTime() - t) / 1e6)
  }
  override def warmupErrors: Seq[Map[String, Any]] = errors.toSeq
  override def close(): Unit = if (service != null) service.close()

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}

final class QaCorpusWorkload(spark: SparkSession, plan: JsonNode) extends Workload {
  private val questions = plan.get("questions").elements().asScala.toIndexedSeq
  private val errors = ArrayBuffer.empty[Map[String, Any]]

  private def engine(q: JsonNode): Engine = Engine(format = q.get("format").asText,
    chunkSize = q.get("chunk_size").asInt, overlap = q.get("overlap").asInt,
    question = q.get("question").asText)

  private def judged(q: JsonNode, e: Engine, corpus: String): DataFrame = {
    val docs = spark.read.parquet(corpus)
    if (q.get("pipeline").asText == "truncation")
      e.truncationJudged(docs, contextWindow = q.get("context_window").asInt,
        buffer = q.get("buffer").asInt)
    else e.judged(docs)
  }

  /** Every output column feeds one aggregate: counts, sums and an md5
    * digest of the answer texts, all recomputed by the checker. */
  private def summary(q: JsonNode, e: Engine, df: DataFrame): Map[String, Any] = {
    val trunc = q.get("pipeline").asText == "truncation"
    val answerKey = concat_ws("\u0001",
      Seq(col("doc_id").cast("string"), col("llm_answer"), col("judgment")) ++
        (if (trunc) Nil else Seq(col("reduce_input"))): _*)
    val md5Sum = sum(conv(substring(md5(answerKey), 1, 15), 16, 10)
      .cast(DecimalType(38, 0)))
    val judgments = Seq("Correct", "Coherent", "Deviated", "Incorrect", "No answer")
    val common = Seq(count(lit(1)).as("rows"), md5Sum.as("answer_md5_sum"),
      sum(col("batch_id")).as("batch_id_sum"),
      sum(col("item_number")).as("item_number_sum"),
      sum(col("retention_rate")).as("retention_sum")) ++
      judgments.map(j => count_if(col("judgment") === j).as(s"judgment:$j"))
    val specific =
      if (trunc) Seq(sum(col("original_tokens")).as("original_tokens"),
        sum(col("truncated_tokens")).as("truncated_tokens"),
        count_if(col("truncation_applied")).as("truncated_docs"),
        count(lit(1)).as("chunks"),
        count_if(col("score") > e.config.threshold).as("survivors"),
        sum(col("score").cast("long")).as("score_sum"))
      else Seq(sum(col("chunks_before")).as("chunks"),
        sum(col("chunks_after")).as("survivors"),
        sum(col("best_score").cast("long")).as("score_sum"))
    val r = df.agg(common.head, (common.tail ++ specific): _*).collect()(0)
    r.schema.fieldNames.map(n => n -> (r.getAs[Any](n) match {
      case d: java.math.BigDecimal => d.toPlainString
      case null => null
      case v => v
    })).toMap
  }

  def setUp(): Unit = {
    val warm = plan.get("warm_corpus").asText
    plan.get("warmup").elements().asScala.foreach { q =>
      try { val e = engine(q); summary(q, e, judged(q, e, warm)) }
      catch { case e: Throwable =>
        errors += Map("op" -> q.get("id").asText, "error_class" -> e.getClass.getName)
      }
    }
  }
  def hasOp(i: Int): Boolean = i < questions.length
  def opName(i: Int): (String, String) =
    (questions(i).get("id").asText, questions(i).get("pipeline").asText)
  def run(i: Int, id: String, tracer: Option[Tracer]): Map[String, Any] = {
    val q = questions(i)
    val (e, df) = span(tracer, id, "build") {
      val e = engine(q)
      (e, judged(q, e, plan.get("corpus").asText))
    }
    span(tracer, id, "action")(summary(q, e, df))
  }
  override def warmupErrors: Seq[Map[String, Any]] = errors.toSeq
}

class CatalogWorkload(spark: SparkSession, plan: JsonNode) extends Workload {
  private val entries = Json.strings(plan.get("entries")).toIndexedSeq
  private val errors = ArrayBuffer.empty[Map[String, Any]]
  private val warmupMs = ArrayBuffer.empty[Map[String, Any]]
  protected lazy val registry = SparkEntry.queries

  /** As graft.Bench warms up: a range aggregate, a lineitem scan, then every
    * entry once on the smallest frame (fills the codegen cache). The timed
    * entries may list an entry once per pass. */
  def setUp(): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warm = plan.get("warm_sf_dir").asText
    graft.core.Tables.load(spark, warm, "lineitem").count()
    entries.distinct.sorted.foreach { n =>
      val t = System.nanoTime()
      try Digest.summary(registry(n)(spark, warm)) catch { case e: Throwable =>
        errors += Map("op" -> n, "error_class" -> e.getClass.getName)
      }
      warmupMs += Map("entry" -> n, "ms" -> (System.nanoTime() - t) / 1e6)
    }
  }
  override def setupDetail: Seq[Map[String, Any]] = warmupMs.toSeq
  def hasOp(i: Int): Boolean = i < entries.length
  override def mustRun(i: Int): Boolean = true
  def opName(i: Int): (String, String) = (f"e$i%03d-${entries(i)}", entries(i))
  def run(i: Int, id: String, tracer: Option[Tracer]): Map[String, Any] = {
    val fn = registry(entries(i))
    val df = span(tracer, id, "build")(fn(spark, plan.get("sf_dir").asText))
    val (rows, digest) = span(tracer, id, "action")(Digest.summary(df))
    Map("rows" -> rows, "digest" -> digest)
  }
  override def warmupErrors: Seq[Map[String, Any]] = errors.toSeq
}

/** Maintenance mode for `perfbench/tools/record_catalog.py`: the catalog
  * workload's warm-up and timed summary action, plus each entry's full
  * result as parquet and the entries' oracle SQL, so the recorder can check every
  * result against DuckDB before it stores the expected values. */
final class RecordWorkload(spark: SparkSession, plan: JsonNode)
    extends CatalogWorkload(spark, plan) {
  private val dir = plan.get("result_dir").asText
  override def setUp(): Unit = {
    super.setUp()
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "oracle_sql.json"),
      Json.render(SparkEntry.oracleSql).getBytes(UTF_8))
  }
  override def opName(i: Int): (String, String) = super.opName(i) match {
    case (_, name) => (name, name)
  }
  override def run(i: Int, id: String, tracer: Option[Tracer]): Map[String, Any] = {
    val t = System.nanoTime()
    val out = super.run(i, id, tracer) + ("summary_ms" -> (System.nanoTime() - t) / 1e6)
    registry(id)(spark, plan.get("sf_dir").asText).repartition(1).write
      .mode("overwrite").parquet(Paths.get(dir, id).toString)
    out
  }
}
