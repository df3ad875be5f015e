package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one interval of an operation's wall time. `parent` is the index
  * of the enclosing span in the operation's span list (-1 for the root). */
final case class Span(kind: String, name: String, start: Long, end: Long,
    var parent: Int = -1) {
  def dur: Long = math.max(0L, end - start)
}

/** Traced run: records a root span per operation (its id is the Spark job
  * group), the harness's own child spans (the public call that builds the
  * DataFrame, the action, the ask, the parser), and, through public Spark
  * listeners, every job, stage, query-execution phase, codegen compile and
  * streaming batch that falls inside the operation. Everything stays in
  * memory until [[finish]], which attributes events to operations, builds
  * span trees and computes self times and the per-layer metrics. */
final class Tracer(spark: SparkSession, cpus: Int) {
  import Tracer._

  private val roots = ArrayBuffer.empty[Root]
  private val children = ArrayBuffer.empty[Child]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val compiles = new ConcurrentLinkedQueue[(Long, Double)]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, i => new Stage(i))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, new Job(g, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.synchronized {
        s.submitted = i.submissionTime.getOrElse(0L)
        s.completed = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.deserMs += m.executorDeserializeTime
          s.inputB += m.inputMetrics.bytesRead
          s.shWriteB += m.shuffleWriteMetrics.bytesWritten
          s.shWriteNs += m.shuffleWriteMetrics.writeTime
          s.shReadB += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillB += m.diskBytesSpilled
        }
      }
    }
  }

  private object planWalk extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      var wscg = 0L
      var gen = 0L
      planWalk.foreach(qe.executedPlan) {
        case w: WholeStageCodegenExec =>
          wscg += w.metrics.get("pipelineTime").map(_.value).getOrElse(0L)
        case g: GenerateExec =>
          gen += g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      val start = if (phases.isEmpty) System.currentTimeMillis()
                  else phases.values.map(_._1).min
      qes.add(Qe(start, phases, wscg, gen))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.add(Progress(start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  // Spark reports each Janino compile only as an INFO line of
  // CodeGenerator ("Code generated in N ms"); the traced run captures that
  // logger alone, so compile time is measured where it happens.
  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compileLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case compileLine(ms) => compiles.add((e.getTimeMillis, ms.toDouble))
        case _ =>
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def root(id: String, name: String, start: Long, end: Long, wallNs: Long): Unit =
    synchronized { roots += Root(id, name, start, end, wallNs) }

  /** Times `body` as a child span of operation `op`. */
  def child[T](op: String, kind: String, name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body
    finally synchronized {
      children += Child(op, kind, name, s, System.currentTimeMillis())
    }
  }

  /** Waits for the listener bus, then builds span trees and layer metrics.
    * Returns (per-layer metrics, per-op summaries, span records). */
  def finish(): (Map[String, Double], Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    val ops = roots.sortBy(_.start).toIndexedSeq
    val starts = ops.map(_.start).toArray
    // ops are sequential: an event belongs to the last op started at or
    // before it, if that op had not yet ended
    def opAt(t: Long): Option[Int] = {
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      else while (i + 1 < starts.length && starts(i + 1) == t) i += 1
      if (i >= 0 && t <= ops(i).end) Some(i) else None
    }
    val idIndex = ops.map(_.id).zipWithIndex.toMap
    val spans = Array.fill(ops.length)(ArrayBuffer.empty[Span])
    ops.zipWithIndex.foreach { case (r, i) => spans(i) += Span("op", r.name, r.start, r.end) }
    children.foreach { c =>
      idIndex.get(c.op).foreach(i => spans(i) += Span(c.kind, c.name, c.start, c.end))
    }

    // jobs -> op by job group, else by start time (streaming micro-batch
    // jobs run under the stream's own group)
    val stageOp = new java.util.HashMap[Int, Int]()
    val stageJobSpan = new java.util.HashMap[Int, Int]()
    val jobsPerOp = new Array[Long](ops.length)
    val jobIntervals = Array.fill(ops.length)(ArrayBuffer.empty[(Long, Long)])
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, j) =>
      idIndex.get(j.group).orElse(opAt(j.start)).foreach { i =>
        jobsPerOp(i) += 1
        jobIntervals(i) += ((j.start, j.end))
        spans(i) += Span("job", "job", j.start, j.end)
        val js = spans(i).length - 1
        j.stageIds.foreach { s => stageOp.put(s, i); stageJobSpan.put(s, js) }
      }
    }
    val agg = Array.fill(ops.length)(new Stage(-1))
    val stagesPerOp = new Array[Long](ops.length)
    stages.asScala.foreach { case (id, s) =>
      Option(stageOp.get(id)).map(_.intValue).foreach { i =>
        val a = agg(i)
        stagesPerOp(i) += 1
        a.tasks += s.tasks; a.runMs += s.runMs; a.cpuNs += s.cpuNs
        a.gcMs += s.gcMs; a.deserMs += s.deserMs; a.inputB += s.inputB
        a.shWriteB += s.shWriteB; a.shWriteNs += s.shWriteNs
        a.shReadB += s.shReadB; a.fetchWaitMs += s.fetchWaitMs
        a.spillB += s.spillB
        if (s.submitted > 0 && s.completed >= s.submitted)
          spans(i) += Span("stage", s"stage $id", s.submitted, s.completed,
            stageJobSpan.get(id))
      }
    }
    val phaseMs = Array.fill(ops.length)(scala.collection.mutable.Map.empty[String, Long])
    val wscgMs = new Array[Long](ops.length)
    val genRows = new Array[Long](ops.length)
    qes.asScala.foreach { q =>
      opAt(q.start).foreach { i =>
        q.phases.foreach { case (k, (s, e)) =>
          phaseMs(i)(k) = phaseMs(i).getOrElse(k, 0L) + (e - s)
          spans(i) += Span("phase", k, s, e)
        }
        wscgMs(i) += q.wscgMs
        genRows(i) += q.generateRows
      }
    }
    val compileMs = new Array[Double](ops.length)
    val compileN = new Array[Long](ops.length)
    compiles.asScala.foreach { case (t, ms) =>
      opAt(t).foreach { i =>
        compileMs(i) += ms; compileN(i) += 1
        spans(i) += Span("codegen", "compile", t - math.round(ms), t)
      }
    }
    val batches = ArrayBuffer.empty[Progress]
    progress.asScala.foreach { p =>
      opAt(p.start).foreach { i =>
        batches += p
        spans(i) += Span("batch", "trigger", p.start,
          p.start + p.durations.getOrElse("triggerExecution", 0L))
      }
    }

    // parents: a stage stays under its job; every other span goes under
    // the smallest earlier span that contains it
    val selfByKind = scala.collection.mutable.Map.empty[String, Double]
    val opSummaries = ArrayBuffer.empty[Map[String, Any]]
    val spanRecords = ArrayBuffer.empty[Map[String, Any]]
    spans.zipWithIndex.foreach { case (ss, i) =>
      ss.zipWithIndex.foreach { case (s, k) =>
        if (k > 0 && s.parent < 0) {
          var best = 0
          for (j <- 1 until ss.length) {
            val p = ss(j)
            val contains = p.start <= s.start && p.end >= s.end &&
              (p.dur > s.dur || (p.dur == s.dur && j < k))
            if (j != k && p.kind != "stage" && contains && p.dur <= ss(best).dur)
              best = j
          }
          s.parent = best
        }
      }
      val kids = ss.indices.groupBy(k => ss(k).parent)
      val self = ss.indices.map { k =>
        val s = ss(k)
        val covered = union(kids.getOrElse(k, Nil).map(c =>
          (math.max(s.start, ss(c).start), math.min(s.end, ss(c).end))))
        math.max(0L, s.dur - covered)
      }
      ss.indices.foreach { k =>
        selfByKind(ss(k).kind) = selfByKind.getOrElse(ss(k).kind, 0.0) + self(k)
        spanRecords += Map("op" -> ops(i).id, "i" -> k, "parent" -> ss(k).parent,
          "kind" -> ss(k).kind, "name" -> ss(k).name, "start_ms" -> ss(k).start,
          "end_ms" -> ss(k).end, "self_ms" -> self(k))
      }
      val root = ss(0)
      val covered = union(kids.getOrElse(0, Nil).map(c =>
        (math.max(root.start, ss(c).start), math.min(root.end, ss(c).end))))
      opSummaries += Map("id" -> ops(i).id, "name" -> ops(i).name,
        "wall_ms" -> ops(i).wallNs / 1e6, "span_ms" -> root.dur,
        "root_self_ms" -> self(0), "children_cover_ms" -> covered,
        "spans" -> ss.length)
    }

    val n = math.max(1, ops.length).toDouble
    val wallS = ops.map(_.wallNs / 1e9).sum
    def total[T](xs: Array[T])(f: T => Double): Double = xs.map(f).sum
    val outsideJobsMs = ops.indices.map { i =>
      val r = ops(i)
      val inJobs = union(jobIntervals(i).map { case (s, e) =>
        (math.max(s, r.start), math.min(e, r.end)) })
      math.max(0.0, r.wallNs / 1e6 - inJobs)
    }.sum
    val mb = 1024.0 * 1024.0
    val triggers = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val metrics = Map[String, Double](
      "driver.analysis_ms" -> phaseMs.map(_.getOrElse("analysis", 0L)).sum / n,
      "driver.optimization_ms" -> phaseMs.map(_.getOrElse("optimization", 0L)).sum / n,
      "driver.planning_ms" -> phaseMs.map(_.getOrElse("planning", 0L)).sum / n,
      "driver.codegen_compile_ms" -> compileMs.sum / n,
      "driver.codegen_compiles" -> compileN.sum / n,
      "sched.jobs_per_op" -> jobsPerOp.sum / n,
      "sched.stages_per_op" -> stagesPerOp.sum / n,
      "sched.tasks_per_op" -> total(agg)(_.tasks.toDouble) / n,
      "sched.outside_jobs_ms" -> outsideJobsMs / n,
      "exec.task_run_s" -> total(agg)(_.runMs / 1e3) / n,
      "exec.task_cpu_s" -> total(agg)(_.cpuNs / 1e9) / n,
      "exec.gc_s" -> total(agg)(_.gcMs / 1e3) / n,
      "exec.deserialize_s" -> total(agg)(_.deserMs / 1e3) / n,
      "exec.core_busy_frac" ->
        (if (wallS > 0) total(agg)(_.runMs / 1e3) / (wallS * cpus) else 0.0),
      "core.input_mb" -> total(agg)(_.inputB / mb) / n,
      "core.shuffle_write_mb" -> total(agg)(_.shWriteB / mb) / n,
      "core.shuffle_write_s" -> total(agg)(_.shWriteNs / 1e9) / n,
      "core.shuffle_read_mb" -> total(agg)(_.shReadB / mb) / n,
      "core.fetch_wait_s" -> total(agg)(_.fetchWaitMs / 1e3) / n,
      "core.spill_mb" -> total(agg)(_.spillB / mb) / n,
      "operators.wscg_s" -> wscgMs.sum / 1e3 / n,
      "operators.generate_rows" -> genRows.sum / n,
      "streaming.batches" -> batches.length.toDouble,
      "streaming.trigger_p50_ms" -> Stats.quantile(triggers.toSeq, 0.5),
      "streaming.add_batch_s" ->
        batches.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3,
      "streaming.query_planning_s" ->
        batches.map(_.durations.getOrElse("queryPlanning", 0L)).sum / 1e3,
      "streaming.wal_commit_s" ->
        batches.map(_.durations.getOrElse("walCommit", 0L)).sum / 1e3,
    ) ++ selfByKind.map { case (k, v) => s"self.$k" + "_ms" -> v / n }
    (metrics, opSummaries.toSeq, spanRecords.toSeq)
  }

  /** Length of the union of closed intervals. */
  private def union(xs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  private final case class Root(id: String, name: String, start: Long,
      end: Long, wallNs: Long)
  private final case class Child(op: String, kind: String, name: String,
      start: Long, end: Long)
  private final class Job(val group: String, val start: Long,
      val stageIds: Seq[Int]) { @volatile var end: Long = start }
  private final class Stage(val id: Int) {
    var submitted = 0L; var completed = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    var inputB = 0L; var shWriteB = 0L; var shWriteNs = 0L
    var shReadB = 0L; var fetchWaitMs = 0L; var spillB = 0L
  }
  private final case class Qe(start: Long, phases: Map[String, (Long, Long)],
      wscgMs: Long, generateRows: Long)
  private final case class Progress(start: Long, durations: Map[String, Long])
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
