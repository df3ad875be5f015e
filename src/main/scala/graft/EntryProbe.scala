package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev harness: run one catalog entry cold-cache
  * ([[GraftSession.coldReset]] before every rep) and print, per rep:
  *
  *  - every job's wall time, task count and stage names (a
  *    SparkListener), plus the driver time between jobs;
  *  - for streaming entries, every micro-batch's durationMs
  *    decomposition (queryPlanning, getBatch, addBatch, walCommit,
  *    commitOffsets, triggerExecution) and the query start/stop wall
  *    times — most of a bounded drain's cost is driver-side machinery
  *    between jobs, which the job listener cannot see. These lines
  *    appear only when a micro-batch runs.
  *
  * With `explain`, the entry's formatted physical plan follows the reps.
  * For where the time goes inside a job, profile the JVM with JDK
  * Flight Recorder (`-XX:StartFlightRecording`, read with `jfr`).
  *
  * Usage: sbt "runMain graft.EntryProbe <query> [reps=2] [explain]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_WARM_DIR, SPARK_GRAFT_CPUS
  * (default: available processors), SPARK_GRAFT_LOCAL_DIR,
  * SPARK_GRAFT_EXTRA_CONF
  */
object EntryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.drop(1).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    if (!SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query '$name'; valid names:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    // plan/codegen warm at the smallest sf (the bench protocol)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    try fn(spark, warmDir).count() catch { case _: Throwable => () }

    case class Job(id: Int, desc: String, ms: Double, tasks: Int,
        stages: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    val starts = new scala.collection.mutable.HashMap[Int, (Long, String, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        val tasks = e.stageInfos.map(_.numTasks).sum
        val stages = e.stageInfos.map(s => s"${s.name.takeWhile(_ != '\n').take(50)}(${s.numTasks}t)").mkString(" | ")
        starts(e.jobId) = (System.nanoTime(), desc, tasks, stages)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = starts.synchronized {
        starts.remove(e.jobId).foreach { case (t0, desc, tasks, stages) =>
          jobs += Job(e.jobId, desc, (System.nanoTime() - t0) / 1e6, tasks, stages)
        }
      }
    })

    @volatile var t0 = System.nanoTime()
    def ms(t: Long): Double = (System.nanoTime() - t) / 1e6
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(f"  [${ms(t0)}%8.1f ms] query START  ${e.name}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(f"  [${ms(t0)}%8.1f ms] query STOP")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = {
          import scala.jdk.CollectionConverters._
          p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
        }
        val state = p.stateOperators.map(s =>
          s"commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString(",")
        println(f"  [${ms(t0)}%8.1f ms] batch ${p.batchId}%2d " +
          f"rows=${p.numInputRows}%6d  $dur  [$state]")
      }
    })

    (1 to reps).foreach { i =>
      GraftSession.coldReset(spark)
      jobs.synchronized(jobs.clear())
      t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val total = ms(t0) / 1e3
      Thread.sleep(300) // drain listeners
      println(f"== $name rep $i: $total%.3f s ($n rows), ${jobs.size} jobs ==")
      jobs.foreach { j =>
        println(f"  job ${j.id}%3d ${j.ms}%8.1f ms ${j.tasks}%5dt  ${j.stages.take(120)}")
      }
      val accounted = jobs.map(_.ms).sum / 1e3
      println(f"  [sum of jobs: $accounted%.3f s; gaps (driver): ${total - accounted}%.3f s]")
    }
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
