package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one session builder and the one cold reset: a `GraftSession`
  * carries every shipped conf, the test session differs from it only
  * where documented, `coldReset` empties every cross-entry memo, no
  * other builder creeps back into `src/main`, and `src/main` keeps one QA
  * pipeline class with one judge call site and one numbering call site. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession(n) is local[n] with n shuffle partitions, every conf " +
      "and the extra confs applied last") {
    // own JVM: the test JVM's shared context fixes master and static confs
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val pb = new ProcessBuilder((Seq(javaBin.toString, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.GraftSessionChild", "3")).asJava)
    pb.environment().put("SPARK_GRAFT_EXTRA_CONF",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst=false;" +
        "spark.sql.codegen.cache.maxEntries=100")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out)
    val conf = out.linesIterator.filter(_.startsWith("CONF\t"))
      .map(_.split("\t", 3)).map(a => a(1) -> a(2)).toMap
    assert(conf.get("spark.master").contains("local[3]"))
    assert(conf.get("spark.sql.shuffle.partitions").contains("3"))
    val expected = GraftSession.confs ++ Map(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "100")
    expected.foreach { case (k, v) => assert(conf.get(k).contains(v), k) }
  }

  test("the test session has the shipped confs except master, partitions " +
      "and the extension") {
    assert(spark.sparkContext.master == "local[4, 2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.getOption("spark.sql.extensions").isEmpty)
    (GraftSession.confs - "spark.sql.extensions").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("coldReset empties DfCache, the rank bases, the nDocs memo and the " +
      "session cache") {
    Seq("ta_rrf", "rel_pagerank")
      .foreach(n => SparkEntry.queries(n)(spark, sf).count())
    val pinned = spark.range(5).cache()
    pinned.count()
    assert(core.DfCache.entryCount > 0)
    assert(operators.Graph.rankBaseCount > 0)
    assert(queries.AnalysisQueries.nDocsTfMemoSize > 0)
    assert(pinned.storageLevel != StorageLevel.NONE)

    GraftSession.coldReset(spark)
    assert(core.DfCache.entryCount == 0)
    assert(operators.Graph.rankBaseCount == 0)
    assert(queries.AnalysisQueries.nDocsTfMemoSize == 0)
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("numbering a frame logs no cached-RDD clean-up line under the session's log levels") {
    val logger = "org.apache.spark.sql.execution.python.AttachDistributedSequenceExec"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("numbering-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(capture)
    def numberedLines(): Seq[String] = {
      lines.clear()
      operators.GlobalOrder.withRowNumber(spark.range(50).toDF("k"), col("k")).collect()
      lines.asScala.filter(_.contains("clean up cached RDD")).toSeq
    }
    try {
      // at WARN the numbering's release line is there to capture
      Configurator.setLevel(logger, Level.WARN)
      assert(numberedLines().exists(_.startsWith(logger)))
      GraftSession.setLogLevels(spark)
      assert(numberedLines().isEmpty)
      assert(LogManager.getRootLogger.getLevel == Level.WARN)
    } finally {
      root.removeAppender(capture)
      GraftSession.setLogLevels(spark)
    }
  }

  test("src/main builds sessions only through GraftSession and reads no " +
      "deleted conf knob") {
    val sources = mainSources
    def hits(p: Path, needle: String): Boolean =
      Files.readString(p).contains(needle)
    val builders = sources.filter(hits(_, "SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"))
    val deleted = Seq("SPARK_GRAFT_CODEGEN_CACHE", "SPARK_GRAFT_OHA_FALLBACK",
      "SPARK_GRAFT_AQE_PARALLELISM_FIRST", "SPARK_GRAFT_BENCH_FULL",
      "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_BENCH_ISOLATED",
      "SPARK_GRAFT_RETRY_OVER", "SPARK_GRAFT_SAMPLE", "SPARK_GRAFT_SAMPLE_ALL")
    for (p <- sources; k <- deleted) assert(!hits(p, k), s"$k in $p")
    // the measurement mains write no tracked file and run no git
    for (p <- sources; k <- Seq("bench_mins", "ProcessBuilder(\"git\""))
      assert(!hits(p, k), s"$k in $p")
  }

  test("src/main has one QA pipeline class with one judge and one numbering call") {
    val text = mainSources.map(Files.readString).mkString("\n")
    def count(needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllIn(text).size
    assert(count("class MapReducePipeline") == 0)
    assert(count("model.judge(") == 1)
    assert(count("positionalBatches(") - count("def positionalBatches(") == 1)
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }
}

/** Child-JVM side of the first test: builds `GraftSession(n)` and prints
  * its master and confs as `CONF\tkey\tvalue` lines. */
object GraftSessionChild {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(args(0).toInt)
    println(s"CONF\tspark.master\t${spark.sparkContext.master}")
    spark.conf.getAll.foreach { case (k, v) => println(s"CONF\t$k\t$v") }
    spark.stop()
  }
}
