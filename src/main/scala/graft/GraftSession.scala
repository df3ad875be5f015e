package graft

import org.apache.spark.sql.SparkSession

/** The one way every main builds its session, and the one cold-cache
  * reset. What the bench measures is what `Verify`, the probes and the
  * `RunPipeline` CLI run; the test session (`SparkSpec`) takes the same
  * [[confs]] minus the extension (see there).
  *
  * Env: `SPARK_GRAFT_CPUS` (default: the JVM's available processors),
  * `SPARK_GRAFT_EXTRA_CONF` (dev-only A/B knob, "k=v;k=v", applied last
  * so it overrides any conf below), `SPARK_GRAFT_LOCAL_DIR` (see
  * [[graft.core.LocalDirs]]). */
object GraftSession {

  /** Session confs beyond master and shuffle partitions.
    *
    * Janino compile-cache sizing: Spark's default keeps only 100
    * generated classes, but 270 entries × several codegen units vastly
    * exceed that — the sf0.001 warm pass self-evicted and the measured
    * run recompiled throughout (r18 A/B, 30-heavy subset: 44.8 → 30.2 s
    * at 10 000). Memory cost is bounded: generated classes of this
    * catalog.
    *
    * ObjectHashAggregate fallback sizing: Spark flips every object
    * aggregation (top_k_structs, the collect_set/collect_list behind
    * ordered folds and pair postings) to sort-based processing after
    * only 128 DISTINCT KEYS per task — serializing each buffer into an
    * external sorter whose memory tracking SizeEstimator-samples the
    * buffers (the hottest parked frames of the r18 sampler on ta_rrf).
    * This engine's object-agg buffers are BOUNDED by construction (k-row
    * heaps, dfCap'd postings, per-order item sets), so hash mode costs
    * keys/task x bounded-state memory (~80 MB at 262 144 worst case) and
    * the fallback is pure overhead. Measured (18-entry object-agg
    * subset, idle host both sides, min-of-3): 8.60 -> 7.46 s. Production
    * would size it to executor memory / state bound.
    *
    * Either A/B reproduces with `SPARK_GRAFT_EXTRA_CONF`, e.g.
    * `spark.sql.codegen.cache.maxEntries=100`.
    *
    * AQE is left at Spark's defaults (enabled, coalescing with
    * parallelismFirst=true). MEASURED (r17 A/B, 30-heavy subset,
    * min-of-2 each side): parallelismFirst=false (the docs-recommended
    * "respect advisory size" setting) totals 66.1 s vs 60.7 s for true —
    * at sf0.1 most exchanges carry few bytes but REAL per-row compute
    * (ordered folds, edit distances), so coalescing them to one
    * advisory-sized task serializes that compute (rel_copurchase +1.5 s,
    * sim_kmeans +1.1, dedup_ngram_jaccard +1.4) and only plan-heavy
    * entries win (adv_composite_match -3.9, ta_rrf -0.8). Byte-blind
    * coalescing is the wrong model for this catalog. */
  val confs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
    "spark.ui.enabled" -> "false")

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  private def extraConfs: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").filter(_.nonEmpty).toSeq
      .flatMap(_.split(";")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }.toMap

  /** A `local[cpus]` session with `cpus` shuffle partitions, [[confs]],
    * the extra confs and the preferred local dir; logs as [[setLogLevels]]
    * says, with the `[graft-metrics]` observers registered. */
  def apply(cpus: Int = defaultCpus): SparkSession = {
    // Shuffle/spill temp under fast storage (graft.core.LocalDirs): the
    // per-map-task shuffle-file I/O on the ext4 root measured as HALF
    // the per-SQL-action floor (90.7 → 45.3 ms, FloorProbe) — a
    // where-temp-bytes-live choice, not a change to what any query
    // computes.
    val spark = core.LocalDirs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(confs ++ extraConfs)
      .getOrCreate()
    setLogLevels(spark)
    core.Metrics.register(spark)
    spark
  }

  /** WARN, but ERROR for Spark's distributed-sequence operator (every
    * [[graft.operators.GlobalOrder]] frame), which warns each time it
    * releases the child it persisted for its count pass. */
  def setLogLevels(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.python.AttachDistributedSequenceExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** Cold-cache reset between measured runs: every JVM memo shared
    * across catalog entries (DfCache bases, the graph rank bases, the
    * tf-idf document count) plus the session cache. A warm rerun would
    * exclude the one-time base build a standalone entry pays. The table
    * schema memo stays: it holds metadata only. */
  def coldReset(spark: SparkSession): Unit = {
    core.DfCache.clearAll()
    operators.Graph.rankBasesClear()
    queries.AnalysisQueries.nDocsTfMemoClear()
    spark.catalog.clearCache()
  }
}
