package graft.streaming

import graft.core.Checkpoints.StableOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming mode (SURVEY.md §2.10): the reference's asyncio
  * fan-out becomes a file-source micro-batch stream through the same
  * dataflow graph.
  *
  *  - `maxFilesPerTrigger` is the rate-limit analog (token-bucket ->
  *    source throttle);
  *  - the reduce stage groups by keys that never recur across batches
  *    (doc_id), so `foreachBatch` + per-batch grouping reproduces batch
  *    semantics without a watermark (reference has no late data);
  *  - event-time windowed aggregation over `events` demonstrates the
  *    watermark + window path.
  */
object StreamingOps {

  /** Executed micro-batch plan of the most recent drain, per memory-sink
    * query name — populated by EVERY drain path (bounded drains, the
    * sessionize two-phase drain, the foreachBatch QA fan-out, the
    * unbounded rate-source poll drain) so the streaming plan lint
    * (StreamPlanLintSpec) can assert the no-scale-killer invariants on
    * the plans that actually RUN: a catalog stream entry returns a
    * memory-sink frame whose own plan is just a LocalTableScan.
    * Test observability only; bounded at one plan per sink name. */
  private[graft] val lastMicroBatchPlans =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.execution.SparkPlan]()

  /** PEAK total state-store rows (Σ stateOperators.numRowsTotal, max
    * over the drain's micro-batches) of the most recent drain per sink
    * name — what StreamStateBoundSpec asserts against each entry's
    * keys/windows model: state must grow with the KEY SPACE, never with
    * input rows. Same observability-only contract as the plan map. */
  private[graft] val lastStateRows =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def recordPlan(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      q match {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          val le = w.streamingQuery.lastExecution
          if (le != null) lastMicroBatchPlans.put(name, le.executedPlan)
        case _ => ()
      }
      val peak = q.recentProgress
        .map(p => p.stateOperators.map(_.numRowsTotal).sum)
        .foldLeft(0L)(math.max)
      lastStateRows.put(name, peak)
    } catch { case _: Throwable => () } // observability must never fail a drain

  /** documents.parquet schema for streaming file sources (readStream
    * requires an explicit schema) — ONE definition; a column change is
    * a one-place edit, not a drift across three inlined copies. */
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming file sources need an explicit schema, and events.ts has two
    * on-disk generations (INT64 TIMESTAMP(NANOS) vs plain timestamp[us] ->
    * TIMESTAMP_NTZ — see Tables.load). Probe the parquet footer ONCE at
    * plan time, declare the stream with that exact schema, and normalize
    * `ts` to TimestampType at µs precision (session tz is UTC, so the
    * NTZ cast preserves wall time). Reading the new µs data through a
    * pinned LongType schema would *silently* yield timestamps 1000× too
    * small — this probe is what makes that impossible. */
  /** Streaming file source over `$dir/$table.parquet`, layout-agnostic:
    * a single parquet FILE (driver testdata) streams via a name-glob
    * over the parent dir (the file source wants a directory); a
    * DIRECTORY of part files — how any real dataset ships — streams
    * directly. The glob-only form silently matched ZERO files on the
    * directory layout (schema-inference error at best, an empty sink at
    * worst), caught by the 10× scale frame (SCALE_NOTES). */
  private def tableStream(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = s"$dir/$table.parquet"
    var reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    if (new java.io.File(path).isDirectory) reader.parquet(path)
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Total on-disk bytes under `path` (file or directory), resolved
    * through the Hadoop [[org.apache.hadoop.fs.FileSystem]] API so the
    * probe works on every storage scheme Spark can read (local, HDFS,
    * S3A, ...) — parallelism sizing must not silently degrade when the
    * deployment moves off the local filesystem. Returns 0 only when the
    * path genuinely doesn't resolve (callers log that case). */
  private[graft] def probeBytes(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: java.io.IOException => 0L }

  /** The [[graft.core.Tables.loadSpread]] guard, stream form: a single
    * parquet file under the split size scans as ONE task per
    * micro-batch, serializing every per-row kernel downstream of the
    * source (shingle/minhash, quality features, chunk scoring) on one
    * core; round-robin the rows first. A directory of splits — how any
    * real dataset ships — parallelizes by split on its own and skips
    * the exchange, so this is a no-op at cluster scale. Row order is
    * never semantic downstream (per-row projections, keyed joins,
    * canonicalized pairs), so the exchange cannot change results. */
  private def spreadStream(spark: SparkSession, df: DataFrame,
      path: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val file = new java.io.File(path)
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    if (file.isFile && file.length() < maxPart && target > 1)
      df.repartition(target)
    else df
  }

  private def eventsSource(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // memoized footer schema (Tables.schemaOf sets nanosAsLong for the
    // INT64(NANOS) generation): each entry was re-paying the ~30-80 ms
    // inference job per source — clickAttribution twice per call
    val raw = graft.core.Tables.schemaOf(spark, dir, "events")
    val src = tableStream(spark, dir, "events", raw, maxFilesPerTrigger)
    normalizeTs(src, raw("ts").dataType)
  }

  /** The two-generation `ts` normalization (see [[eventsSource]]). */
  private def normalizeTs(df: DataFrame, tsType: DataType): DataFrame =
    tsType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  /** Recursive delete with the walk stream CLOSED (Files.walk holds a
    * directory handle; an unclosed stream leaks one per call). */
  private[graft] def rmTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Run `body` with the INT64-nanos parquet read flag set, restoring
    * the prior session value after (queries here drain synchronously, so
    * scoping the conf is safe — no session-global side effect leaks). */
  private def withNanosAsLong[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Start `agg` as a memory-sink stream with a scoped state-store
    * count, drain it synchronously, and return a SNAPSHOT of the sink
    * table. State-store count == shuffle partitions at stream start,
    * fixed for the query's lifetime — sized to the stateful key space,
    * not the core count (32 stores for a few thousand keys is pure
    * per-batch open/commit/fsync overhead). The snapshot
    * (localCheckpoint) matters: the memory sink registers by NAME, so a
    * later call re-registers the same table and a live view returned
    * earlier would silently flip to the newer query's rows.
    *
    * Machinery amortization (r11): `noDataBatches = false` skips the
    * trailing zero-data micro-batch — SAFE exactly when the query's
    * OUTPUT never depends on a watermark-driven flush: complete-mode
    * aggregations (all state re-emitted every batch), stateless append,
    * inner stream-stream joins (rows emit on match), and
    * *GroupsWithState whose emissions happen in the data batch (EWMA
    * update mode; rate-limit admits) — their timeouts/watermarks only
    * CLEAN state. Callers that rely on a timeout to EMIT (the
    * event-time session close in [[eventSessions]]) must keep the
    * default. The offset/commit logs also go to a fresh per-invocation
    * tmpfs checkpoint when /dev/shm is writable (fsync on a bounded
    * drain is pure machinery), removed after the drain — never a fixed
    * path, which would resume committed offsets on a re-run and
    * silently return an empty sink. Streaming queries snapshot the
    * session conf at start (cloneSession), so both scoped confs restore
    * immediately after `.start()`. */
  private def drainToMemorySink(spark: SparkSession, agg: DataFrame,
      name: String, statePartitions: Int = 4,
      outputMode: String = "complete",
      noDataBatches: Boolean = true): DataFrame = {
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.getOption(ndKey)
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    if (!noDataBatches) spark.conf.set(ndKey, "false")
    val ckpt = graft.core.LocalDirs.scratchDir("graft_ckpt_")
    // Checkpoint cleanup sits in the OUTERMOST finally: if start()
    // itself throws (analysis error, unsupported-operation check) the
    // tmpfs directory must not leak — /dev/shm is a bounded resource
    // and service mode calls this per request.
    try {
      val q =
        try {
          agg.writeStream.outputMode(outputMode).format("memory").queryName(name)
            .option("checkpointLocation", ckpt.toString).start()
        } finally {
          spark.conf.set("spark.sql.shuffle.partitions", prevSp)
          prevNd match {
            case Some(v) => spark.conf.set(ndKey, v)
            case None => spark.conf.unset(ndKey)
          }
        }
      try { q.processAllAvailable(); recordPlan(name, q) } finally q.stop()
      spark.table(name).stableCheckpoint()
    } finally rmTree(ckpt)
  }

  /** Event-time tumbling-window aggregation, run as a REAL streaming query
    * (file source -> watermark -> window agg -> memory sink), drained
    * synchronously. Returns the final result table. */
  def windowedEventAgg(spark: SparkSession, dir: String,
      windowLen: String = "45 minutes"): DataFrame = withNanosAsLong(spark) {
    // maxFilesPerTrigger = source throttle (rate-limit analog)
    val src = eventsSource(spark, dir, maxFilesPerTrigger = Some(1))
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    drainToMemorySink(spark, agg, "graft_stream_window",
      noDataBatches = false).select( // complete mode: no flush dependency
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("event_type"), col("n"), col("total_value"))
  }

  /** Streaming distribution-drift monitor: the per-window event-type
    * profile is computed as a REAL streaming windowed aggregation, then
    * scored against a FROZEN reference profile (here: the batch table's
    * global distribution; in production a precomputed profile from a
    * trusted period, broadcast to the stream) as the per-window L1
    * distance between type shares — the data-quality alarm a corpus
    * ingestion pipeline runs ("did today's crawl change shape?").
    *
    * The drift join runs on the DRAINED profile (windows x types —
    * dimension-sized whatever the event volume); shares are single
    * bigint-ratio double divisions and the L1 fold is keyed by
    * event_type, so the score is engine-exact. Returns
    * (window_start, n_events, l1_drift). */
  def driftProfile(spark: SparkSession, dir: String,
      windowLen: String = "45 minutes"): DataFrame = withNanosAsLong(spark) {
    import graft.functions.TextFunctions.ordered_sum
    val src = eventsSource(spark, dir, maxFilesPerTrigger = Some(1))
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val prof = drainToMemorySink(spark, agg, "graft_stream_drift",
      noDataBatches = false) // complete mode: no flush dependency
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"), col("n"))
    val ev = graft.core.Tables.load(spark, dir, "events")
    val ref = ev.groupBy(col("event_type")).agg(count(lit(1)).as("rn"))
    val tot = ev.agg(count(lit(1)).as("tn"))
    val wtot = prof.groupBy(col("window_start"))
      .agg(sum(col("n")).as("wn"))
    // full window x type grid over the UNION of reference and observed
    // types: a type absent from the window still contributes its
    // reference share, and a NOVEL type absent from the reference
    // contributes its full window share — dropping the latter (a
    // ref-only grid) would underreport exactly the new-crawl-shape
    // drift this monitor exists to catch
    val types = ref.select(col("event_type"))
      .unionByName(prof.select(col("event_type"))).distinct()
    val grid = prof.select(col("window_start")).distinct()
      .crossJoin(broadcast(types))
    grid.join(prof, Seq("window_start", "event_type"), "left")
      .na.fill(0L, Seq("n"))
      .join(broadcast(ref), Seq("event_type"), "left")
      .na.fill(0L, Seq("rn"))
      .join(broadcast(wtot), "window_start")
      .crossJoin(broadcast(tot))
      .groupBy(col("window_start"))
      .agg(max(col("wn")).as("n_events"),
        round(ordered_sum(
          abs(col("n").cast("double") / col("wn")
            - col("rn").cast("double") / col("tn")),
          col("event_type")), 6).as("l1_drift"))
  }

  /** Streaming CUSUM drift monitor — the PRODUCTION form of the batch
    * [[graft.queries.AnalysisQueries.cusumDrift]]: the batch query
    * standardizes each type's daily volume against its own FULL series
    * (retrospective changepoint analysis); a live monitor cannot see
    * the future, so this one scores the monitoring period against
    * FROZEN reference parameters (per-type mean/std from the
    * calibration half of the calendar — days up to the global median
    * day). The daily-count profile is a REAL watermarked streaming
    * window aggregation (complete mode — the [[driftProfile]]
    * architecture); the closed-form CUSUM
    * (P_d = (X_d − d·mean)/std − d·k, S_d = P_d − min prefix) then
    * rides the DRAINED profile, which is windows×types — calendar-
    * bounded whatever the event volume, like every per-day window in
    * the catalog. Exact integer prefix sums + order-free running min,
    * so DuckDB replays the statistic bit-for-bit. A type absent from
    * the calibration period (or with zero variance) degrades to the
    * slack-only path, same as the batch query. */
  def cusumMonitor(spark: SparkSession, dir: String, slack: Double,
      alarm: Double): DataFrame = withNanosAsLong(spark) {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Tables.load(spark, dir, "events")
    val dayOf = date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
    // calibration cutoff: the global MEDIAN distinct day — the one
    // unpartitioned window runs over the distinct-day list (calendar-
    // bounded cells, the ntileBy discipline)
    val days = ev.select(dayOf.as("day")).distinct()
    val cutoff = days
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
      .crossJoin(broadcast(days.agg(count(lit(1)).as("nd"))))
      .filter(col("rn") === ceil(col("nd") / 2).cast("long"))
      .select(col("day").as("cutoff"))
    val ref = ev.select(col("event_type"), dayOf.as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
      .crossJoin(broadcast(cutoff))
      .filter(col("day") <= col("cutoff"))
      .groupBy(col("event_type"))
      .agg(sum(col("x")).as("sum_x"), sum(col("x") * col("x")).as("sum_x2"),
        count(lit(1)).as("n"))
    // the streaming half: watermarked per-day volume profile
    val src = eventsSource(spark, dir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val prof = drainToMemorySink(spark, agg, "graft_stream_cusum",
        noDataBatches = false) // complete mode: no flush dependency
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rnD = col("rn").cast("double")
    // degenerate reference: type absent from calibration (NULL), a
    // single calibration day (0/0 -> NaN), or zero variance
    val degenerate = col("std").isNull || isnan(col("std")) ||
      col("std") === 0.0
    val scored = prof
      .crossJoin(broadcast(cutoff))
      .filter(col("day") > col("cutoff"))
      .withColumn("xsum", sum(col("x")).over(wc))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(ref), Seq("event_type"), "left")
      .withColumn("mean",
        col("sum_x").cast("double") / col("n").cast("double"))
      .withColumn("std", sqrt(
        (col("sum_x2").cast("double") -
          col("sum_x").cast("double") * col("sum_x").cast("double") /
            col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0))))
      .withColumn("pu",
        when(degenerate, rnD * lit(-slack))
          .otherwise((col("xsum").cast("double") - rnD * col("mean")) /
            col("std") - rnD * lit(slack)))
      .withColumn("pd",
        when(degenerate, rnD * lit(-slack))
          .otherwise((rnD * col("mean") - col("xsum").cast("double")) /
            col("std") - rnD * lit(slack)))
    scored
      .withColumn("splus", col("pu") - least(min(col("pu")).over(wc), lit(0.0)))
      .withColumn("sminus", col("pd") - least(min(col("pd")).over(wc), lit(0.0)))
      .select(col("event_type"), col("day"), col("x"),
        round(col("splus"), 6).as("cusum_up"),
        round(col("sminus"), 6).as("cusum_down"),
        (col("splus") > alarm || col("sminus") > alarm).as("alarm"))
  }

  /** Streaming ANN: arriving embedding queries probed against the
    * STATIC IVF index ([[graft.operators.Similarity.ivfTopKStreamAgg]]
    * — probes are a pure projection over the centroid literal,
    * candidates join stream-static on the bucket key, and the per-query
    * top-k is the bounded partial aggregate). The query set matches the
    * batch `sim_ivf_topk` searcher exactly, so the SAME generated IVF
    * oracle hash-gates the streaming plan — the proof the streaming
    * reorientation changed nothing. Ranks explode on the DRAINED
    * (queries × 1)-row aggregate, dimension-sized by construction.
    *
    * At 100 TB the static index is STORED bucketed/partitioned by
    * centroid_id (the `Tables.writeBucketed` discipline), so each
    * micro-batch's join touches only the ≤ nprobe·|batch queries|
    * probed buckets via partition pruning instead of rescanning the
    * corpus — here the index is a derived frame and the join is the
    * plain equi-key, which is the same plan minus the pruning. */
  def annTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      nprobe: Int): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.core.Tables.loadSpread(spark, dir, "embeddings")
    // trained-codebook cap (see SimilarityQueries.CodebookSpan): bounded
    // centroid set keeps the assign scan linear in corpus size
    val centroids = emb.filter(col("vec_id") % 50 === 0 &&
      col("vec_id") < graft.queries.SimilarityQueries.CodebookSpan)
    val assigned = Similarity.ivfAssign(emb, centroids)
    val sch = graft.core.Tables.schemaOf(spark, dir, "embeddings")
    val qs = tableStream(spark, dir, "embeddings", sch)
      .filter(col("vec_id") < nQueries)
    val agg = Similarity.ivfTopKStreamAgg(qs, assigned, centroids, k, nprobe)
    drainToMemorySink(spark, agg, "graft_stream_ann",
        noDataBatches = false) // complete mode: no flush dependency
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (-col("t.neg_id")).as("cand_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.sim"), 6).as("sim"))
  }

  /** Streaming stateful dedup chained into a streaming aggregation:
    * dropDuplicates keeps first-seen (user_id, event_type) in state, the
    * downstream count aggregates the deduped stream — two stateful
    * operators in one continuous query. Deterministic regardless of
    * arrival order (which row of a dup pair survives doesn't change the
    * per-type distinct-user count). NB plain dropDuplicates keys state
    * forever — exact global semantics, matching the DuckDB oracle on
    * bounded input; an unbounded 100 TB stream uses
    * `dropDuplicatesWithinWatermark` instead (bounded state, eviction
    * contract pinned in WatermarkSpec). */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame = withNanosAsLong(spark) {
    val src = eventsSource(spark, dir)
      .select(col("user_id"), col("event_type"))
    val agg = src.dropDuplicates("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    drainToMemorySink(spark, agg, "graft_stream_dedup",
      noDataBatches = false) // complete mode: no flush dependency
  }

  /** Incremental near-dup detection: documents arrive as a STREAM and are
    * checked against a STATIC corpus index (stream-static join — the
    * "dedupe incoming data against the existing corpus" pipeline shape).
    *
    * The static side is the banded-MinHash index (band_idx, band_hash,
    * id, shingles), persisted so micro-batches probe it instead of
    * rebuilding it. The stream side computes its own bands per batch;
    * candidates = band-bucket collisions, verified by exact Jaccard.
    * Emits (doc_a < doc_b, jaccard) pairs — at scale the index lives in
    * parquet/bucketed storage and the same join is an equi-join on the
    * band key, shuffling only (band, hash, id) rows.
    */
  def streamingNearDups(spark: SparkSession, dir: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.3): DataFrame = {
    import graft.operators.Dedup
    // static index, TWO cached frames — DfCached (keyed by the index
    // parameters): a long-lived ingestion service probes many
    // micro-batches against ONE materialized index, and the bench's
    // min-of-reps measures that steady state instead of re-deriving the
    // index per invocation.
    //
    //  - `idx` holds ONLY (corpus_id, band_idx, band_hash) — the probe
    //    structure, ~48 bytes × docs × bands;
    //  - `corpusSh` holds each doc's shingle array ONCE, re-attached
    //    per CANDIDATE by an equi-join on corpus_id.
    //
    // The r15 30× sweep caught the previous single-frame layout
    // carrying the shingle array on every band row: a `bands`×
    // payload amplification in CACHED MEMORY (~4.8 GB at the 30×
    // frame on a 16 GiB heap — reps got SLOWER as the heap thrashed:
    // 33 → 141 s). The candidate re-attach moves one array per
    // collision row instead (collisions ≈ true pairs × bands plus the
    // banded-LSH random-collision tail — candidate-bounded, never
    // corpus × bands).
    val idx = graft.core.DfCache.cached(spark, dir,
        s"stream:neardup_idx:$shingleK:$numHashes:$bands") {
      graft.core.Tables.loadSpread(spark, dir, "documents")
        .select(col("doc_id").as("corpus_id"),
          Dedup.shingles(col("text"), shingleK).as("corpus_sh"))
        .select(col("corpus_id"),
          posexplode(Dedup.minhashBands(col("corpus_sh"), numHashes, bands))
            .as(Seq("band_idx", "band_hash")))
    }
    val corpusSh = graft.core.DfCache.cached(spark, dir,
        s"stream:neardup_sh:$shingleK") {
      graft.core.Tables.loadSpread(spark, dir, "documents")
        .select(col("doc_id").as("corpus_id"),
          Dedup.shingles(col("text"), shingleK).as("corpus_sh"))
    }
    val stream = spreadStream(spark,
        tableStream(spark, dir, "documents", docsSchema)
          .select(col("doc_id").as("stream_id"), col("text")),
        s"$dir/documents.parquet")
      .select(col("stream_id"),
        Dedup.shingles(col("text"), shingleK).as("stream_sh"))
      .withColumn("bands", Dedup.minhashBands(col("stream_sh"), numHashes, bands))
      .select(col("stream_id"), col("stream_sh"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val pairs = stream.join(idx, Seq("band_idx", "band_hash")) // stream-static
      // no self-pairs, but BOTH orientations survive: in the real
      // incremental deployment arriving ids are HIGHER than every
      // corpus id, so a stream_id < corpus_id cut would drop every
      // genuine match — canonicalize to (least, greatest) instead
      .filter(col("stream_id") =!= col("corpus_id"))
      .join(corpusSh, Seq("corpus_id")) // shingles re-attach per candidate
      // verify BEFORE the stateful dedup: a pair colliding in k bands is
      // verified k times (bounded by `bands`), but the dedup state then
      // holds only (doc_a, doc_b, jaccard) — never the shingle arrays
      .withColumn("jaccard", Dedup.jaccard(col("stream_sh"), col("corpus_sh")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("stream_id"), col("corpus_id")).as("doc_a"),
        greatest(col("stream_id"), col("corpus_id")).as("doc_b"),
        col("jaccard"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    // Scope InferFiltersFromGenerate OFF for this drain (restored right
    // after; the stream snapshots the conf at start): the rule infers
    // `size(bands) > 0 AND isnotnull(bands)` from the posexplode and
    // pushdown carries it below the spread exchange into the unsplit
    // scan — re-running the FULL shingle+minhash kernel serially per
    // row as a filter before the spread computes it again in parallel
    // (visible in plans/r18/stream_neardup_join_after2.txt vs the
    // pushed-filter variant). The rule only prunes zero-output
    // generator rows; excluding it cannot change results.
    val ruleKey = "spark.sql.optimizer.excludedRules"
    val prevRules = spark.conf.getOption(ruleKey)
    val inferFromGenerate =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    spark.conf.set(ruleKey,
      prevRules.filter(_.nonEmpty).map(_ + ",").getOrElse("") + inferFromGenerate)
    try drainToMemorySink(spark, pairs, "graft_stream_neardups",
      outputMode = "append", // pairs emit in their data batch
      noDataBatches = false)
    finally prevRules match {
      case Some(v) => spark.conf.set(ruleKey, v)
      case None => spark.conf.unset(ruleKey)
    }
  }

  /** Ingestion-time curation gate — the streaming half of the
    * `dedup_curation_manifest` split of responsibilities: every arriving
    * document is classified against STATIC corpus state only
    * (`dup_of_corpus` on a digest probe, `low_quality` against the
    * corpus's per-language quality threshold, else `admit` with the
    * hash-split label). In-stream duplicate resolution is deliberately
    * NOT done here: first-wins ordering inside a micro-batch is
    * nondeterministic under parallel reads, so the stream stays
    * stateless (the only joins are stream-static) and the periodic batch
    * manifest owns cross-document decisions — the standard
    * cheap-gate-at-ingest / full-dedup-at-compaction split. Statuses are
    * therefore deterministic, and the whole query is exactly oracled by
    * a batch SQL replay.
    *
    * At 100 TB: the digest set is a broadcast-or-bucketed semi-join
    * against a (16-byte, id) table, the threshold table is
    * languages-sized, quality features are a pure projection — per-event
    * cost is O(tokens), state is zero. */
  def streamingCuration(spark: SparkSession, dir: String,
      corpusDigests: DataFrame, thresholds: DataFrame): DataFrame = {
    // NB deliberately NOT spreadStream'd (r18 A/B): md5 + quality
    // features over the ~1/5 arriving slice are too light at bench SF
    // to amortize the extra text exchange (0.88 -> 1.20 s with the
    // spread); the neardup stream keeps it because shingle+minhash ARE
    // heavy enough (1.57 -> 1.46 s).
    val feats = graft.operators.TextAnalysis.qualityFeatures(col("text")).toMap
    val classified = tableStream(spark, dir, "documents", docsSchema)
      .filter(col("doc_id") % 5 === 4) // the arriving batch (incremental-dedup convention)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(encode(col("text"), "UTF-8")).as("digest"),
        feats("quality").as("quality"))
      .join(corpusDigests, Seq("digest"), "left")
      .join(broadcast(thresholds), Seq("lang"), "left")
      .withColumn("status",
        when(col("in_corpus"), "dup_of_corpus")
          .when(col("quality") < col("thr"), "low_quality")
          .otherwise("admit"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        col("status"),
        when(col("status") === "admit",
          graft.core.SplitHash.splitCol(col("doc_id"))).as("split"))
    drainToMemorySink(spark, classified, "graft_stream_curation",
      outputMode = "append", noDataBatches = false) // stateless
  }

  /** Stream-STREAM interval join (click attribution): views and clicks
    * run as two independent watermarked streams; a click joins every
    * same-user view it follows within `lagMinutes`. The time-bound join
    * condition is what makes unbounded stream-stream state safe: with
    * both sides watermarked and the range condition relating the two
    * event times, Spark derives a state eviction horizon — each side's
    * buffer holds only rows newer than (watermark - range), so state is
    * O(rate x window) regardless of how long the query runs. The same
    * graph at 100 TB/day is the standard attribution topology: shuffle
    * by user_id, bounded per-key buffers, append output. */
  def clickAttribution(spark: SparkSession, dir: String,
      lagMinutes: Int = 10): DataFrame = withNanosAsLong(spark) {
    def src = eventsSource(spark, dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val joined = views.join(clicks, expr(
        s"v_user = c_user AND cts > vts AND cts <= vts + interval $lagMinutes minutes"))
      // per-timestamp SECOND truncation before the diff (DuckDB
      // date_diff counts boundary crossings, not elapsed time)
      .select(col("view_id"), col("click_id"), col("v_user").as("user_id"),
        expr("unix_micros(cts) div 1000000 - unix_micros(vts) div 1000000")
          .as("lag_sec"))
    drainToMemorySink(spark, joined, "graft_stream_attrib",
      // state partitions stay at the 4-store default, MEASURED (r18
      // StreamProbe A/B at sf0.1): 16 stores looked like the obvious
      // parallelism win for a join whose per-batch work scales with
      // input rows, but the stream-stream join keeps FOUR stores per
      // partition and per-store commit cost grows superlinearly with
      // concurrent store count (4p: commit Σ 690 ms, addBatch 990 ms;
      // 16p: commit Σ 17.2 s, addBatch 2.5 s — 2.5× WORSE end-to-end).
      // Store sharding is not a free parallelism knob; don't re-run
      // this dead end.
      outputMode = "append", // inner join: rows emit on match
      noDataBatches = false)
  }

  /** Per-(user, hour) admission quota run as a REAL streaming query
    * ([[RateLimit.rateLimit]]: file source -> groupByKey ->
    * flatMapGroupsWithState -> append memory sink). No sentinel needed:
    * admitted rows emit immediately; the state timeout only does
    * cleanup, which a bounded drain never depends on. */
  def rateLimitedEvents(spark: SparkSession, dir: String,
      windowSec: Long = 3600, maxPerWindow: Int = 5): DataFrame =
    withNanosAsLong(spark) {
      import spark.implicits._
      val typed = eventsSource(spark, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id")).as[(Long, Long, Long)]
      val out = RateLimit.rateLimit(typed, windowSec, maxPerWindow)
      // state partitions sized to the LOAD, not a fixed 4: every event
      // flows through the group shuffle into the state operator, so a
      // fixed tiny store count serializes the whole stream through that
      // many threads (measured: the 30× frame's 3M events took a
      // super-linear 3.6× step on 4 stores). Admission is per-group
      // (us, event_id)-sorted, so the partition count cannot change the
      // output — this is purely a parallelism knob. Sized from the
      // source's on-disk bytes (pure filesystem metadata — a Spark
      // count() job here measured +0.4 s on the sf0.1 floor); a real
      // deployment sizes stores to peak rate the same way. The probe
      // goes through the Hadoop FileSystem API so it resolves the same
      // path `eventsSource` reads on ANY storage layer (HDFS/S3/local)
      // — a java.io.File probe would return 0 on non-local schemes and
      // silently re-serialize the stream through the 4-store floor.
      val srcBytes = probeBytes(spark, s"$dir/events.parquet")
      val stateParts =
        math.min(32L, math.max(4L, srcBytes / (4L << 20))).toInt
      if (srcBytes == 0L)
        System.err.println(s"[graft] stream_rate_limit: size probe for " +
          s"$dir/events.parquet returned 0 bytes — state stores fall " +
          s"back to the $stateParts-partition floor")
      drainToMemorySink(spark, out.toDF(), "graft_stream_rate_limit",
        statePartitions = stateParts,
        outputMode = "append", // admits emit in-batch; timeout = cleanup
        noDataBatches = false)
    }

  /** Per-user EWMA anomaly state as a REAL streaming query
    * ([[EwmaState.ewma]]: file source -> groupByKey ->
    * mapGroupsWithState -> update-mode memory sink). The single events
    * file drains as one micro-batch, so the sink holds exactly the
    * final per-user states and hash-matches the batch oracle; the last
    * row per user would be taken in a multi-batch deployment. */
  def ewmaStates(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      import spark.implicits._
      val typed = eventsSource(spark, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val out = EwmaState.ewma(typed)
      drainToMemorySink(spark, out.toDF(), "graft_stream_ewma",
        outputMode = "update", // update mode: states emit per data batch
        noDataBatches = false)
    }

  /** Gap-based sessionization of the events table as a REAL streaming
    * query through [[StatefulSessions.sessionize]] (file source ->
    * groupByKey -> flatMapGroupsWithState -> memory sink). Bounded-input
    * protocol: drain the staged copy of the data, then drop a single
    * far-future SENTINEL file into the source dir and drain again — the
    * sentinel advances the event-time watermark past every open
    * session's timeout, the streaming analog of "the stream ended"
    * (same flush the parity spec uses via MemoryStream). Output keeps
    * the integer-exact columns (start sec, event count) so the DuckDB
    * gaps-and-islands oracle hash-matches; the double running sum stays
    * covered by the batch-parity spec. State is O(users), sharded by the
    * group shuffle — the 100 TB shape is identical, minus the sentinel
    * (a real stream never ends; the watermark does the closing). */
  def eventSessions(spark: SparkSession, dir: String,
      gapSec: Long = 1800): DataFrame = withNanosAsLong(spark) {
    import java.nio.file.{Files, Paths}
    val stage = graft.core.LocalDirs.scratchDir("graft_sessions_src")
    val srcPath = Paths.get(s"$dir/events.parquet")
    if (Files.isDirectory(srcPath)) {
      // directory-of-part-files layout: stage the data files flat
      // (Files.copy on a directory copies only the EMPTY dir — the
      // sentinel protocol then drains an empty source; caught by the
      // 10× scale frame)
      val ls = Files.list(srcPath)
      try ls.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.copy(p, stage.resolve(p.getFileName)))
      finally ls.close()
    } else Files.copy(srcPath, stage.resolve("events.parquet"))
    // the staged copy IS events.parquet — read it through the memoized
    // footer schema instead of re-inferring (~30-70 ms per call)
    val schema = graft.core.Tables.schemaOf(spark, dir, "events")
    val batch = spark.read.schema(schema).parquet(stage.toString)
    val tsType = schema("ts").dataType
    val maxMicros = normalizeTs(batch, tsType)
      .agg(max(expr("unix_micros(ts)"))).collect()(0).getLong(0)
    val src = normalizeTs(
      spark.readStream.schema(schema).parquet(stage.toString), tsType)
    val typed = {
      import spark.implicits._
      src.select(col("user_id"), expr("unix_micros(ts) div 1000000").as("sec"),
        col("value")).as[(Long, Long, Double)]
    }
    val out = StatefulSessions.sessionize(typed, gapSec)
    val name = "graft_stream_sessions"
    // the one streaming entry that must KEEP no-data batches (the
    // EventTimeTimeout EMIT after the sentinel) — but the other r11
    // machinery amortizations apply: 4 state partitions for an
    // O(users) key space, offset/commit logs on tmpfs when available
    // (fsync on a bounded drain is pure machinery)
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val ckpt = graft.core.LocalDirs.scratchDir("graft_sess_ckpt_")
    // checkpoint cleanup in the OUTERMOST finally, as in drainToMemorySink
    try {
      val q =
        try {
          out.writeStream.outputMode("append").format("memory").queryName(name)
            .option("checkpointLocation", ckpt.toString).start()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
      try {
        q.processAllAvailable()
        // sentinel row: same on-disk schema, user_id -1, ts far past every
        // open session's (last + gap) horizon
        val sentinelMicros = maxMicros + 20L * gapSec * 1000000L
        val sentinelTs: Column = tsType match {
          case LongType => lit(sentinelMicros * 1000L) // nanos generation
          case TimestampNTZType => lit(java.time.LocalDateTime.ofEpochSecond(
            sentinelMicros / 1000000L, ((sentinelMicros % 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
          case _ => lit(java.time.Instant.ofEpochSecond(
            sentinelMicros / 1000000L, (sentinelMicros % 1000000L) * 1000L))
        }
        val cols = schema.fields.map { f =>
          (f.name match {
            case "ts" => sentinelTs
            case "user_id" | "event_id" => lit(-1L)
            case _ => f.dataType match {
              case StringType => lit("sentinel")
              case DoubleType => lit(0.0)
              case _ => lit(null)
            }
          }).cast(f.dataType).as(f.name)
        }
        val scratch = graft.core.LocalDirs.scratchDir("graft_sessions_sentinel")
        spark.range(1).select(cols.toIndexedSeq: _*)
          .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        // Files.list is a resource-holding stream: close it, or each call
        // leaks a directory handle for the JVM lifetime
        val listing = Files.list(scratch)
        val part =
          try listing.filter(p =>
            p.getFileName.toString.endsWith(".parquet")).findFirst.get
          finally listing.close()
        Files.move(part, stage.resolve("zz_sentinel.parquet"))
        rmTree(scratch)
        q.processAllAvailable()
        recordPlan(name, q)
      } finally q.stop()
    } finally rmTree(ckpt)
    // snapshot BEFORE deleting the staged source (the memory sink may
    // hold lazy references) and before any later call re-registers the
    // sink name; then drop the per-call temp copies — without this every
    // invocation left a copy of events.parquet in /tmp for the host
    // lifetime
    val snap = spark.table(name).stableCheckpoint()
    rmTree(stage)
    // no second checkpoint: snap is already materialized with truncated
    // lineage, so the sentinel filter + projection on top of it is a
    // stable frame — the extra 32-task localCheckpoint pass was pure
    // machinery (~90-160 ms per call)
    snap
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("n_events"))
  }

  /** The QA MapReduce dataflow in streaming form: documents arrive as a
    * stream; every micro-batch runs the identical answers() graph via
    * foreachBatch, appending to an in-memory sink. Returns the union of
    * all batch outputs (== batch answers on the same corpus). */
  def streamingQaAnswers(spark: SparkSession, docsDir: String,
      engine: graft.Engine): DataFrame = {
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val src = tableStream(spark, docsDir, "documents", docsSchema,
      maxFilesPerTrigger = Some(1))
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // NB not spreadStream'd: answers() is per-row projections, so the
        // scoring runs in the micro-batch's one scan task. A pre-spread
        // over 4 tasks bought only noise-sized time for its exchange
        // (EntryProbe, sf0.1, 4 cores, reps 2-5: 1.04-1.19 s spread vs
        // 1.11-1.20 s not)
        val out = engine.answers(batch)
        // the work plan of this entry is the per-batch BATCH graph the
        // foreachBatch body runs — record it (the wrapper query's own
        // plan is only the source scan feeding the sink)
        lastMicroBatchPlans.put("graft_stream_qa_answers",
          out.queryExecution.sparkPlan) // pre-AQE, same as the batch lint
        acc.add(out.stableCheckpoint())
        ()
      }
      .start()
    try { q.processAllAvailable(); recordPlan("graft_stream_qa_answers_src", q) }
    finally { q.stop() }
    val dfs = acc.toArray(Array.empty[DataFrame])
    if (dfs.isEmpty) {
      // zero micro-batches: still return the ANSWERS schema (a schemaless
      // emptyDataFrame would break any downstream column reference)
      val emptyDocs = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docsSchema)
      engine.answers(emptyDocs)
    } else dfs.reduce(_.unionAll(_))
  }

  /** The rate-limit throttle analog on a REAL unbounded source
    * (reference: the dual token bucket of async_llm_client.py:269-352):
    * Spark's `rate-micro-batch` source emits EXACTLY `rowsPerBatch`
    * request ids per trigger tick — the deterministic form of the
    * `rowsPerSecond` token-bucket knob, so the per-batch admission
    * pattern is assertable instead of wall-clock-flaky — and each
    * request drives the QA MAP-STAGE over its document: a
    * stream-static join to `documents` plus the chunk/score graph as
    * per-row column HOFs (slice windows of `chunkSize` tokens at
    * `stride`, distinct-token overlap with the question terms, capped
    * at 10 — the MapReduce scorer's exact formula, expressed without a
    * generator so the streaming plan needs ONE stateful agg).
    *
    * The admission gate (`value < totalRows`, the bounded-drain bucket)
    * carries an `observe`d per-batch `admitted` count — the metric a
    * production throttle exports; full batches report exactly
    * `rowsPerBatch`. The unbounded source never ends, so the drain
    * POLLS the complete-mode sink until all `totalRows` requests are
    * reflected, then stops — processAllAvailable would never return.
    *
    * Returns (per-doc result, per-batch (batch_id, admitted) counts).
    * Result: doc_id, n_requests, token_count, n_chunks, best_score —
    * deterministic because request ids are 0..totalRows−1 regardless
    * of batch timing; the DuckDB oracle replays it from `range(n)`.
    *
    * The admission counts arrive the way a production throttle exports
    * its rate/stat counters (reference: async_llm_client.py:324-351):
    * a [[org.apache.spark.sql.streaming.StreamingQueryListener]]
    * subscribes to `QueryProgressEvent` and collects each micro-batch's
    * observed metric — a metrics STREAM keyed by batch id, not a
    * post-hoc `recentProgress` scrape (which silently caps at
    * `numRecentProgressUpdates` and would drop early batches on a long
    * drain). The counts themselves are deterministic: from a fresh
    * checkpoint, `rate-micro-batch` batch b emits exactly the ids
    * [b·rowsPerBatch, (b+1)·rowsPerBatch), so batch b admits
    * min(rowsPerBatch, max(0, totalRows − b·rowsPerBatch)). Listener
    * events post asynchronously, so the method waits (bounded) until
    * the collected counts sum to `totalRows` before returning. */
  def rateThrottledQa(spark: SparkSession, dir: String,
      chunkSize: Int, overlap: Int, question: Seq[String],
      rowsPerBatch: Int, totalRows: Int): (DataFrame, Seq[(Long, Long)]) = {
    val stride = chunkSize - overlap
    require(stride > 0, "overlap must be smaller than chunkSize")
    // materialize the static side ONCE per call: every micro-batch
    // rebuilds its broadcast, and un-checkpointed that meant a fresh
    // parquet scan + spread exchange PER BATCH (~60-90 ms × batches,
    // EntryProbe); the nDocs scalar then reads the same blocks
    val docs = graft.core.Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .stableCheckpoint()
    // group count for the modulo routing: one bounded driver scalar
    val nDocs = docs.count()
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      // source partitions are a pure parallelism knob (batch b emits
      // exactly ids [b·rowsPerBatch, (b+1)·rowsPerBatch) regardless):
      // the chunk-score map stage runs IN the source partitions after
      // the broadcast join, and 4 threads serialized it (addBatch
      // 335-1359 ms, StreamProbe) — follow the cluster, capped
      .option("numPartitions",
        math.min(spark.sparkContext.defaultParallelism, 16).toString)
      .option("startTimestamp", "0")
      .load()
    val admitted = src
      .filter(col("value") < totalRows) // the token-bucket admission gate
      .observe("graft_rate_admission", count(lit(1)).as("admitted"))
      .select(pmod(col("value"), lit(nDocs)).as("doc_id"))
    val qarr = array(question.map(lit): _*)
    val n = size(col("toks"))
    val k = when(n <= chunkSize, lit(1)).otherwise(
      (lit(1) + ceil((n - lit(chunkSize)).cast("double") / stride)).cast("int"))
    // the map-reduce pipeline's own score formula, per token window
    val best = array_max(transform(sequence(lit(1), col("n_chunks")), i =>
      graft.pipeline.ExtractiveModel.score(
        slice(col("toks"), (i - 1) * stride + 1, lit(chunkSize)), qarr)))
    val perReq = admitted.join(docs, "doc_id")
      .withColumn("toks", graft.functions.TextFunctions.regex_tokens(col("text")))
      .withColumn("token_count", n)
      .withColumn("n_chunks", k)
      .withColumn("best_score", best)
    val agg = perReq.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_requests"),
      max(col("token_count")).as("token_count"),
      max(col("n_chunks")).as("n_chunks"),
      max(col("best_score")).as("best_score"))
    val name = "graft_stream_rate_qa"
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val ckpt = graft.core.LocalDirs.scratchDir("graft_ckpt_")
    // the metrics stream: (batch_id, admitted) per QueryProgressEvent,
    // filtered to THIS query by sink name (concurrent queries coexist)
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name)
          Option(e.progress.observedMetrics.get("graft_rate_admission"))
            .foreach(row =>
              metrics.add((e.progress.batchId, row.getAs[Long]("admitted"))))
    }
    spark.streams.addListener(listener)
    try {
      val q =
        try {
          agg.writeStream.outputMode("complete").format("memory").queryName(name)
            .option("checkpointLocation", ckpt.toString).start()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
      try {
        // poll-drain: stop once every admitted request is reflected in
        // the sink (the source itself never exhausts). Tried and
        // REVERTED (r18): detecting completion through the metrics
        // listener instead of the sink looked like ~20 saved SQL
        // actions, but progress events post through the shared listener
        // bus and lag batch completion under load — and every lagged
        // tick lets the unbounded source burn another zero-admission
        // batch (~300-500 ms each). Measured on the 14-entry subset:
        // rate_metrics 2.46 -> 4.58 s, rate_qa 2.35 -> 3.04 s. The
        // sink poll sees the data the moment the batch commits.
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        var total = 0L
        while (total < totalRows && System.nanoTime() < deadline) {
          val r = spark.table(name)
            .agg(coalesce(sum(col("n_requests")), lit(0L))).collect()(0)
          total = r.getLong(0)
          // 10 ms: each sleep tick is pure drain latency on a bounded
          // run (4-5 micro-batches complete in ~1 s; a 50 ms tick was
          // charging up to ~5% of the entry's floor to the poll itself)
          if (total < totalRows) Thread.sleep(10)
        }
        require(total == totalRows,
          s"drain timed out: $total of $totalRows requests reflected")
        recordPlan(name, q)
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      // listener events post asynchronously — wait (bounded) until the
      // admitted counts account for every request before reading them
      val mDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (metrics.asScala.map(_._2).sum < totalRows &&
        System.nanoTime() < mDeadline) Thread.sleep(5)
      val perBatch = metrics.asScala.toSeq.sortBy(_._1)
      require(perBatch.map(_._2).sum == totalRows,
        s"metrics stream incomplete: $perBatch vs total $totalRows")
      (spark.table(name).stableCheckpoint(), perBatch)
    } finally {
      spark.streams.removeListener(listener)
      rmTree(ckpt)
    }
  }
}
