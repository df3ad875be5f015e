package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{AttachDistributedSequence, Filter}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.operators.{GlobalOrder, TruncationStrategies}

/** `GlobalOrder.withRowNumber` on Spark's distributed sequence equals
  * the RDD numbering it replaced ([[LegacyOracles.globalOrder]]) row for
  * row, and a numbered frame stays a Catalyst plan: building it runs no
  * job, its analyzed plan reads no external rows, a filter above it
  * keeps the unfiltered numbers, and the action leaves nothing
  * persisted. */
class GlobalOrderSpec extends SparkSpec {

  /** `(id, k, a, b)`: `k` the (nullable) key, `a`/`b` a composite key. */
  private def frame(rows: Seq[(Long, Option[Int], Int, String)], slices: Int): DataFrame = {
    val s = spark
    import s.implicits._
    spark.sparkContext.parallelize(rows, slices).toDF("id", "k", "a", "b")
  }

  private def numbered(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[Long]("rn"))

  private def assertParity(df: DataFrame, order: Column, what: String): Unit = {
    val got = GlobalOrder.withRowNumber(df, order)
    val expected = LegacyOracles.globalOrder(df, order)
    assert(got.schema == expected.schema, what)
    assert(got.schema.last == StructField("rn", LongType, nullable = false), what)
    val (g, e) = (numbered(got), numbered(expected))
    assert(g == e, what)
    assert(g.map(_.getAs[Long]("rn")) == (1L to g.length.toLong), what)
  }

  private val rnd = new scala.util.Random(7)
  private val ties = (0 until 2010).map(i =>
    (i.toLong, if (i % 11 == 0) None else Some(i % 7), rnd.nextInt(5), s"s${rnd.nextInt(3)}"))

  test("same numbers as the RDD numbering: ties, null keys, empty input, a skewed key") {
    assertParity(frame(ties, 3), col("k"), "ties and null keys")
    assertParity(frame(ties, 3), col("k").desc_nulls_last, "descending, nulls last")
    assertParity(frame(Nil, 2), col("k"), "empty input")
    // 90% of the rows hold key 0: one range partition takes them all
    val skewed = (0 until 2000).map(i =>
      (i.toLong, Some(if (i % 10 == 0) i else 0), i % 3, "x"))
    assertParity(frame(skewed, 4), col("k"), "skewed key")
  }

  test("same numbers on one input partition and with more partitions than rows") {
    assertParity(frame(ties, 1), col("k"), "single input partition")
    val three = Seq((1L, Some(2), 0, "a"), (2L, Some(1), 0, "b"), (3L, Some(2), 0, "c"))
    // 4 shuffle partitions (and 8 input slices) for 3 rows
    assertParity(frame(three, 8), col("k"), "more partitions than rows")
  }

  test("same numbers on composite struct keys") {
    assertParity(frame(ties, 3), struct(col("a"), col("b")), "struct(a, b)")
    assertParity(frame(ties, 3), struct(col("b"), col("k"), col("id")), "struct(b, k, id)")
  }

  /** The six numbered frames of the engine, by name. */
  private def numberedFrames(s: SparkSession): Seq[(String, () => DataFrame)] = {
    def docs = graft.core.Tables.load(s, sf, "documents")
    Seq(
      "judged" -> (() => Engine(threshold = Some(1)).judged(docs)),
      "truncationJudged" -> (() => Engine().truncationJudged(docs, lit(30),
        TruncationStrategies.get("start"))),
      "ta_shuffle_order" -> (() => graft.queries.AnalysisQueries.shuffleOrder(s, sf)),
      "rel_judge_batches" -> (() => graft.queries.Relational.judgeBatches(s, sf)),
      "adv_sorted_neighborhood" -> (() => graft.queries.Advanced.sortedNeighborhood(s, sf)),
      "sim_semantic_dedup" -> (() => graft.queries.SimilarityQueries.semanticDedup(s, sf)))
  }

  test("building each numbered frame runs no job and reads no external rows") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((name, build) <- numberedFrames(spark)) {
        build() // materializes the cached inputs a frame reads (k-means assignment)
        ListenerBusDrain(spark.sparkContext)
        jobs.set(0)
        val df = build()
        ListenerBusDrain(spark.sparkContext)
        assert(jobs.get == 0, s"$name: jobs at build")
        val plan = df.queryExecution.analyzed
        assert(plan.collect { case a: AttachDistributedSequence => a }.nonEmpty, s"$name\n$plan")
        // the only LogicalRDDs left are the checkpointed inputs of a cache
        assert(plan.collect { case r: LogicalRDD => r }.forall(_.rdd.isCheckpointed),
          s"$name\n$plan")
      }
      // the RDD numbering ran its jobs while the frame was built
      val docs = graft.core.Tables.load(spark, sf, "documents").select("doc_id")
      jobs.set(0)
      LegacyOracles.globalOrder(docs, col("doc_id"))
      ListenerBusDrain(spark.sparkContext)
      assert(jobs.get > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a filter over the numbered frame keeps the unfiltered numbers") {
    val all = GlobalOrder.withRowNumber(frame(ties, 3), col("k"))
    val byId = all.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rn")).toMap
    val kept = all.filter(col("a") === 2 && col("k").isNotNull)
    val plan = kept.queryExecution.optimizedPlan
    // the filter stays above the numbering, never under it
    assert(plan.collect { case a: AttachDistributedSequence => a }
      .forall(_.child.collect { case f: Filter => f }.isEmpty), plan.treeString)
    val got = kept.collect()
    assert(got.nonEmpty && got.length < byId.size)
    got.foreach(r => assert(r.getAs[Long]("rn") == byId(r.getAs[Long]("id")), r))
  }

  test("the action leaves no persisted RDD behind") {
    val frames = numberedFrames(spark).map(_._2)
    frames.foreach(build => build()) // caches the inputs a frame reads first
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(GlobalOrder.withRowNumber(frame(ties, 3), col("k")).count() == ties.length)
    frames.foreach(build => build().count())
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty)
  }
}
