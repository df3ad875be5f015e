package graft

import org.apache.spark.sql.functions._

/** Machine-checks for the [[SkewBench]] lessons — the prose findings of
  * the round-14 skew measurement, pinned as failing tests:
  *
  *  1. the salted single-join is OUTPUT-IDENTICAL to the direct join on
  *     a genuinely skewed frame (hot keys fanned over salt buckets, the
  *     dimension replicated only for hot keys);
  *  2. AQE's skew split actually ENGAGES when the thresholds fit the
  *     frame (the executed plan carries the `skew=...` join marker and
  *     at least one skewed AQEShuffleRead) — the "verify the mitigation
  *     engaged" lesson as an assertion;
  *  3. at DEFAULT thresholds on a frame whose hot partition sits under
  *     256 MB, the split silently does NOTHING — the genuinely valuable
  *     negative result, kept as a test so a future Spark default change
  *     (or a threshold fix on our side) surfaces loudly.
  *
  * The frame is built in-memory (30% of the fact rows on ONE hot key),
  * so the spec needs no /tmp scale frame; SkewBench itself measures the
  * timings on the full zipf frame and prints them as one JSON line. */
class SkewBenchSpec extends SparkSpec {

  private val NOrders = 60000
  private val NCust = 500
  private val HotKey = 7L

  // ~30% of orders on HotKey, the rest uniform — the zipf-frame shape
  // at spec scale (SkewBench.ScaleUp zipf puts 30% on one global key)
  private def frame() = {
    val orders = spark.range(NOrders.toLong).select(
      col("id").as("o_orderkey"),
      when(pmod(col("id"), lit(10)) < 3, lit(HotKey))
        .otherwise(pmod(col("id") * 2654435761L, lit(NCust.toLong)))
        .as("o_custkey"),
      (pmod(col("id") * 97L, lit(90000L)) + 10000L).cast("double")
        .cast("decimal(12,2)").as("o_totalprice"))
    val cust = spark.range(NCust.toLong).select(
      col("id").as("c_custkey"),
      concat(lit("SEG"), pmod(col("id"), lit(5))).as("c_mktsegment"))
    (orders, cust)
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2))).sortBy(_._1).toSeq

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted single-join output equals the direct join on a hot-key frame") {
    val (orders, cust) = frame()
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val direct = collectSorted(SkewBench.segAgg(
        orders.join(cust, col("o_custkey") === col("c_custkey"))))
      val salted = collectSorted(
        SkewBench.saltedJoin(orders, cust, Seq(HotKey)))
      assert(direct == salted,
        s"salted join diverged from direct:\n$direct\n$salted")
      // sanity: the frame really is skewed — the hot key carries ~30%
      val hotShare = orders.filter(col("o_custkey") === HotKey).count()
        .toDouble / NOrders
      assert(hotShare > 0.25 && hotShare < 0.35, s"hot share $hotShare")
    }
  }

  test("AQE skew split ENGAGES under tuned thresholds (plan carries the skew marker)") {
    val (orders, cust) = frame()
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // the SkewBench tuning rationale at spec scale: engage thresholds
      // sized to THIS frame's partitions, exactly what a real cluster
      // does when its skewed partitions sit under the 256 MB default
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
      val df = SkewBench.segAgg(
        orders.join(cust, col("o_custkey") === col("c_custkey")))
      val rows = collectSorted(df) // materialize: AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not engage under tuned thresholds:\n$plan")
      // and it still computes the same answer
      withConfs("spark.sql.adaptive.enabled" -> "false") {
        val direct = collectSorted(SkewBench.segAgg(
          orders.join(cust, col("o_custkey") === col("c_custkey"))))
        assert(rows == direct, "AQE skew plan changed the result")
      }
    }
  }

  test("AQE skew split silently does NOTHING at default thresholds on an under-256MB frame") {
    val (orders, cust) = frame()
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB") {
      val df = SkewBench.segAgg(
        orders.join(cust, col("o_custkey") === col("c_custkey")))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("skew=true"),
        "default-threshold AQE unexpectedly split this small frame — " +
          "the SkewBench negative result no longer holds (re-measure " +
          s"and update the PERF_NOTES skew story):\n$plan")
    }
  }
}
