package graft.queries

import graft.core.Checkpoints.StableOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Relational operator coverage (SURVEY.md §2.1–§2.3, §2.7, §2.8) expressed
  * over the driver's synthetic tables.
  *
  * Scale notes (100 TB design point):
  *  - fact tables (`lineitem`, `orders`, `events`) are only ever scanned with
  *    projections/filters that push down to parquet;
  *  - dimension joins (`customer`/`nation`/`region`) use explicit
  *    `broadcast()` hints — at 1000 executors a shuffle join on a dim table
  *    would be pure overhead;
  *  - aggregations are plain `groupBy.agg` → Spark does partial (map-side)
  *    aggregation automatically, so the shuffle carries one row per
  *    (partition × group), not per input row;
  *  - money sums run over DECIMAL(18,2) so results are exact and
  *    reproducible under any partitioning / AQE re-plan (double summation
  *    order would otherwise leak into the hash compare).
  */
object Relational extends graft.QueryModule {

  /** Exact money sum: cast to decimal (exact, order-independent), sum, cast
    * back to double for a stable cross-engine representation. */
  private def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  private def r4(c: Column): Column = round(c, 4)

  // ---------------------------------------------------------------- queries

  /** S1/P1: scan + projection + derived column; column-pruned parquet scan. */
  def scanProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars",
        length($"text").as("text_len"))
  }

  /** P3/O3: deterministic sample limit (order + limit; a bare limit is
    * nondeterministic under parallel scan, so the engine always orders). */
  def orderedLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast(DecimalType(18, 2)).cast("double").as("o_totalprice"))
      .orderBy($"o_orderkey")
      .limit(100)
  }

  /** P4/P5: predicate filter (relevance-score-gate analog); both predicates
    * push down to the parquet scan. */
  def scoreFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"value" > 50 && $"event_type" === "purchase")
      .select($"event_id", $"user_id", $"value")
  }

  /** A1-family: the classic wide aggregation (TPC-H Q1 shape) — map-side
    * partial agg, 6 aggregates in one pass. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        moneySum($"l_quantity").as("sum_qty"),
        moneySum($"l_extendedprice").as("sum_base_price"),
        r4(avg($"l_quantity")).as("avg_qty"),
        r4(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** A2/A3: accuracy-by-category analog — conditional counts + rate. */
  def accuracyByType(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when($"event_type" === "error", 1).otherwise(0)).as("n_error"),
        r4(avg(when($"event_type" === "purchase", 1.0).otherwise(0.0)))
          .as("purchase_rate"))
  }

  /** The A2/A3/A4 accuracy family AS A FAMILY — written the natural way
    * (one aggregation per dimension plus the overall row, UNION ALL'd:
    * by event type, by user cohort, global), which naively costs one
    * scan + one shuffle PER BRANCH. The engine's
    * [[graft.plans.UnionAggToGroupingSets]] optimizer rule collapses it
    * into Catalyst's own grouping-sets shape — ONE scan, one Expand,
    * one partially-aggregated shuffle (PlanAuditSpec pins no-Union +
    * single-scan); the DuckDB oracle runs the literal UNION ALL, so the
    * hash gate is the semantics-unchanged proof. Measures follow the
    * exact-integer discipline: purchase rate = integer hit sum / count,
    * one pointwise division. */
  def accuracySets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_type", ($"user_id" % 10).as("cohort"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("hit"))
    def measures = Seq(
      count(lit(1)).as("n"),
      r4(sum($"hit").cast("double") / count(lit(1))).as("purchase_rate"))
    val byType = ev.groupBy($"event_type").agg(measures.head, measures.tail: _*)
      .select($"event_type", lit(null).cast("long").as("cohort"),
        $"n", $"purchase_rate")
    val byCohort = ev.groupBy($"cohort").agg(measures.head, measures.tail: _*)
      .select(lit(null).cast("string").as("event_type"), $"cohort",
        $"n", $"purchase_rate")
    val overall = ev.agg(measures.head, measures.tail: _*)
      .select(lit(null).cast("string").as("event_type"),
        lit(null).cast("long").as("cohort"), $"n", $"purchase_rate")
    byType.union(byCohort).union(overall)
  }

  /** A4: distribution + share-of-total via a window over the aggregate —
    * one shuffle for the groupBy, the window total is a single-row exchange. */
  def judgmentDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("pct",
        r4($"n" * lit(1.0) / sum($"n").over(Window.partitionBy())))
  }

  /** A6: timing stats analog — avg + median excluding non-positive values. */
  def timingStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"value" > 0)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        r4(avg($"value")).as("avg_value"),
        r4(median($"value")).as("median_value"),
        r4(min($"value")).as("min_value"),
        r4(max($"value")).as("max_value"))
  }

  /** A12: histogram by width-bucket (corpus token-count histogram analog). */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy(floor($"n_chars" / 100).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
  }

  /** Co-located bucket join ([[graft.core.Tables.writeBucketed]] made a
    * first-class catalog entry): orders and customer are materialized
    * ONCE per (session, dir) bucketed by custkey, after which the
    * custkey equi-join satisfies both sides' distribution requirement
    * from the layout — ZERO exchange on the join key (PlanAuditSpec
    * pins it with auto-broadcast disabled; the only shuffle left is the
    * segment-sized final aggregate). This is the 100 TB amortization
    * move: one bucketing shuffle at ingest buys every subsequent
    * fact-to-fact join on that key for free, where repartition() would
    * pay the full shuffle per query. The layout write is idempotent and
    * dir-scoped, so sf0.01 verify and sf0.1 bench never share tables. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // lowercase: saveAsTable lowercases the identifier (and hence the
    // warehouse subdirectory), so a mixed-case tag would break the
    // stale-location check below. The sanitized prefix alone is not
    // injective (/d/sf0.1 and /d/sf0_1 collapse; case-differing dirs on
    // a case-sensitive FS collapse) — a hash of the RAW dir string
    // disambiguates, so distinct dirs can never reuse each other's
    // materialized layout.
    val tag = dir.toLowerCase.replaceAll("[^a-z0-9]", "_") + "_" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val ot = s"orders_bkt_$tag"
    val ct = s"customer_bkt_$tag"
    // Idempotent across JVMs, not just sessions: a previous run's
    // warehouse directory survives while the (in-memory) catalog starts
    // empty, and CTAS refuses a non-empty location — so a stale
    // location with no catalog entry is deleted before the (re)write.
    def ensure(name: String, build: => DataFrame): Unit =
      if (!spark.catalog.tableExists(name)) {
        val wh = java.net.URI.create(
          spark.conf.get("spark.sql.warehouse.dir")).getPath
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        val loc = new java.io.File(wh, name)
        if (loc.exists()) rm(loc)
        Tables.writeBucketed(build, name, "o_custkey", 8)
      }
    this.synchronized {
      ensure(ot, Tables.load(spark, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice")))
      ensure(ct, Tables.load(spark, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")))
    }
    spark.table(ot).join(spark.table(ct), Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))
  }

  /** J1: fact ⋈ broadcast dims (QA ⋈ document-cache analog). The three
    * dimension tables broadcast; only `orders` moves for the final groupBy. */
  def broadcastJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    val dims = customer
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"r_name")
    orders.join(broadcast(dims), $"o_custkey" === $"c_custkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("revenue"))
  }

  /** J1 cache-miss detection: left-anti join (reference's `not in cache`).
    * The probe-side filter is applied before the join (Catalyst pushes it),
    * so the anti-join build side stays small. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.load(spark, dir, "customer")
    val fOrders = Tables.load(spark, dir, "orders")
      .filter($"o_orderstatus" === "F")
    customer.join(fOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  /** Semi join: customers having at least one order (EXISTS). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
    customer.join(orders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_nationkey")
  }

  /** Ordered conversion funnel (view -> click -> purchase, first-touch
    * attribution, 24h step windows) in ONE shuffle: events stream
    * through a per-user stage machine in (ts, event_id) order — a later
    * stage only fires STRICTLY after the previous stage's timestamp and
    * within its window, so the result equals the anchored min-ts cascade
    * the oracle computes with three correlated aggregations. At scale
    * this is one hash partition by user with the ordering supplied by
    * the shuffle sort and O(1) state per user; no self-joins of the
    * event table, no per-user array. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val windowMicros = 24L * 3600 * 1000000
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", unix_micros($"ts").as("mus"), $"event_id",
        $"event_type")
      .as[(Long, Long, Long, String)]
    // sorted-group fold: the (ts, event_id) order rides the shuffle sort
    // (flatMapSortedGroups), so a user's history streams through the
    // stage machine with constant memory — no per-user array
    val stages = ev.groupByKey(_._1)
      .flatMapSortedGroups(col("mus"), col("event_id")) {
        (_: Long, it: Iterator[(Long, Long, Long, String)]) =>
          var stage = 0
          var lts = Long.MinValue
          it.foreach { case (_, ts, _, et) =>
            val inWindow = ts > lts && ts <= lts + windowMicros
            if (stage == 0 && et == "view") { stage = 1; lts = ts }
            else if (stage == 1 && et == "click" && inWindow) {
              stage = 2; lts = ts
            } else if (stage == 2 && et == "purchase" && inWindow) {
              stage = 3; lts = ts
            }
          }
          Iterator.single(stage)
      }
    stages.toDF("stage")
      .groupBy($"stage").agg(count(lit(1)).as("n_users"))
  }

  /** Bloom pre-join reduction: prune the fact scan through an
    * approximate-membership test on the filtered dimension's keys BEFORE
    * the exact semi join ([[graft.operators.BloomJoin]]). The Bloom pass
    * admits false positives but never false negatives, and the exact join
    * follows — so the RESULT is identical to the plain semi join (that is
    * the oracle) while at scale the shuffle only carries rows that might
    * match. Aggregated to priority-level counts + exact DECIMAL revenue. */
  def bloomPrejoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val highBal = Tables.load(spark, dir, "customer")
      .filter($"c_acctbal" > 9000).select($"c_custkey")
    val orders = Tables.load(spark, dir, "orders")
    val pruned = graft.operators.BloomJoin.filterMaybeIn(
      orders, "o_custkey", highBal, "c_custkey",
      expectedItems = 100000L, numBits = 1600000L)
    pruned.join(highBal.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double")
          .as("revenue"))
  }

  /** Top-3-per-group WITH ties (dense_rank — rank semantics coverage
    * next to the row_number argmax below): per-brand price leaders where
    * equal prices share a rank. Partitioned window (25 brands run in
    * parallel); at larger fan-in the per-partition top-k aggregate
    * ([[graft.functions]] TopKStructs) is the pre-filter. */
  def denseTopParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc)
    Tables.load(spark, dir, "part")
      .withColumn("rk", dense_rank().over(w))
      .filter($"rk" <= 3)
      .select($"p_brand", $"p_partkey", $"p_retailprice",
        $"rk".cast("int").as("rk"))
  }

  /** O4: arg-max per group via row_number window (fuzzy-join top-1 analog). */
  def windowTop1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    Tables.load(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"c_nationkey", $"c_custkey", $"c_name",
        $"c_acctbal".cast(DecimalType(18, 2)).cast("double").as("c_acctbal"))
  }

  /** O5: positional judge batching — global position over a stable key,
    * batches of 5, then per-batch aggregation (batch boundaries are data,
    * not luck). Numbering via [[graft.operators.GlobalOrder]] (range
    * partition + local offsets), not a single-partition window sort. */
  def judgeBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.GlobalOrder.withRowNumber(
        Tables.load(spark, dir, "events"), $"event_id")
      .withColumn("batch_id", floor(($"rn" - 1) / 5).cast("long"))
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("batch_size"),
        min($"event_id").as("first_event"),
        max($"event_id").as("last_event"))
  }

  /** A10: confusion-matrix shape — counts over a label pair. */
  def confusionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"))
  }

  /** Event-time bucketing (streaming windowed-agg semantics, batch form):
    * tumbling 1-hour windows keyed by event_type. */
  def timeWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(
        date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"event_type")
      .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
  }

  /** TPC-H Q3 shape: selective filters on both join sides, 3-way join,
    * revenue agg, top-10 — filters push below the joins, orders/customer
    * prune before shuffling. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1995-03-15").cast("timestamp")
    val cust = Tables.load(spark, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.load(spark, dir, "orders")
      .filter($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" > cutoff)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
        .cast(DecimalType(18, 4))).cast("double").as("revenue"))
      .select($"l_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"), $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  /** Above-average filter: rows beating their group's mean — the window
    * formulation of a correlated scalar subquery. */
  def aboveGroupAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
    Tables.load(spark, dir, "customer")
      .withColumn("nation_avg", avg($"c_acctbal").over(w))
      .filter($"c_acctbal" > $"nation_avg")
      .select($"c_custkey", $"c_nationkey",
        round($"c_acctbal", 2).as("c_acctbal"),
        round($"nation_avg", 4).as("nation_avg"))
  }

  /** Distinct counting per group (exact; the HLL variant is approximate
    * and engine-specific, so only the exact form is oracled). */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  /** CUBE over two dims — all four grouping combinations in one pass
    * (the full A2+A3+A4 collapse; rollup covers the hierarchy case). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        moneySum($"l_quantity").as("sum_qty"),
        grouping_id().cast("long").as("gid"))
  }

  /** Explicit GROUPING SETS (the general form behind cube/rollup): the
    * two one-dimension marginals plus the grand total, WITHOUT the
    * cross-dimension cells a cube would also compute — one pass, each
    * input row expanded only to its requested sets. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem")
      .createOrReplaceTempView("graft_li_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin)
  }

  /** Exact percentiles per group (A6 extended past the median): one pass,
    * three exact quantiles. Exact `percentile` needs the full value list
    * per group; at 100 TB cardinalities use `percentile_approx`
    * (t-digest) — kept exact here because the oracle must hash-match. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"value" > 0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        r4(percentile($"value", lit(0.5))).as("p50"),
        r4(percentile($"value", lit(0.9))).as("p90"),
        r4(percentile($"value", lit(0.99))).as("p99"))
  }

  /** 2D skyline of orders (maximize price AND recency) via
    * [[graft.operators.Skyline.frontier2D]] — the multi-criteria
    * "best offers" operator with the range-partitioned strict
    * suffix-max plan (no single-partition window, no O(n^2)
    * self-join; see the operator doc). Exact column comparisons only,
    * so the frontier is engine-exact. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Skyline.frontier2D(
      Tables.load(spark, dir, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderdate"),
      "o_totalprice", "o_orderdate")
      .select($"o_orderkey", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("o_orderdate"))
  }

  /** Running total per customer (cumulative window — ROWS frame over a
    * deterministic order; shuffles once on the partition key). */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_spend"))
  }

  /** KMV (k-minimum-values) distinct sketch — the REPLAYABLE member of
    * the sketch family: unlike HLL++ ([[approxDistinct]], whose sketch
    * no other engine reproduces), KMV over the engine's XXH64
    * (`hash64`, seed 0 — bit-for-bit replayed in DuckDB by
    * [[graft.core.XxHashSql]]) is deterministic END-TO-END, so the
    * sketch-based estimate itself hash-gates. Per group: keep the k=64
    * smallest distinct hash values (a bounded [[graft.functions
    * .TextFunctions.bottom_k_structs]] partial aggregate — k structs
    * per partition cross the shuffle, the same scale shape as HLL's
    * ~KB sketch), estimate D ≈ (k−1)·2⁶⁴ / h₍ₖ₎; groups with fewer
    * than k distinct hashes fall back to their exact count. Unsigned
    * hash order is obtained by flipping the sign bit (xor 2⁶³), so the
    * signed struct compare IS the unsigned compare. The exact per-group
    * distinct count rides along for the error audit. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val flip = lit(Long.MinValue)
    val two64 = lit(math.pow(2, 64)) // exact power of two in double
    val hashed = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_partkey",
        graft.functions.TextFunctions.hash64($"l_partkey".cast("string"))
          .bitwiseXOR(flip).as("hf"))
    val exact = hashed.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    val sk = hashed.select($"l_returnflag", $"hf").distinct()
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_hashes"),
        graft.functions.TextFunctions.bottom_k_structs(struct($"hf"), k)
          .as("mins"))
      .select($"l_returnflag", $"n_hashes",
        array_max(transform($"mins", m => m("hf"))).bitwiseXOR(flip).as("hk"))
    // unsigned double of the k-th smallest hash (round-6 of the final
    // estimate absorbs the long->double rounding)
    val hkD = when($"hk" < 0, $"hk".cast("double") + two64)
      .otherwise($"hk".cast("double"))
    sk.join(exact, "l_returnflag")
      .select($"l_returnflag", $"exact_parts",
        round(when($"n_hashes" <= k, $"n_hashes".cast("double"))
          .otherwise(lit((k - 1).toDouble) * two64 / hkD), 4).as("est_parts"))
  }

  /** KMV sketch MERGE — the property that makes sketches matter at
    * 100 TB: per-partition sketches combine into the whole-dataset
    * sketch without re-scanning data. Builds the three per-returnflag
    * KMV sketches of [[kmvDistinct]], merges them (union the sketch
    * sets, keep the k smallest — KMV's closure: the k smallest of the
    * per-group k-smallest ARE the global k smallest), and estimates the
    * UNION's distinct-partkey count from the merged sketch alone. The
    * DuckDB oracle computes the global sketch DIRECTLY from all hashes,
    * so the hash-gate itself proves the mergability property, not just
    * the arithmetic. Exact union count rides along for the error audit.
    * Fallback is STRICT (< k): merged-set size saturates at >= k
    * exactly when the global distinct count does, so both engines take
    * the same branch. */
  def kmvUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val flip = lit(Long.MinValue)
    val two64 = lit(math.pow(2, 64))
    val hashed = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_partkey",
        graft.functions.TextFunctions.hash64($"l_partkey".cast("string"))
          .bitwiseXOR(flip).as("hf"))
    val perFlag = hashed.select($"l_returnflag", $"hf").distinct()
      .groupBy($"l_returnflag")
      .agg(graft.functions.TextFunctions.bottom_k_structs(struct($"hf"), k)
        .as("mins"))
    val merged = perFlag
      .select(explode($"mins").as("m")).select($"m.hf".as("hf")).distinct()
      .agg(count(lit(1)).as("n_merged"),
        graft.functions.TextFunctions.bottom_k_structs(struct($"hf"), k)
          .as("mins"))
      .select($"n_merged",
        array_max(transform($"mins", m => m("hf"))).bitwiseXOR(flip).as("hk"))
    val exact = hashed.agg(countDistinct($"l_partkey").as("exact_union"))
    val hkD = when($"hk" < 0, $"hk".cast("double") + two64)
      .otherwise($"hk".cast("double"))
    merged.crossJoin(exact)
      .select($"exact_union",
        round(when($"n_merged" < k, $"n_merged".cast("double"))
          .otherwise(lit((k - 1).toDouble) * two64 / hkD), 4).as("est_union"))
  }

  /** Revenue-concentration (Lorenz) deciles — "what share of revenue do
    * the top 10/20/…% of customers carry": per-customer revenue in
    * exact DECIMAL, customers ranked into deciles by revenue band
    * (100-unit cells — the bounded-cardinality equi-depth discipline;
    * the one total order runs over price CELLS, never rows — with the
    * custkey tiebreak), then per-decile counts, exact-decimal revenue,
    * share and cumulative share. Pure integer/decimal arithmetic until
    * the final pointwise divisions. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rev = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("rev"))
    // descending revenue via the negated band (ntileBy orders ASC)
    val cells = rev.withColumn("cell", -floor($"rev" / 100))
    val total = cells.agg(count(lit(1)).as("n"))
    val dec = graft.operators.Quantiles.ntileBy(
      cells, $"cell", $"o_custkey", 10, total, "decile")
    val g = dec.groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"rev").as("rev"))
    val tot = rev.agg(sum($"rev").as("tot"))
    val wc = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // 10 rows
    g.crossJoin(broadcast(tot))
      .withColumn("cum", sum($"rev").over(wc))
      .select($"decile", $"n_customers",
        round($"rev".cast("double"), 2).as("revenue"),
        round($"rev".cast("double") / $"tot".cast("double"), 6).as("share"),
        round($"cum".cast("double") / $"tot".cast("double"), 6)
          .as("cum_share"))
  }

  /** Lag-1 / lag-7 autocorrelation of the daily order count — the
    * seasonality screen run before forecasting or anomaly thresholds
    * (a strong lag-7 says weekly structure, lag-1 says momentum). The
    * daily series is bounded by the CALENDAR, not the fact table (the
    * CUSUM discipline), so the one unpartitioned lag window is safe at
    * any scale; the Pearson r at each lag computes from six exact
    * BIGINT sums over the paired series — pointwise floats only, so
    * both statistics replay bit-for-bit. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"day")
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("x1", lag($"x", 1).over(w))
      .withColumn("x7", lag($"x", 7).over(w))
    def rFor(yCol: String): org.apache.spark.sql.Column = {
      val n = sum(when(col(yCol).isNotNull, 1L).otherwise(0L))
      val sx = sum(when(col(yCol).isNotNull, $"x").otherwise(0L))
      val sy = sum(coalesce(col(yCol), lit(0L)))
      val sxx = sum(when(col(yCol).isNotNull, $"x" * $"x").otherwise(0L))
      val syy = sum(coalesce(col(yCol) * col(yCol), lit(0L)))
      val sxy = sum(coalesce($"x" * col(yCol), lit(0L)))
      val nD = n.cast("double")
      val cov = nD * sxy.cast("double") - sx.cast("double") * sy.cast("double")
      val vx = nD * sxx.cast("double") - sx.cast("double") * sx.cast("double")
      val vy = nD * syy.cast("double") - sy.cast("double") * sy.cast("double")
      round(cov / sqrt(vx * vy), 6)
    }
    daily.agg(count(lit(1)).as("n_days"),
      rFor("x1").as("r_lag1"), rFor("x7").as("r_lag7"))
  }

  /** Two-proportion A/B z-test over user purchase conversion — the
    * experimentation primitive: users split into two arms by the parity
    * of a keyed hash (reproducible, no RNG state — the engine's
    * sampling discipline), conversion = the user has >= 1 purchase
    * event, and the pooled-variance z statistic decides significance at
    * the two-sided 5% level. Every accumulated quantity is an exact
    * BIGINT (arm sizes, conversions); the z arithmetic is pointwise on
    * one row, so the test replays bit-for-bit. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.hash64
    // outcome: a HIGH-VALUE purchase (> 200) — plain has-a-purchase
    // saturates on this corpus (every user buys; p = 1 has zero
    // variance and an undefined z)
    val users = Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" > 200.0, 1)
        .otherwise(0)).as("converted"))
      .withColumn("arm",
        pmod(hash64(concat(lit("ab:"), $"user_id".cast("string"))), lit(2))
          .cast("int"))
    val arms = users.groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum($"converted").cast("long").as("conv"))
    // left join against the literal {0, 1} arm frame so a DEGENERATE
    // split (every user hashing to one arm) still yields exactly one
    // output row with NULL stats for the empty arm — the same shape the
    // oracle's scalar subqueries produce (r10 ADVICE; a bare
    // filter+crossJoin would emit zero rows instead)
    val armsFull = Seq(0, 1).toDF("arm").join(arms, Seq("arm"), "left")
    val a = armsFull.filter($"arm" === 0)
      .select($"n".as("n_a"), $"conv".as("conv_a"))
    val b = armsFull.filter($"arm" === 1)
      .select($"n".as("n_b"), $"conv".as("conv_b"))
    val pA = $"conv_a".cast("double") / $"n_a".cast("double")
    val pB = $"conv_b".cast("double") / $"n_b".cast("double")
    val pooled = ($"conv_a" + $"conv_b").cast("double") /
      ($"n_a" + $"n_b").cast("double")
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / $"n_a".cast("double") + lit(1.0) / $"n_b".cast("double")))
    a.crossJoin(b)
      // se = 0 only when pooled conversion is 0 or 1 — degenerate data;
      // NULL (mirrored) beats an ANSI divide-by-zero abort
      .withColumn("z", when(se > 0.0, (pA - pB) / se)
        .otherwise(lit(null).cast("double")))
      .select($"n_a", $"n_b", $"conv_a", $"conv_b",
        round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
        round($"z", 6).as("z"),
        (abs($"z") > 1.96).as("significant"))
  }

  /** Day-of-week seasonal decomposition of order volume — the classical
    * seasonality audit a time-series pipeline runs before modeling:
    * per weekday, the mean daily order count and its seasonal index
    * (weekday mean / overall daily mean), plus the global seasonal
    * STRENGTH 1 − SSW/SST (share of daily-count variance explained by
    * the weekday, the ANOVA decomposition) on every row. All
    * accumulations are exact BIGINT (counts, squares); the only float
    * fold is the 7-term within-weekday sum, ordered by weekday
    * ([[graft.functions.TextFunctions.ordered_sum]] over unique keys —
    * bit-replayable); everything else is pointwise. Weekday numbering
    * pinned cross-engine: Spark dayofweek−1 == DuckDB dayofweek
    * (0 = Sunday). */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("wd", (dayofweek(to_date($"day")) - 1).cast("int"))
    val perWd = daily.groupBy($"wd")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("n_orders"),
        sum($"x" * $"x").as("sum_x2"))
    val tot = daily.agg(count(lit(1)).as("nd"), sum($"x").as("tx"),
      sum($"x" * $"x").as("tx2"))
    val ssw = perWd
      .select($"wd", ($"sum_x2".cast("double") -
        $"n_orders".cast("double") * $"n_orders".cast("double") /
          $"n_days".cast("double")).as("ssw_w"))
      .agg(graft.functions.TextFunctions.ordered_sum($"ssw_w", $"wd")
        .as("ssw"))
    val avgDaily = $"n_orders".cast("double") / $"n_days".cast("double")
    val sst = $"tx2".cast("double") -
      $"tx".cast("double") * $"tx".cast("double") / $"nd".cast("double")
    perWd.crossJoin(broadcast(tot)).crossJoin(broadcast(ssw))
      .select($"wd", $"n_days", $"n_orders",
        round(avgDaily, 4).as("avg_daily"),
        round(avgDaily / ($"tx".cast("double") / $"nd".cast("double")), 6)
          .as("seasonal_idx"),
        when(sst === 0.0, lit(null).cast("double"))
          .otherwise(round(lit(1.0) - $"ssw" / sst, 6))
          .as("seasonal_strength"))
  }

  /** Wald–Wolfowitz runs test on daily event volume per type — is the
    * above/below-mean pattern RANDOM over the calendar, or does volume
    * trend/oscillate (too few runs = regime persistence, too many =
    * alternation)? The sign of each day is decided by the EXACT integer
    * cross-multiplication x_d·n_days > Σx (no division, no float — a
    * tie classifies as below, documented), the run count is a lag
    * window over calendar-bounded day cells, and the normal
    * approximation E[R] = 2n₁n₂/n + 1, Var[R] = 2n₁n₂(2n₁n₂−n)/
    * (n²(n−1)) is pointwise from exact counts. One-arm series (all
    * days on one side) yield NULL z in both engines. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("nd"), sum($"x").as("sx"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val signed = daily.join(broadcast(tot), "event_type")
      .withColumn("s", ($"x" * $"nd" > $"sx").cast("int"))
      .withColumn("flip",
        when(lag($"s", 1).over(w).isNull, 1)
          .when(lag($"s", 1).over(w) =!= $"s", 1).otherwise(0))
    val agg = signed.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"s").as("n_above"),
        (count(lit(1)) - sum($"s")).as("n_below"),
        sum($"flip").as("runs"))
    val n1 = $"n_above".cast("double"); val n2 = $"n_below".cast("double")
    val n = $"n_days".cast("double")
    val eR = lit(2.0) * n1 * n2 / n + 1
    val varR = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n) /
      (n * n * (n - 1))
    val z = when($"n_above" > 0 && $"n_below" > 0 && $"n_days" > 1,
      ($"runs".cast("double") - eR) / sqrt(varR))
      .otherwise(lit(null).cast("double"))
    agg.select($"event_type", $"n_days", $"n_above", $"n_below", $"runs",
      round(z, 6).as("z"), (abs(z) <= 1.96).as("random"))
  }

  /** Index of dispersion (Fano factor) of daily event volume per type —
    * the Poisson-ness audit: variance/mean of the per-day counts is ≈1
    * for memoryless arrivals, >1 for bursty traffic (bot storms,
    * batched imports), <1 for throttled/metered flows. Daily counts,
    * their sums and squares are exact BIGINTs (calendar-bounded cells);
    * mean/variance/Fano are pointwise at the end; degenerate series
    * (one day, zero mean) yield NULL in both engines. */
  def dispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val agg = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sx2"))
    val nD = $"n_days".cast("double")
    val mean = $"sx".cast("double") / nD
    val variance = ($"sx2".cast("double") -
      $"sx".cast("double") * $"sx".cast("double") / nD) / (nD - 1)
    val fano = when($"n_days" > 1 && $"sx" > 0, variance / mean)
      .otherwise(lit(null).cast("double"))
    agg.select($"event_type", $"n_days",
      round(mean, 4).as("mean_daily"),
      round(when($"n_days" > 1, variance), 4).as("variance"),
      round(fano, 6).as("fano"),
      (fano > 2.0).as("overdispersed"))
  }

  /** Mann-Whitney U rank-sum test (banded) — does the urgent-priority
    * price distribution stochastically dominate the rest? The
    * nonparametric two-sample test the statistics tier was missing
    * (the A/B z-test compares proportions; this compares whole
    * distributions). Values are banded into 100-unit price cells (the
    * [[revenueConcentration]] discipline — the one ordered walk runs
    * over ~10³ CELLS, never rows), and the statistic is computed on the
    * banded ranks with the standard mid-rank tie handling and the tie-
    * corrected normal approximation. Everything accumulates as exact
    * BIGINTs in the DOUBLED domain (2·R_a per cell = c_a·(2·below+c+1);
    * ties as Σ(c³−c)), so the rank sums are order-free; z is pointwise
    * at the end. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cells = Tables.load(spark, dir, "orders")
      .select(floor($"o_totalprice" / 100).as("v"),
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("ga"))
      .groupBy($"v")
      .agg(sum($"ga").as("ca"), (count(lit(1)) - sum($"ga")).as("cb"))
      .withColumn("c", $"ca" + $"cb")
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("below", coalesce(sum($"c").over(w), lit(0L)))
    val agg = ranked.agg(
      sum($"ca").as("n_a"), sum($"cb").as("n_b"),
      sum($"ca" * (lit(2L) * $"below" + $"c" + 1)).as("r2a"),
      sum($"c" * $"c" * $"c" - $"c").as("tsum"))
    val nA = $"n_a".cast("double"); val nB = $"n_b".cast("double")
    val n = ($"n_a" + $"n_b").cast("double")
    val u2 = ($"r2a" - $"n_a" * ($"n_a" + 1)).cast("double") // 2*U_a
    val sigma = sqrt(nA * nB / 12.0 *
      (n + 1 - $"tsum".cast("double") / (n * (n - 1))))
    agg.select($"n_a", $"n_b",
      (u2 / 2).as("u_a"),
      round((u2 - nA * nB) / (lit(2.0) * sigma), 6).as("z"),
      (abs((u2 - nA * nB) / (lit(2.0) * sigma)) > 1.96).as("significant"))
  }

  /** Spearman rank correlation (banded) between line-item quantity and
    * 100-unit price bands — the monotone-association companion of the
    * Pearson [[correlation]] query (rank correlation is what survives
    * outliers and nonlinearity). Mid-ranks come from the two value-CELL
    * walks (the [[mannWhitney]] doubled-domain trick: 2·midrank =
    * 2·below + c + 1, exact BIGINT), each row joins its two broadcast
    * cell-rank tables, and ρ is Pearson over the CENTERED doubled ranks
    * u = 2r − (n+1) (zero-mean integers, |u| ≤ n): Σuv, Σu², Σv² are
    * exact BIGINTs (≤ n³ — fine to ~2×10⁶ rows; past that, lift the
    * three sums to DECIMAL(38,0)), and the single BIGINT→double
    * conversion per sum is correctly rounded in both engines, so ρ is
    * pointwise-deterministic. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rows = Tables.load(spark, dir, "lineitem")
      .select(floor($"l_quantity").as("x"),
        floor($"l_extendedprice" / 100).as("y"))
    def rankTable(c: String) = {
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      rows.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("below", coalesce(sum($"cnt").over(w), lit(0L)))
        .select(col(c),
          (lit(2L) * $"below" + $"cnt" + 1).as(s"m2$c"))
    }
    val n1 = $"n" + 1
    val joined = rows
      .join(broadcast(rankTable("x")), "x")
      .join(broadcast(rankTable("y")), "y")
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("n"))))
      .select(($"m2x" - n1).as("u"), ($"m2y" - n1).as("v"), $"n")
    joined.groupBy($"n")
      .agg(sum($"u" * $"v").as("suv"), sum($"u" * $"u").as("suu"),
        sum($"v" * $"v").as("svv"))
      .select($"n".as("n_rows"),
        round($"suv".cast("double") /
          sqrt($"suu".cast("double") * $"svv".cast("double")), 6)
          .as("spearman_rho"))
  }

  /** Kendall's τ-b (banded) between quantity and 100-unit price bands —
    * the concordance companion of [[spearman]] (τ counts agreeing pair
    * ORIENTATIONS; more robust to a few wild ranks). Concordant /
    * discordant pair counts come from the DENSE banded contingency
    * grid (distinct-x × distinct-y, dimension-sized) via 2D suffix
    * sums: two window passes — within-row Σ_{l>j}, then across rows
    * Σ_{k>i} — give each cell its "both-greater" mass N⁺⁺ (and
    * "row-greater, col-smaller" N⁺⁻), so C = Σ n·N⁺⁺ and D = Σ n·N⁺⁻
    * are exact BIGINTs (≤ n², fine to ~10⁹ rows; past that lift to
    * DECIMAL(38,0)). Tie terms T₁/T₂ and T₀ = n(n−1)/2 are exact
    * (t(t−1) is always even); τ-b = (C−D)/√((T₀−T₁)(T₀−T₂)) is
    * pointwise. Every window runs over grid CELLS, never rows. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rows = Tables.load(spark, dir, "lineitem")
      .select(floor($"l_quantity").as("x"),
        floor($"l_extendedprice" / 100).as("y"))
    val cells = rows.groupBy($"x", $"y").agg(count(lit(1)).as("n"))
    val grid = cells.select($"x").distinct()
      .crossJoin(cells.select($"y").distinct())
      .join(cells, Seq("x", "y"), "left")
      .na.fill(0L, Seq("n"))
    val wyAfter = Window.partitionBy($"x").orderBy($"y")
      .rowsBetween(1, Window.unboundedFollowing)
    val wyBefore = Window.partitionBy($"x").orderBy($"y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wxAfter = Window.partitionBy($"y").orderBy($"x")
      .rowsBetween(1, Window.unboundedFollowing)
    val suffixed = grid
      .withColumn("s_gt", coalesce(sum($"n").over(wyAfter), lit(0L)))
      .withColumn("s_lt", coalesce(sum($"n").over(wyBefore), lit(0L)))
      .withColumn("npp", coalesce(sum($"s_gt").over(wxAfter), lit(0L)))
      .withColumn("npm", coalesce(sum($"s_lt").over(wxAfter), lit(0L)))
    val pairAgg = suffixed.agg(
      sum($"n").as("nr"),
      sum($"n" * $"npp").as("conc"),
      sum($"n" * $"npm").as("disc"))
    val tx = rows.groupBy($"x").agg(count(lit(1)).as("t"))
      .agg(sum($"t" * ($"t" - 1) / 2).as("t1"))
    val ty = rows.groupBy($"y").agg(count(lit(1)).as("t"))
      .agg(sum($"t" * ($"t" - 1) / 2).as("t2"))
    val t0 = $"nr" * ($"nr" - 1) / 2
    val denom = sqrt((t0 - $"t1").cast("double") *
      (t0 - $"t2").cast("double"))
    pairAgg.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select($"nr".as("n_rows"), $"conc".as("concordant"),
        $"disc".as("discordant"),
        round(($"conc" - $"disc").cast("double") / denom, 6).as("tau_b"))
  }

  /** χ² independence test between order priority and order status —
    * the categorical-association audit (Benford's χ² is goodness-of-
    * fit; this is the R×C contingency test). Observed counts and
    * row/column/grand totals are exact BIGINTs; expected = rowT·colT/N
    * and each cell's contribution are pointwise; the χ² fold runs
    * (prio, status)-ordered over the bounded R×C grid
    * ([[graft.functions.TextFunctions.ordered_sum]]) and rides every
    * row with the degrees of freedom, the [[benford]] convention. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority".as("prio"), $"o_orderstatus".as("status"))
      .agg(count(lit(1)).as("n"))
    val rowT = obs.groupBy($"prio").agg(sum($"n").as("rt"))
    val colT = obs.groupBy($"status").agg(sum($"n").as("ct"))
    val tot = obs.agg(sum($"n").as("nn"),
      countDistinct($"prio").as("nr"), countDistinct($"status").as("nc"))
    val exp = $"rt".cast("double") * $"ct".cast("double") /
      $"nn".cast("double")
    val cellcontrib = ($"n".cast("double") - exp) *
      ($"n".cast("double") - exp) / exp
    val cells = obs
      .join(broadcast(rowT), "prio")
      .join(broadcast(colT), "status")
      .crossJoin(broadcast(tot))
      .withColumn("expected", exp)
      .withColumn("contrib", cellcontrib)
    val chi2 = cells.agg(
      graft.functions.TextFunctions.ordered_sum(
        $"contrib", $"prio", $"status").as("chi2"))
    cells.crossJoin(broadcast(chi2))
      .select($"prio", $"status", $"n",
        round($"expected", 4).as("expected"),
        round($"contrib", 6).as("contrib"),
        round($"chi2", 6).as("chi2"),
        (($"nr" - 1) * ($"nc" - 1)).as("df"),
        // Cramér's V effect size: χ² normalized by n·min(R−1, C−1)
        round(sqrt($"chi2" / ($"nn".cast("double") *
          least($"nr" - 1, $"nc" - 1).cast("double"))), 6).as("cramers_v"))
  }

  /** Benford first-digit audit over line-item prices — the classic
    * fabricated-numbers detector (fraud/anomaly screening; naturally-
    * occurring multiplicative quantities follow P(d) = log10(1+1/d)):
    * per leading digit, observed vs Benford-expected counts and the χ²
    * contribution, plus the total χ² on every row. Digit extraction is
    * ENGINE-SAFE by construction: floor the double to a BIGINT (exact
    * in both engines) and take the first character of the INTEGER's
    * string form — integers print identically everywhere, where double
    * formatting does not. The χ² fold runs over exactly 9 rows. On
    * TPC-H-ish synthetic data the test CORRECTLY rejects (uniform
    * price ranges are not Benford) — the audit detecting synthetic
    * data is the demo. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.ordered_sum
    val obs = Tables.load(spark, dir, "lineitem")
      .select(floor($"l_extendedprice").cast("long").as("v"))
      .filter($"v" >= 1)
      .select(substring($"v".cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("observed"))
    val n = obs.agg(sum($"observed").as("n"))
    val ln10 = log(lit(10.0))
    val withE = obs.crossJoin(broadcast(n))
      .withColumn("expected",
        $"n".cast("double") *
          log(lit(1.0) + lit(1.0) / $"digit".cast("double")) / ln10)
      .withColumn("contrib",
        ($"observed".cast("double") - $"expected") *
          ($"observed".cast("double") - $"expected") / $"expected")
    val chi = withE.agg(
      round(ordered_sum($"contrib", $"digit"), 6).as("chi2"))
    withE.crossJoin(broadcast(chi))
      .select($"digit", $"observed", round($"expected", 4).as("expected"),
        round($"contrib", 6).as("contrib"), $"chi2")
  }

  /** KMV set-INTERSECTION estimate (Beyer et al., SIGMOD'07) — the last
    * member of the sketch algebra next to [[kmvDistinct]] /
    * [[kmvUnion]]: from the two per-flag sketches ALONE, estimate
    * |A ∩ R| as ρ · est(A ∪ R), where ρ = the fraction of the merged
    * bottom-k present in BOTH input sketches (a uniform sample of the
    * union, so membership-in-both estimates the Jaccard). The exact
    * intersection rides along as the error audit. Unsaturated case
    * degenerates exactly: when the merged set has < k hashes both
    * sketches are complete, ρ·est = the true intersection count, and
    * both engines take the same branch. Everything after the two
    * bounded bottom-k aggregates is k-element array algebra on one row. */
  def kmvIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val flip = lit(Long.MinValue)
    val two64 = lit(math.pow(2, 64))
    // sets = the partkeys shipped in 1996 Q1 vs Q2: partially-overlapping
    // by construction (the returnflag sets both saturate the part
    // dimension — a degenerate rho = 1 gate)
    val hashed = Tables.load(spark, dir, "lineitem")
      .filter(year($"l_shipdate") === 1996 &&
        quarter($"l_shipdate").isin(1, 2))
      .select(quarter($"l_shipdate").as("q"), $"l_partkey",
        graft.functions.TextFunctions.hash64($"l_partkey".cast("string"))
          .bitwiseXOR(flip).as("hf"))
    val sk = hashed.select($"q", $"hf").distinct()
      .groupBy($"q")
      .agg(graft.functions.TextFunctions.bottom_k_structs(struct($"hf"), k)
        .as("mins"))
      .select($"q", transform($"mins", m => m("hf")).as("hs"))
    val a = sk.filter($"q" === 1).select($"hs".as("ha"))
    val b = sk.filter($"q" === 2).select($"hs".as("hb"))
    val exact = hashed.select($"q", $"l_partkey").distinct()
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("nf"))
      .filter($"nf" === 2)
      .agg(count(lit(1)).as("exact_intersection"))
    val hkD = when($"hk" < 0, $"hk".cast("double") + two64)
      .otherwise($"hk".cast("double"))
    a.crossJoin(b) // two 1-row sketch frames
      .withColumn("u", array_sort(array_union($"ha", $"hb")))
      .withColumn("n_u", size($"u").cast("long"))
      .withColumn("merged", slice($"u", 1, k))
      .withColumn("hk",
        element_at($"merged", size($"merged")).bitwiseXOR(flip))
      .withColumn("n_both", size(array_intersect($"merged",
        array_intersect($"ha", $"hb"))).cast("long"))
      .withColumn("est_union",
        when($"n_u" < k, $"n_u".cast("double"))
          .otherwise(lit((k - 1).toDouble) * two64 / hkD))
      .withColumn("denom", least($"n_u", lit(k.toLong)))
      .crossJoin(broadcast(exact))
      .select($"exact_intersection", $"n_both",
        round($"est_union", 4).as("est_union"),
        round(($"n_both".cast("double") / $"denom".cast("double")) *
          $"est_union", 4).as("est_intersection"))
  }

  /** Equi-depth (equal-height) histogram — the planner-stats companion
    * of the width-bucket [[histogram]]: 8 buckets of (near-)equal row
    * count over `l_extendedprice`, each reporting its row count and true
    * min/max price. Depth bucketing is `ntile`, which in its SQL form
    * costs a SinglePartition global row sort; here it is
    * [[graft.operators.Quantiles.ntileBy]] — the only total order runs
    * over the bounded price-CELL distribution (floor(price/100), ~10³
    * cells), with per-cell bounded windows for ties — so the row stream
    * stays distributed at any scale. The cell+rowid ordering is the
    * SPECIFIED ordering (replayed verbatim by the oracle's
    * `ntile(8) OVER (ORDER BY cell, rid)`); min/max are order-free
    * exact doubles. */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_extendedprice".as("price"),
        ($"l_orderkey" * 10 + $"l_linenumber").as("rid"))
    val total = li.agg(count(lit(1)).as("n"))
    graft.operators.Quantiles.ntileBy(li,
        floor($"price" / 100), $"rid", 8, total, "bucket")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"price").as("min_price"), max($"price").as("max_price"))
  }

  // Engine HLL parameters (shared by [[approxDistinct]] and its oracle —
  // ONE source for every constant both engines must agree on).
  private val HllB = 10                 // register-index bits
  private val HllM = 1 << HllB          // 1024 registers
  private val HllRhoBits = 32           // rho domain = low 32 hash bits
  private val HllRhoMax = HllRhoBits + 1
  // Z accumulates sum(2^(RhoMax - rho)) — exact BIGINT, < 2^44 total, so
  // the BIGINT -> DOUBLE cast is exact in BOTH engines (no hugeint
  // double-rounding hazard)
  private val HllScale = 1L << HllRhoMax
  private val HllAlpha = 0.7213 / (1 + 1.079 / HllM)
  private val HllC = HllAlpha * HllM * HllM * HllScale.toDouble
  private val HllLinThresh = 2.5 * HllM

  /** Sketch-based distinct counting — the 100 TB path for
    * [[distinctCounts]]: an ENGINE-OWNED HyperLogLog over the engine's
    * seed-0 XXH64 (`hash64` — the [[kmvDistinct]] discipline), so the
    * sketch is deterministic end-to-end and the estimate itself
    * hash-gates against a DuckDB register-level replay (unlike Spark's
    * HLL++, whose sketch no other engine reproduces; that was this
    * query's pre-r11 form and the reason it sat outside the oracle).
    *
    * Layout: register index = top [[HllB]] hash bits (m = [[HllM]]);
    * rho = 1 + trailing zeros of the LOW [[HllRhoBits]] bits (computed
    * with builtin bit ops: `bit_count((w & -w) - 1)` — codegen'd, no
    * UDF). The 32-bit rho domain keeps the harmonic sum
    * Z = Σ 2^(33−rho_j) an EXACT BIGINT (< 2^44 — under the 2^53 double
    * bound, so the one Z→double cast is exact in both engines); a
    * register saturates only as its occupancy nears 2^32, i.e. the
    * estimator stays reliable to ~10^12 distincts. Estimate =
    * alpha·m²·2^33 / Z with the standard linear-counting fallback
    * (E ≤ 2.5m and empty registers present → m·ln(m/V)); both branches
    * exercise across SFs (sf0.01 takes linear counting, sf0.1 the raw
    * estimator).
    *
    * Scale shape: the registers ARE the partial aggregate — the
    * groupBy(key, idx) max is map-side combined, so each input
    * partition contributes at most m rows per (group, metric) to the
    * shuffle regardless of row count; the classic distributed-HLL
    * merge (max per register) expressed as a plain Spark agg. */
  /** The HLL register table over `df`'s `v` string column, keyed by
    * `keys` — the mergeable sketch state of [[approxDistinct]]:
    * registers over disjoint halves MERGE by per-index MAX into the
    * direct table (the distributed-HLL law ReaggregateSpec pins, the
    * [[graft.queries.AnalysisQueries.cmsCells]] discipline). */
  private[graft] def hllRegisters(df: DataFrame,
      keys: Seq[String]): DataFrame = {
    val h = graft.functions.TextFunctions.hash64(col("v")).as("h")
    val w = col("h").bitwiseAND(lit((1L << HllRhoBits) - 1))
    val rho = when(w === lit(0L), lit(HllRhoMax))
      .otherwise(bit_count(w.bitwiseAND(-w) - 1) + 1)
    val kc = keys.map(col)
    df.select(kc :+ h: _*)
      .select(kc ++ Seq(shiftrightunsigned(col("h"), 64 - HllB).as("idx"),
        rho.as("rho")): _*)
      .groupBy(kc :+ col("idx"): _*)
      .agg(max(col("rho")).as("r"))
  }

  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val hashed = li.select($"l_returnflag",
        explode(map(
          lit("p"), $"l_partkey".cast("string"),
          lit("s"), $"l_suppkey".cast("string"))).as(Seq("metric", "v")))
    val regs = hllRegisters(hashed, Seq("l_returnflag", "metric"))
    val z = $"spow" + (lit(HllM.toLong) - $"present") * lit(HllScale)
    val nz = (lit(HllM.toLong) - $"present").as("nz")
    val eRaw = lit(HllC) / z.cast("double")
    val est = regs.groupBy($"l_returnflag", $"metric")
      .agg(count(lit(1)).as("present"),
        sum(expr(s"shiftleft(1L, $HllRhoMax - r)")).as("spow"))
      .select($"l_returnflag", $"metric", nz, eRaw.as("e_raw"))
      .select($"l_returnflag", $"metric",
        round(when($"e_raw" <= HllLinThresh && $"nz" > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / $"nz".cast("double")))
          .otherwise($"e_raw"), 4).as("est"))
    val wide = est.groupBy($"l_returnflag")
      .agg(max(when($"metric" === "p", $"est")).as("approx_parts"),
        max(when($"metric" === "s", $"est")).as("approx_supps"))
    li.groupBy($"l_returnflag").agg(count(lit(1)).as("n_rows"))
      .join(wide, "l_returnflag")
      .select($"l_returnflag", $"approx_parts", $"approx_supps", $"n_rows")
  }

  // Deterministic-sample quantile geometry: per group keep the
  // PctSampleK rows with the smallest fmix64(o_orderkey) — a seeded
  // uniform hash sample whose membership is a pure function of the
  // data, so any engine replays it. ONE literal shared with the oracle.
  private val PctSampleK = 1024

  /** Approximate percentiles (§2.7+ sketch family, with
    * [[approxDistinct]]) — ENGINE-OWNED since r12: a bottom-k-by-hash
    * uniform sample (the KMV selection discipline applied to SAMPLING
    * instead of distinct-counting) followed by exact rank selection on
    * the sample. Membership = the [[PctSampleK]] smallest
    * fmix64(o_orderkey) per group (signed-long order), so the sample —
    * and therefore every output bit — is deterministic and DuckDB
    * replays it through the fmix64 SQL ([[graft.core.XxHashSql]]), a
    * proper hash gate where the previous Spark-internal GK wrapper
    * (kept as [[approxPercentilesBuiltin]], spec-pinned for API
    * parity) was the catalog's one `no_oracle` floor.
    *
    * Scale shape: the sample IS a mergeable bounded sketch — the
    * [[graft.functions.TopKStructs]] partial aggregate keeps ≤ k
    * structs per (group, partition) and merges by re-taking the k
    * hash-smallest, so only k·partitions rows per group cross the
    * shuffle and nothing is ever fully sorted; the rank-selection
    * window runs over ≤ k sampled rows per group (the ntileBy
    * cells-not-rows discipline). Sampling error is the standard
    * order-statistic bound (~1/√k rank error, spec-pinned against the
    * exact percentiles); hash bias is none — fmix64 is a bijection, so
    * distinct order keys never collide. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val tf = graft.functions.TextFunctions
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"),
        tf.hash_family($"o_orderkey", lit(0)).as("hf"),
        $"o_totalprice".cast("double").as("v"))
    val samp = o.groupBy($"prio")
      .agg(tf.bottom_k_structs(struct($"hf", $"v"), PctSampleK).as("s"),
        count(lit(1)).as("n_rows"))
      .select($"prio", $"n_rows", explode($"s.v").as("v"))
    val ranked = samp
      .withColumn("r",
        row_number().over(Window.partitionBy($"prio").orderBy($"v")))
      .withColumn("m", count(lit(1)).over(Window.partitionBy($"prio")))
    // exact percentiles OF THE SAMPLE in ONE pass: the values at
    // ascending ranks ceil(q·m) — deterministic in VALUE even under
    // duplicate v (any tie permutation puts the same value at a given
    // sorted position). Both ranks ride the same windowed frame (two
    // independent pick-joins would aggregate the sample twice).
    ranked
      .withColumn("r50", ceil(lit(0.5) * $"m".cast("double")).cast("int"))
      .withColumn("r95", ceil(lit(0.95) * $"m".cast("double")).cast("int"))
      .filter($"r" === $"r50" || $"r" === $"r95")
      .groupBy($"prio", $"n_rows")
      .agg(round(max(when($"r" === $"r50", $"v")), 2).as("p50"),
        round(max(when($"r" === $"r95", $"v")), 2).as("p95"))
      .select($"prio".as("o_orderpriority"), $"n_rows", $"p50", $"p95")
  }

  /** API-parity wrapper over Spark's built-in GK sketch
    * (`approx_percentile`) — NOT a catalog entry: its merge state is
    * partition-order-dependent, so no other engine replays it.
    * RelationalSpec pins its rank-error bound against the exact
    * percentiles; [[approxPercentiles]] is the engine-owned, oracled
    * estimator users should reach for. */
  def approxPercentilesBuiltin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        approx_percentile($"o_totalprice", array(lit(0.5), lit(0.95)), lit(1000))
          .as("approx_p"),
        count(lit(1)).as("n_rows"))
      .select($"o_orderpriority", $"n_rows",
        round(element_at($"approx_p", 1), 2).as("p50"),
        round(element_at($"approx_p", 2), 2).as("p95"))
  }

  // Engine quantile-sketch geometry: 16 log-domain sub-buckets per
  // octave => within-bucket relative width 2^(1/16) ~ 4.4%, the
  // estimator's error bound. ONE literal shared with the oracle.
  private val QSketchScale = 16.0 / math.log(2.0)

  /** ENGINE-OWNED quantile sketch — the histogram-shaped member of the
    * quantile family ([[approxPercentiles]] is the sample-shaped one;
    * both hash-gate since r12): a log-domain histogram — bucket =
    * floor(ln(v)·[[QSketchScale]]), within-bucket (count, min, max) —
    * estimates any quantile by cumulative counts + linear interpolation
    * between the bucket's observed min/max, so no `exp` ever runs (the
    * one transcendental is `ln`, the only one proven bit-identical
    * across engines). Error ≤ the bucket's relative width (~4.4%),
    * spec-pinned against exact percentiles.
    *
    * Scale shape: the sketch IS the (priority, bucket) cell table —
    * map-side combined counts/min/max, a few hundred cells per group
    * regardless of row count; cells MERGE (add counts, min/max of
    * bounds), so per-partition sketches combine losslessly like the
    * KMV/HLL/CMS family. The cumulative window runs over bucket CELLS
    * (the ntileBy discipline), never rows. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val b = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"),
        $"o_totalprice".cast("double").as("v"))
      .withColumn("bkt", floor(log($"v") * QSketchScale).cast("long"))
    val w = Window.partitionBy($"prio").orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = b.groupBy($"prio", $"bkt")
      .agg(count(lit(1)).as("c"), min($"v").as("bmin"), max($"v").as("bmax"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("cumb", $"cum" - $"c")
    val totals = b.groupBy($"prio").agg(count(lit(1)).as("n"))
    val withN = cum.join(broadcast(totals), "prio")
    def pick(q: Double, name: String) = withN
      .withColumn("rq", ceil(lit(q) * $"n".cast("double")).cast("long"))
      .filter($"cum" >= $"rq" && $"cumb" < $"rq")
      .select($"prio", $"n",
        round($"bmin" + ($"bmax" - $"bmin") *
          (($"rq" - $"cumb" - 1).cast("double") /
            greatest($"c" - 1, lit(1L)).cast("double")), 4).as(name))
    pick(0.5, "p50_est").join(pick(0.95, "p95_est").drop("n"), "prio")
      .select($"prio".as("o_orderpriority"), $"n".as("n_rows"),
        $"p50_est", $"p95_est")
  }

  /** Format round-trip proof (the source/sink coverage entry): the
    * documents table is WRITTEN as ORC and as multiline-quoted CSV,
    * read back through Spark's native sources, and per-language
    * integrity stats (count, total chars, an md5-derived checksum sum)
    * are emitted FROM THE ORC-READ PATH with a `csv_matches` flag
    * asserting the CSV path produced identical stats. The DuckDB oracle
    * computes the same stats straight from the parquet truth — so the
    * hash gate proves both round-trips preserved every row and byte
    * (CSV quoting/escaping of embedded newlines and quotes is exactly
    * what this catches). The tiny stats frame is materialized before
    * the scratch dir is deleted; the checksum is the exact integer sum
    * of each text's first 8 md5 hex digits (≤ 5·10³·2³² — BIGINT). */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"text")
    val base = java.nio.file.Files.createTempDirectory("graft_fmt")
    def stats(df: DataFrame) = df.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"text").cast("long")).as("total_chars"),
        sum(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long"))
          .as("checksum"))
    try {
      docs.write.mode("overwrite").orc(s"$base/orc")
      docs.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(s"$base/csv")
      val orc = stats(spark.read.orc(s"$base/orc"))
      val csv = stats(spark.read
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"").schema(docs.schema).csv(s"$base/csv")
        .select($"doc_id", $"lang", $"text"))
      val out = orc.join(
          csv.toDF("lang", "c_n", "c_chars", "c_sum"), Seq("lang"), "full")
        .select($"lang", $"n_docs", $"total_chars", $"checksum",
          ($"n_docs" <=> $"c_n" && $"total_chars" <=> $"c_chars" &&
            $"checksum" <=> $"c_sum").as("csv_matches"))
        .stableCheckpoint()
      out
    } finally {
      val walk = java.nio.file.Files.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Deterministic train/val/test split (the dataset-assembly op every
    * training pipeline ends with): bucket = first byte of md5(doc_id) —
    * engine-independent, reproducible, shuffle-free (pure projection;
    * the 90/5/5 assignment never moves data). */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // lowercase fixed-width hex compares lexicographically == numerically
    // in BOTH engines: 'e6'/'f3' are the 230/243 bucket edges (~90/5/5)
    val bucket = substring(md5($"doc_id".cast("string")), 1, 2)
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        when(bucket < "e6", "train").when(bucket < "f3", "val")
          .otherwise("test").as("split"))
  }

  /** lag() window: inter-event gap per user, aggregated — the lead/lag
    * surface (session analysis building block). */
  def eventGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.load(spark, dir, "events")
      .withColumn("gap_sec",
        unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)))
      .filter($"gap_sec".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        r4(avg($"gap_sec")).as("avg_gap"),
        r4(median($"gap_sec")).as("median_gap"),
        max($"gap_sec").as("max_gap"))
  }

  /** First-order Markov transition matrix over each user's event-type
    * sequence — the behavioral-model summary (what follows what, with
    * what probability). One user-partitioned lag window (same shuffle
    * shape as [[eventGaps]]; (ts, event_id) makes the order total), then
    * an exact (prev, next) count aggregation; transition probabilities
    * divide exact BIGINTs per prev-type row, so the matrix replays
    * bit-for-bit. Per-user state never leaves its partition; the final
    * matrix is |types|^2 rows — bounded by the vocabulary, not the
    * corpus. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val pairs = Tables.load(spark, dir, "events")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy($"prev_type")
      .agg(sum($"n").as("row_total"))
    pairs.join(totals, "prev_type")
      .select($"prev_type", $"next_type", $"n",
        round($"n".cast("double") / $"row_total".cast("double"), 6).as("p"))
  }

  /** Batch multi-touch attribution — the offline companion to the
    * streaming `stream_join_attrib` entry: every purchase splits one
    * unit of conversion credit LINEARLY across the same user's
    * non-purchase touches in the preceding 24 h; credit aggregates by
    * touch type. The touch⋈conversion join is keyed on user_id with
    * the time window riding the join condition — per-user event
    * streams are bounded, so the keyed join is the scale shape. Touch
    * counts are exact integers; credit_by_type =
    * Σ_p k_p/n_p is the one float accumulation, folded in p_id order
    * (the engine's cross-engine float discipline; state is bounded by
    * the purchase dimension per type, the [[LinearModel]] block fold
    * being the escape hatch if that ever outgrows a task). */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"),
        unix_micros($"ts").as("p_us"))
    val touches = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"event_type".as("touch_type"),
        unix_micros($"ts").as("t_us"))
    val window = 24L * 3600 * 1000000
    val joined = purchases.join(touches, "user_id")
      .filter($"t_us" <= $"p_us" && $"t_us" > $"p_us" - window)
    val perPurchase = joined
      .groupBy($"p_id", $"touch_type")
      .agg(count(lit(1)).as("k"))
      .withColumn("n", sum($"k").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"p_id")))
    perPurchase
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n_purchases_touched"),
        sum($"k").as("n_touches"),
        round(graft.functions.TextFunctions.ordered_sum(
          $"k".cast("double") / $"n".cast("double"), $"p_id"), 6)
          .as("credit"))
  }

  /** Gaps-and-islands interval merge: collapse each user's event stream
    * into maximal activity intervals — consecutive events <= 300 s apart
    * merge; a longer gap opens a new interval. The island id is the
    * running count of gap-breaks (one lag + one running sum, both over
    * the SAME user-partitioned window, so one shuffle serves both), and
    * the interval is then a plain per-(user, island) aggregate with
    * partial combine. Nothing is ever globally ordered. */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.load(spark, dir, "events")
      .withColumn("gap",
        unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)))
      .withColumn("isl",
        sum(when($"gap".isNull || $"gap" > 300, 1).otherwise(0)).over(w))
      .groupBy($"user_id", $"isl")
      .agg(min($"ts").as("interval_start"), max($"ts").as("interval_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id",
        // formatted with full µs precision — the repo's cross-engine
        // timestamp-output convention (see scd2), fraction included so
        // distinct interval bounds stay distinct
        date_format($"interval_start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("interval_start"),
        date_format($"interval_end", "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("interval_end"),
        $"n_events",
        (unix_timestamp($"interval_end") - unix_timestamp($"interval_start"))
          .as("duration_sec"))
  }

  /** TPC-H Q5 shape — the deep multi-join: lineitem ⋈ orders ⋈ customer
    * ⋈ supplier ⋈ nation ⋈ region, revenue per nation for one region +
    * year, customer and supplier in the SAME nation. Only the
    * guaranteed-tiny dimensions (nation ⋈ region) carry an explicit
    * broadcast hint; customer/supplier/orders/lineitem sizes are left to
    * Catalyst + AQE, which broadcasts them at test SFs and falls back to
    * shuffle joins at cluster scale — hard-hinting those would force a
    * multi-GB broadcast at 100 TB. The same-nation predicate rides the
    * supplier join as an equi-key, not a post-filter. Revenue = exact
    * DECIMAL sum of extendedprice*(1-discount). */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val natRegion = Tables.load(spark, dir, "nation")
      .join(broadcast(Tables.load(spark, dir, "region")
        .filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = Tables.load(spark, dir, "customer")
      .join(broadcast(natRegion), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey")
    val supp = Tables.load(spark, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val ord = Tables.load(spark, dir, "orders")
      .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01")
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice".cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            $"l_discount".cast(DecimalType(18, 2)))).as("rev"))
    ord.join(cust, $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .join(supp,
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(natRegion), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"rev").cast("double").as("revenue"))
      .select($"n_name".as("nation"), round($"revenue", 4).as("revenue"))
  }

  /** Declarative data-validation report (the Deequ-style pre-training
    * gate): each constraint is one aggregate over its table — uniqueness
    * via count vs distinct count, referential integrity via a broadcast
    * anti-join count, completeness via null rate, domain checks via
    * conditional fractions. Every check is a map-side-combined
    * aggregation producing ONE row; the union of rows is the report.
    * Metrics are exact; `passed` applies each constraint's bound. */
  def constraints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val events = Tables.load(spark, dir, "events")
    val pkUnique = orders.agg(
      (count(lit(1)) - countDistinct($"o_orderkey")).cast("double").as("m"))
      .select(lit("orders_pk_unique").as("constraint"), $"m".as("metric"),
        ($"m" === 0.0).as("passed"))
    val fkIntegrity = orders.join(broadcast(customer.select($"c_custkey")),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).cast("double").as("m"))
      .select(lit("orders_fk_customer").as("constraint"), $"m".as("metric"),
        ($"m" === 0.0).as("passed"))
    val completeness = events.agg(
      (sum(when($"user_id".isNull, 1L).otherwise(0L)) /
        count(lit(1)).cast("double")).as("m"))
      .select(lit("events_user_id_complete").as("constraint"),
        round($"m", 6).as("metric"), ($"m" === 0.0).as("passed"))
    val domain = orders.agg(
      (sum(when($"o_totalprice" > 0, 1L).otherwise(0L)) /
        count(lit(1)).cast("double")).as("m"))
      .select(lit("orders_totalprice_positive").as("constraint"),
        round($"m", 6).as("metric"), ($"m" >= 1.0).as("passed"))
    val priorities = orders.agg(
      countDistinct($"o_orderpriority").cast("double").as("m"))
      .select(lit("orders_priority_cardinality").as("constraint"),
        $"m".as("metric"), ($"m" <= 5.0).as("passed"))
    pkUnique.unionAll(fkIntegrity).unionAll(completeness)
      .unionAll(domain).unionAll(priorities)
  }

  /** Cohort retention matrix: users grouped by first-activity day
    * (cohort), activity counted per (cohort_day, activity_day). The
    * cohort assignment is a per-user min — one partial-combined
    * aggregation broadcast back onto the (pre-aggregated) daily activity
    * rather than joined against raw events. */
  def cohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", to_date($"ts").as("day"))
    val firstDay = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    // distinct (user, day) BEFORE the join: the join input is bounded by
    // users x active-days, not raw events
    ev.distinct()
      .join(firstDay, "user_id")
      .groupBy($"cohort_day", $"day")
      .agg(count(lit(1)).as("n_users"))
      .select(date_format($"cohort_day", "yyyy-MM-dd").as("cohort_day"),
        date_format($"day", "yyyy-MM-dd").as("day"), $"n_users")
  }

  /** 7-day trailing moving average of daily revenue per event type — the
    * RANGE window frame (interval-bounded, not row-bounded): each day
    * averages over days [d-6, d] whether or not all 7 exist. Daily
    * totals are exact DECIMAL sums; the frame runs over the pre-
    * aggregated daily table (365ish rows per type), never raw events. */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(sum($"value".cast(DecimalType(18, 2))).as("daily_value"))
    val w = Window.partitionBy($"event_type")
      .orderBy(unix_date($"day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("trailing_avg",
        r4(avg($"daily_value".cast("double")).over(w)))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"daily_value".cast("double").as("daily_value"), $"trailing_avg")
  }

  /** Calendar gap fill + forward fill: daily order counts/revenue per
    * priority on a DENSE day grid (missing days materialized, counts 0,
    * revenue carried forward). The grid is generated from one global
    * min/max aggregate (`sequence` explode — a few hundred rows) crossed
    * with the 5 priorities, then LEFT-joined against the pre-aggregated
    * daily table: the fill window runs over |days| x |priorities| rows,
    * never raw orders, so the whole repair step is dimension-sized no
    * matter the fact-table scale. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority", to_date($"o_orderdate").as("day"),
        $"o_totalprice")
    val daily = orders.groupBy($"o_orderpriority", $"day")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).as("total"))
    val days = orders.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("day"))
    val grid = orders.select($"o_orderpriority").distinct().crossJoin(days)
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    grid.join(daily, Seq("o_orderpriority", "day"), "left")
      .withColumn("n_orders", coalesce($"n_orders", lit(0L)))
      .withColumn("filled_total",
        last($"total", ignoreNulls = true).over(w).cast("double"))
      .select($"o_orderpriority", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_orders", $"filled_total")
  }

  /** Winsorized robust statistics: per-group exact p05/p95, values
    * clipped to that band, then an exact DECIMAL mean over the clipped
    * values plus the clipped fraction. Two passes over the fact table
    * (quantiles, then clip+agg) with the tiny per-group quantile table
    * broadcast back — the standard way to de-outlier a metric without a
    * sort per row. At 100 TB swap `percentile` for `approx_percentile`
    * (the GK sketch) — the clip path is unchanged. */
  def winsorized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice")
    val bounds = li.groupBy($"l_returnflag")
      .agg(percentile($"l_extendedprice", lit(0.05)).as("p05"),
        percentile($"l_extendedprice", lit(0.95)).as("p95"))
    val clipped = least(greatest($"l_extendedprice", $"p05"), $"p95")
    li.join(broadcast(bounds), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        r4(min($"p05")).as("p05"),
        r4(min($"p95")).as("p95"),
        r4(sum(clipped.cast(DecimalType(18, 2))).cast("double")
          / count(lit(1))).as("wins_mean"),
        r4(avg(when($"l_extendedprice" < $"p05", 1.0)
          .when($"l_extendedprice" > $"p95", 1.0)
          .otherwise(0.0))).as("clipped_frac"))
  }

  /** SCD2 history build (gaps-and-islands): collapse each user's event
    * stream into contiguous same-type segments with [valid_from,
    * valid_to) ranges — the slowly-changing-dimension shape that turns an
    * event log into a point-in-time joinable state table. One shuffle
    * (user_id); both window passes share the same partitioning, so
    * Catalyst plans a single Exchange and sorts once. */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Of(Tables.load(spark, dir, "events"))

  /** Point-in-time-correct dimension lookup (the feature-store join that
    * prevents label leakage): each purchase event is joined to the SCD2
    * status segment PREVAILING at its timestamp — the segment with the
    * greatest valid_from <= ts, never a later one. Composed from the
    * engine's own operators: [[scd2Of]]'s segment table (micro-exact
    * valid_from, with a per-user `seg_rank` making same-instant segments
    * a total order) flows into [[graft.operators.AsOfJoin.backward]],
    * so the lookup is the O(|L|+|R|) merge formulation — one
    * hash-partition-by-user + per-partition sort, zero row expansion —
    * not an interval join that would expand purchases x segments before
    * an argmax. */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame =
    scd2LookupOf(Tables.load(spark, dir, "events"))

  /** Core of [[scd2Lookup]] over any (user_id, ts, event_id, event_type)
    * DataFrame — separated so Scd2Spec can drive it with synthetic
    * collision-heavy input (the [[scd2Of]] convention). */
  def scd2LookupOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val wSeg = Window.partitionBy($"user_id")
      .orderBy($"valid_from", $"status", $"grp")
    val dim = scd2Segments(ev)
      .withColumn("seg_rank", row_number().over(wSeg))
      .select($"user_id", $"valid_from".as("ts"), $"status", $"seg_rank")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    graft.operators.AsOfJoin.backward(purchases, dim,
        key = "user_id", ts = "ts", tiebreak = "seg_rank",
        rightPrefix = "s_")
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts"),
        $"s_status".as("status_at_event"),
        date_format($"s_ts", "yyyy-MM-dd HH:mm:ss").as("status_since"))
  }

  /** Core of [[scd2]] over any (user_id, ts, event_id, event_type)
    * DataFrame — separated so Scd2Spec can drive it with synthetic
    * collision-heavy input. */
  def scd2Of(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    // (valid_from, event_type/status, grp) is a TOTAL order: same-ts
    // events of different types tie on valid_from, and two same-type
    // segments of one user can even tie on both — grp (identical
    // arithmetic in both engines) breaks the remaining tie
    val byUserFrom = Window.partitionBy($"user_id")
      .orderBy($"valid_from", $"status", $"grp")
    scd2Segments(events)
      .withColumn("valid_to", lead($"valid_from", 1).over(byUserFrom))
      .select($"user_id", $"status",
        date_format($"valid_from", "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format($"valid_to", "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        $"n_events")
  }

  /** SCD2 segment table with micro-exact timestamps:
    * (user_id, status, grp, valid_from, n_events) — the shared core of
    * [[scd2Of]] (which formats + attaches valid_to) and [[scd2Lookup]]
    * (which as-of joins against it). */
  private[queries] def scd2Segments(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val byUserType = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("grp",
        row_number().over(byUser) - row_number().over(byUserType))
      .groupBy($"user_id", $"event_type", $"grp")
      .agg(min($"ts").as("valid_from"), count(lit(1)).as("n_events"))
      .select($"user_id", $"event_type".as("status"), $"grp",
        $"valid_from", $"n_events")
  }

  /** Z-score outlier detection: per-type mean/stddev from EXACT decimal
    * moments (sum, sum of squares), so the flagged set is identical
    * under any partitioning; rows with |z| > 3 survive. The moment
    * aggregation is one map-side-combined pass; the per-row z pass
    * broadcasts the 5-row stats table. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val stats = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).as("s"),
        sum(($"value" * $"value").cast(DecimalType(28, 8))).as("sq"))
      // n >= 2 first: an n=1 group is 0/0 (NaN), whose ordering DuckDB
      // and Spark disagree on — the guard is structural, not
      // data-dependent, and mirrored in the oracle
      .filter($"n" >= 2)
      .select($"event_type",
        ($"s".cast("double") / $"n").as("mean"),
        sqrt(($"sq".cast("double") - $"s".cast("double")
          * $"s".cast("double") / $"n") / ($"n" - lit(1))).as("std"))
    ev.join(broadcast(stats), "event_type")
      // std > 0 guard: a degenerate (constant) group would divide by
      // zero, where Spark yields NULL but DuckDB yields inf — opposite
      // filter outcomes. Degenerate groups are excluded by contract.
      .filter($"std" > 0)
      .withColumn("z", ($"value" - $"mean") / $"std")
      .filter(abs($"z") > 3.0)
      .select($"event_id", $"event_type", $"value", r4($"z").as("z"))
  }

  /** MAD-based robust outliers (the median/MAD complement to the
    * mean/stddev z-score in [[outliers]]): flag rows with
    * |x - median| / MAD > 3.5 (the classic Iglewicz-Hoaglin cut uses
    * 0.6745·dev/MAD > 3.5; folding the constant keeps the arithmetic
    * identical in both engines). Exact medians per group (swap for
    * approx_percentile at 100 TB); the 5-row stats table broadcasts. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select($"event_id", $"event_type", $"value", $"med",
        abs($"value" - $"med").as("adev"))
    val mad = dev.groupBy($"event_type")
      .agg(percentile($"adev", lit(0.5)).as("mad"), count(lit(1)).as("n"))
    dev.join(broadcast(mad), "event_type")
      // n >= 2 + mad > 0 guards: structural exclusion of degenerate
      // groups (same NULL-vs-inf divergence as [[outliers]])
      .filter($"n" >= 2 && $"mad" > 0)
      .withColumn("score", ($"adev" / $"mad") * lit(0.6745))
      .filter($"score" > 3.5)
      .select($"event_id", $"event_type", $"value", r4($"score").as("score"))
  }

  /** Pearson correlation from EXACT decimal co-moments (n, Σx, Σy, Σxy,
    * Σx², Σy²) rather than the built-in `corr` — the builtin's merge-based
    * co-moment accumulation is float-order-dependent under partitioning,
    * exact moments make the result reproducible bit-for-bit AND
    * oracle-checkable. One map-side-combined pass; the closed form runs
    * on six scalars per group. */
  def correlation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = $"l_quantity"
    val y = $"l_extendedprice"
    val m = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 2))).cast("double").as("sx"),
        sum(y.cast(DecimalType(18, 2))).cast("double").as("sy"),
        sum((x * y).cast(DecimalType(28, 4))).cast("double").as("sxy"),
        sum((x * x).cast(DecimalType(28, 4))).cast("double").as("sxx"),
        sum((y * y).cast(DecimalType(38, 4))).cast("double").as("syy"))
    val nd = $"n".cast("double")
    m.select($"l_returnflag", $"n",
      round((nd * $"sxy" - $"sx" * $"sy")
        / (sqrt(nd * $"sxx" - $"sx" * $"sx")
          * sqrt(nd * $"syy" - $"sy" * $"sy")), 6).as("r"))
  }

  /** Wide->long reshape (unpivot/melt, the §2.7 inverse of pivot):
    * status counts pivoted wide per priority, melted back to
    * (priority, status, n) rows. Both reshapes run on the
    * dimension-sized aggregate, never the fact table. */
  def unpivotCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P")).agg(count(lit(1)))
      .na.fill(0L)
    wide.unpivot(Array(col("o_orderpriority")),
      Array(col("F"), col("O"), col("P")), "status", "n")
  }

  /** Full outer join (the one join type not yet on the surface):
    * high-balance customers reconciled against the BUILDING segment,
    * with membership flags — the "compare two populations" report. */
  def fullOuterSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.load(spark, dir, "customer")
    val rich = cust.filter($"c_acctbal" > 9000)
      .select($"c_custkey", $"c_acctbal")
    val building = cust.filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("k2"))
    rich.join(building, $"c_custkey" === $"k2", "full_outer")
      .select(coalesce($"c_custkey", $"k2").as("custkey"),
        $"c_custkey".isNotNull.as("is_rich"),
        $"k2".isNotNull.as("is_building"))
  }

  /** Edit-distance similarity join: near-identical part names within a
    * p_size block (`levenshtein` is codegen'd in both engines and the
    * integer distance is engine-independent — no float discipline
    * needed).
    *
    * Blocking is partition-signature based (the PassJoin scheme, Li et
    * al. VLDB'12), NOT the raw p_size self-join: a p_size block grows
    * linearly with the table, so its candidate pairs grow
    * quadratically — a scale-killer at the 100 TB design point. Here
    * every indexed name of length `ls` is split into τ+1 = 3 contiguous
    * segments (even-split rule); a pair at edit distance ≤ τ = 2 must,
    * by pigeonhole, agree EXACTLY on at least one whole segment (at
    * most τ of the 3 segments can be touched by τ edits), and the
    * untouched segment's start position in the other string is shifted
    * by at most τ (each preceding edit shifts it by ≤ 1). So joining on
    * `(p_size, ls, segment_index, segment_text)` — the probe side
    * enumerating only the FEASIBLE (length delta, shift) combinations —
    * is EXACT for the ≤ 2 threshold and turns the block key from a
    * ~50-value size code into a high-selectivity text signature. Same
    * pigeonhole discipline as the pHash Hamming family
    * ([[graft.operators.Multimodal]]).
    *
    * Feasibility (the shift-window tightening of Li et al. §4): for an
    * indexed length ls = l + dl and a match shifted by sh, the edits
    * BEFORE the untouched segment must produce net shift sh (cost ≥
    * |sh|) and the edits AFTER it must absorb the remaining length
    * delta (cost ≥ |dl + sh|), so |sh| + |dl + sh| ≤ τ. That cuts the
    * enumeration from 5·3·5 = 75 to 13·3 = 39 signatures per probe row
    * — roughly halving the pre-shuffle row amplification, at identical
    * recall (the constraint is implied by any witness edit script). The
    * banded-DP verification (`levenshtein(a, b, 2)`) runs BEFORE the
    * pair dedup, so the dedup exchange carries only true matches, never
    * the candidate stream's name payloads — the "text never shuffles
    * more than it must" discipline PlanAuditSpec pins elsewhere.
    *
    * Names shorter than 9 chars could have an empty segment (pigeonhole
    * breaks if the untouched segment is empty), so they take a separate
    * exact branch keyed on `(p_size, exact length band)` — block size
    * bounded by the short-name population per (size, length) cell, and
    * empty at TPC-H scale (min p_name ≈ 15 chars). Exactness of BOTH
    * branches (incl. the l ≈ 9 boundary and cross-branch pairs) is
    * fuzz-pinned against a naive cross-join oracle in
    * EditDistanceFuzzSpec; the candidate bound in PlanAuditSpec. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame =
    // loadSpread, not load (r18): part is a single row group → a
    // one-partition scan, and the signature enumeration + exchange
    // write above it ran as a 1.2 s single-task stage at sf0.1
    // (EntryProbe) — the exact under-parallelized-scan case loadSpread
    // exists for (no-op at cluster scale where scans arrive as splits).
    editDistancePairsOver(Tables.loadSpread(spark, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_size")))

  /** Probe-side signature enumeration for [[editDistancePairsOver]],
    * exposed for the PlanAuditSpec candidate-amplification bound: one
    * row per (probe row, signature), ≤ 39 after the kernel's
    * first-occurrence dedup. The enumeration is the fused
    * whole-stage-codegen kernel [[graft.operators.EditKernels]] (r18);
    * the replaced higher-order-function nest (CodegenFallback, ~60 µs
    * interpreted per row) is documented there, and
    * EditDistanceFuzzSpec's parity test pins kernel == legacy
    * expression (`LegacyOracles.legacyProbeSigsSql` in the test tree)
    * row-for-row. */
  private[graft] def editProbe(long: DataFrame): DataFrame =
    long.select(col("p_partkey").as("part_b"),
        col("p_name").as("name_b"), col("p_size"), col("l"),
        explode(graft.operators.EditKernels.probeSignaturesCol(
          col("p_name"), col("l"))).as("sg"))
      .select(col("part_b"), col("name_b"), col("p_size"),
        col("sg.ls").as("ls"), col("sg.i").as("i"), col("sg.seg").as("seg"))

  /** [[editDistancePairs]] over an explicit `(p_partkey, p_name,
    * p_size)` frame — the testable core (EditDistanceFuzzSpec drives it
    * with adversarial synthetic names that TPC-H data never exercises:
    * short names, the l = 9 boundary, segment-straddling edits). */
  private[graft] def editDistancePairsOver(parts: DataFrame): DataFrame = {
    val p = parts.withColumn("l", length(col("p_name")))
    val long = p.filter(col("l") >= 9)
    // index side: the 3 even-split segments of each name
    val idx = long.select(col("p_partkey").as("part_a"),
        col("p_name").as("name_a"), col("p_size"), col("l").as("ls"),
        explode(graft.operators.EditKernels.segmentsCol(
          col("p_name"), col("l"))).as("sg"))
      .select(col("part_a"), col("name_a"), col("p_size"), col("ls"),
        col("sg.i").as("i"), col("sg.seg").as("seg"))
    // both orientations of a qualifying pair are guaranteed a match, so
    // keeping only (indexed key < probe key) loses nothing. The banded
    // DP (O(n·k), early exit, -1 beyond the bound) runs per CANDIDATE —
    // a true pair can be verified up to 3× (once per agreeing slot),
    // but the dedup exchange then carries only verified matches instead
    // of every candidate's name payload: ~3× a cheap kernel for a
    // shuffle that shrinks by the candidate:match ratio.
    //
    // Join regime is PINNED to a shuffled hash join building the 3×
    // index side — a measured decision, not a default. Left to itself
    // the planner broadcasts the 39×-exploded PROBE side at every
    // scale, because its static estimate keeps the COMPRESSED file
    // size through the Generate (7 MB estimate for a build that
    // materializes GiBs): at the 100× frame that build is 10.7 GiB,
    // over Spark's 8 GiB broadcast hard limit — a hard FAILURE, not a
    // slowdown. And the shuffled regime is also simply faster at every
    // measured point (sf0.1: 2.0 vs 2.5 s; 10×: 6.4 vs 7.1; 30×: 26.0
    // vs 42.5): both exchanges carry only what they must (3× and 39×
    // signature rows), the per-partition build is the SMALL side
    // (index bytes / shuffle partitions per task), and nothing is
    // n-proportional on a single node. Broadcasting the small index
    // side instead was measured too (10×: 10.8 s) — worse, because the
    // hash is then probed 39·n times instead of 3·n.
    val longPairs = idx.hint("shuffle_hash")
      .join(editProbe(long), Seq("p_size", "ls", "i", "seg"))
      .filter(col("part_a") < col("part_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .select(col("part_a"), col("part_b"), col("name_a"), col("name_b"),
        col("dist"))
      .dropDuplicates("part_a", "part_b")
    // short-name branch: exact length-band block (probe explodes its
    // length into the ±2 band, clamped to the short side's 0..8 range —
    // unclamped, values outside it could never join; 0 stays IN the
    // band so zero-length names still pair, the generic operator's
    // contract even though p_name is never empty on TPC-H)
    val shortA = p.filter(col("l") < 9).select(col("p_partkey").as("part_a"),
      col("p_name").as("name_a"), col("p_size"), col("l").as("lb"))
    val shortB = p.filter(col("l") < 9 + 2).select(
        col("p_partkey").as("part_b"), col("p_name").as("name_b"),
        col("p_size"),
        explode(expr("sequence(greatest(l - 2, 0), least(l + 2, 8))"))
          .as("lb"))
    // same pin for the short band (un-exploded shortA builds, the ≤5×
    // length-band explode streams): empty at TPC-H scale, but on a
    // short-name-heavy corpus it is n-proportional — the planner would
    // broadcast it off the same compressed-size misestimate
    val shortPairs = shortA.hint("shuffle_hash")
      .join(shortB, Seq("p_size", "lb"))
      .filter(col("part_a") =!= col("part_b"))
      .select(least(col("part_a"), col("part_b")).as("part_a"),
        greatest(col("part_a"), col("part_b")).as("part_b"),
        when(col("part_a") < col("part_b"), col("name_a"))
          .otherwise(col("name_b")).as("name_a"),
        when(col("part_a") < col("part_b"), col("name_b"))
          .otherwise(col("name_a")).as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .dropDuplicates("part_a", "part_b")
    longPairs.unionByName(shortPairs)
      .select(col("part_a"), col("part_b"), col("name_a"), col("name_b"),
        col("dist"))
  }

  /** Set operations: purchasers EXCEPT error-affected, INTERSECT of
    * clickers and viewers — one summary row (EXCEPT/INTERSECT are
    * hash-dedup shuffles on the key, same cost model as groupBy). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    def users(t: String) = ev.filter($"event_type" === t).select($"user_id")
    // one lazy plan (single action), not three eager driver-side counts
    users("purchase").except(users("error"))
      .agg(count(lit(1)).as("purchasers_no_errors"))
      .crossJoin(users("click").intersect(users("view"))
        .agg(count(lit(1)).as("click_and_view")))
      .crossJoin(users("purchase").union(users("error")).distinct()
        .agg(count(lit(1)).as("purchase_or_error")))
  }

  /** Pivot: per-cohort event-type counts as columns (A2's
    * accuracy-by-category, pivoted wide; explicit value list keeps the
    * schema static — required for one-pass pivot at scale). */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(($"user_id" % 10).as("cohort"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // pivot leaves empty cells NULL; the relational form (FILTERed
      // counts) yields 0 — normalize to the relational semantics
      .na.fill(0L)
  }

  private val SnapCut1 = "2024-01-11 00:00:00"
  private val SnapCut2 = "2024-01-21 00:00:00"

  /** CDC-shaped snapshot diff: per user, the LATEST event state
    * (event_type, value; argmax by (ts, event_id)) inside two adjacent
    * activity windows (< [[SnapCut1]] vs [[SnapCut1]]..[[SnapCut2]]),
    * full-outer-joined on the key and classified the way a
    * change-data-capture compare classifies table versions — `insert`
    * (key only in the newer window), `delete` (only in the older),
    * `update` (state differs), `same`. The "what changed between the
    * last two crawl snapshots" primitive of an incremental pipeline.
    *
    * Scale shape: each side is ONE map-side-combinable `max(struct)`
    * argmax (the dedup_cluster_best discipline — no per-user window or
    * sort), and the diff is a single key-partitioned full outer join.
    * The struct compares (ts, event_id, ...) and event_id is unique, so
    * the trailing payload fields never decide an ordering. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def stateIn(lo: Option[String], hi: String): DataFrame =
      Tables.load(spark, dir, "events")
        .filter(lo.map(v => $"ts" >= lit(v).cast("timestamp"))
          .getOrElse(lit(true)) && $"ts" < lit(hi).cast("timestamp"))
        .groupBy($"user_id")
        .agg(max(struct($"ts", $"event_id", $"event_type", $"value"))
          .as("s"))
        .select($"user_id", $"s.event_type".as("etype"),
          round($"s.value", 4).as("value"))
    val a = stateIn(None, SnapCut1).toDF("user_id", "a_type", "a_value")
    val b = stateIn(Some(SnapCut1), SnapCut2)
      .toDF("user_id", "b_type", "b_value")
    a.join(b, Seq("user_id"), "full_outer")
      .select($"user_id",
        when($"a_type".isNull, lit("insert"))
          .when($"b_type".isNull, lit("delete"))
          .when($"a_type" === $"b_type" && $"a_value" === $"b_value",
            lit("same"))
          .otherwise(lit("update")).as("change"),
        $"a_type", $"a_value", $"b_type", $"b_value")
  }

  /** Per-user EWMA anomaly fold (alpha = 0.2): one ordered pass over
    * each user's value stream tracking the exponential moving average
    * and mean absolute deviation, counting points where
    * `|x - ewma| > 3 * ewmad` after a 5-event warmup — the streaming-
    * style drift/anomaly monitor run as a batch audit. Recursive state
    * that no built-in window expresses (lag/avg can't carry a decayed
    * accumulator), so the state rides through `functions.aggregate` — a
    * codegen'd higher-order fold over the (ts, event_id)-sorted value
    * array, NOT a UDF and NOT a driver loop.
    *
    * Scale shape: one user-keyed shuffle; per-user state is the event
    * list (bounded by per-user activity — ~70 events/user in the
    * synthetic stream; a production variant would fold per
    * session/day). Double arithmetic folds in one fixed order, so the
    * DuckDB replay (a recursive CTE stepping the same state in the same
    * order — see the oracle's note on why not `list_reduce`) is
    * bit-identical. */
  def ewmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val xs = transform(
      array_sort(collect_list(struct($"ts", $"event_id", $"value"))),
      s => s.getField("value"))
    val init = struct(lit(0.0).as("ewma"), lit(0.0).as("ewmad"),
      lit(0L).as("i"), lit(0L).as("anom"))
    val al = lit(0.2)
    val st = aggregate(xs, init, (a, x) => {
      val first = a.getField("i") === 0L
      val dev = abs(x - a.getField("ewma"))
      struct(
        when(first, x)
          .otherwise(al * x + (lit(1.0) - al) * a.getField("ewma"))
          .as("ewma"),
        when(first, lit(0.0))
          .otherwise(al * dev + (lit(1.0) - al) * a.getField("ewmad"))
          .as("ewmad"),
        (a.getField("i") + 1L).as("i"),
        (a.getField("anom") +
          when(a.getField("i") >= 5L && dev > lit(3.0) * a.getField("ewmad"),
            1L).otherwise(0L)).as("anom"))
    })
    Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(st.as("st"), count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events",
        round($"st.ewma", 6).as("ewma"),
        round($"st.ewmad", 6).as("ewmad"),
        $"st.anom".as("n_anomalies"))
  }

  /** Key-skew report over the events stream — the operational audit a
    * pipeline runs BEFORE choosing a partitioning/salting strategy:
    * key and row counts, the heaviest key's share, the top-10 share,
    * and the exact Gini coefficient of the per-key load distribution
    * (0 = uniform, ->1 = one hot key). Skew decisions (AQE skew join,
    * salting, bucket count) should be driven by this, not guessed.
    *
    * Scale shape: per-key counts are one map-side-combined aggregate;
    * the Gini reduces over COUNT-OF-COUNT cells (bounded by distinct
    * load values, the Quantiles discipline — never a window over keys):
    * keys sharing a load value occupy a contiguous rank range, so
    * sum(rank*load) folds per cell with exact integer arithmetic
    * ((a+b)(b-a+1) div 2 — always even). Top-10 via the partial-top-k
    * aggregate; a boundary tie never changes the top-10 SUM, so the
    * report is tie-insensitive. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnts = Tables.load(spark, dir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
    val cells = cnts.groupBy($"cnt").agg(count(lit(1)).as("f"))
    val w = Window.orderBy($"cnt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cumf", sum($"f").over(w))
      .withColumn("s_cell",
        expr("cnt * (((cumf - f + 1) + cumf) * (cumf - (cumf - f + 1) + 1) div 2)"))
    val base = ranked.agg(
      sum($"f").as("n_keys"), sum($"cnt" * $"f").as("n_rows"),
      max($"cnt").as("max_cnt"), sum($"s_cell").as("s"))
    val top10 = cnts
      .agg(graft.functions.TextFunctions.top_k_structs(
        struct($"cnt", (-$"user_id").as("neg")), 10).as("t"))
      .select(aggregate(transform($"t", s => s.getField("cnt")),
        lit(0L), (a, x) => a + x).as("top10"))
    base.crossJoin(top10).select(
      $"n_keys", $"n_rows", $"max_cnt",
      round($"max_cnt" * lit(1.0) / $"n_rows", 6).as("top1_share"),
      round($"top10" * lit(1.0) / $"n_rows", 6).as("top10_share"),
      round(lit(2.0) * $"s" / $"n_keys" / $"n_rows"
        - ($"n_keys" + lit(1.0)) / $"n_keys", 6).as("gini"))
  }

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_snapshot_diff" -> snapshotDiff,
    "rel_ewma" -> ewmaAnomaly,
    "rel_skew_report" -> skewReport,
    "rel_event_gaps" -> eventGaps,
    "rel_event_transitions" -> eventTransitions,
    "rel_attribution" -> attribution,
    "rel_interval_merge" -> intervalMerge,
    "rel_set_ops" -> setOps,
    "rel_pivot" -> pivotCounts,
    "rel_approx_distinct" -> approxDistinct,
    "rel_kmv_distinct" -> kmvDistinct,
    "rel_kmv_union" -> kmvUnion,
    "rel_kmv_intersect" -> kmvIntersect,
    "rel_benford" -> benford,
    "rel_mann_whitney" -> mannWhitney,
    "rel_spearman" -> spearman,
    "rel_kendall_tau" -> kendallTau,
    "rel_dispersion" -> dispersion,
    "rel_runs_test" -> runsTest,
    "rel_chi2_independence" -> chi2Independence,
    "rel_seasonality" -> seasonality,
    "rel_ab_test" -> abTest,
    "rel_autocorr" -> autocorr,
    "rel_revenue_concentration" -> revenueConcentration,
    "rel_equidepth_hist" -> equidepthHist,
    "rel_approx_percentiles" -> approxPercentiles,
    "rel_quantile_sketch" -> quantileSketch,
    "rel_dataset_split" -> datasetSplit,
    "rel_format_roundtrip" -> formatRoundtrip,
    "rel_cube_agg" -> cubeAgg,
    "rel_percentiles" -> percentiles,
    "rel_running_total" -> runningTotal,
    "rel_skyline" -> skyline,
    "rel_scan_project" -> scanProject,
    "rel_ordered_limit" -> orderedLimit,
    "rel_score_filter" -> scoreFilter,
    "rel_q1_agg" -> q1Agg,
    "rel_accuracy_by_type" -> accuracyByType,
    "rel_accuracy_sets" -> accuracySets,
    "rel_judgment_distribution" -> judgmentDistribution,
    "rel_timing_stats" -> timingStats,
    "rel_histogram" -> histogram,
    "rel_broadcast_join_agg" -> broadcastJoinAgg,
    "rel_bucketed_join" -> bucketedJoin,
    "rel_anti_join" -> antiJoin,
    "rel_semi_join" -> semiJoin,
    "rel_bloom_prejoin" -> bloomPrejoin,
    "rel_funnel" -> funnel,
    "rel_cohorts" -> cohorts,
    "rel_moving_avg" -> movingAvg,
    "rel_gap_fill" -> gapFill,
    "rel_winsorized" -> winsorized,
    "rel_scd2" -> scd2,
    "rel_scd2_lookup" -> scd2Lookup,
    "rel_outliers" -> outliers,
    "rel_dense_top" -> denseTopParts,
    "rel_unpivot" -> unpivotCounts,
    "rel_full_outer" -> fullOuterSegments,
    "rel_edit_pairs" -> editDistancePairs,
    "rel_correlation" -> correlation,
    "rel_mad_outliers" -> madOutliers,
    "rel_grouping_sets" -> groupingSets,
    "rel_constraints" -> constraints,
    "rel_local_supplier_volume" -> localSupplierVolume,
    "rel_window_top1" -> windowTop1,
    "rel_judge_batches" -> judgeBatches,
    "rel_confusion_matrix" -> confusionMatrix,
    "rel_time_window_agg" -> timeWindowAgg,
    "rel_shipping_priority" -> shippingPriority,
    "rel_above_group_avg" -> aboveGroupAvg,
    "rel_distinct_counts" -> distinctCounts,
    "rel_zorder_key" -> zorderKey,
    "rel_hilbert_key" -> hilbertKey,
  )

  /** Morton key per event over (user bucket, value bucket) — the
    * write-side layout key of [[graft.operators.ZOrder]]; fully
    * deterministic bit arithmetic, so the whole dilation is
    * oracle-checked (LayoutSpec holds the locality contract the key
    * exists for). */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id",
        pmod($"user_id", lit(1024L)).as("xb"),
        pmod(floor($"value").cast("long"), lit(1024L)).as("yb"))
      .select($"event_id", $"xb", $"yb",
        graft.operators.ZOrder.zorder2($"xb", $"yb").as("zkey"))
  }

  /** Hilbert-curve layout key over the same 1024x1024 bucket grid as
    * [[zorderKey]] — the tighter-locality space-filling curve (every
    * consecutive index pair is grid-adjacent, so key ranges are connected
    * regions and min-max pruning boxes beat Morton's quadrant jumps).
    * Pure integer kernel ([[graft.operators.ZOrder.xy2d]]), codegen'd,
    * replayed in DuckDB as a struct fold. */
  def hilbertKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id",
        pmod($"user_id", lit(1024L)).as("xb"),
        pmod(floor($"value").cast("long"), lit(1024L)).as("yb"))
      .select($"event_id", $"xb", $"yb",
        graft.operators.ZOrder.hilbert2(10, $"xb", $"yb").as("hkey"))
  }

  /** DuckDB replay of the EWMA/EWMAD state (shared by `rel_ewma` and
    * the streaming `stream_ewma`, whose final states are identical on
    * the bounded single-batch drain).
    *
    * NOTE: a RECURSIVE CTE (one row of state per user per step), not a
    * struct-state list_reduce — DuckDB evaluates the fold lambda's
    * struct fields against a partially-updated accumulator (observed:
    * the ewmad field read the already-updated ewma, yielding exactly
    * 0.8x the true deviation), so the fold form is not a trustworthy
    * replay. */
  private[queries] def ewmaOracleSql: String =
    """WITH RECURSIVE ord AS (SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS i
      |  FROM events),
      |n AS (SELECT user_id, max(i) AS n FROM ord GROUP BY 1),
      |st AS (
      |  SELECT user_id, 1 AS i, CAST(value AS DOUBLE) AS ewma,
      |    CAST(0.0 AS DOUBLE) AS ewmad, CAST(0 AS BIGINT) AS anom
      |  FROM ord WHERE i = 1
      |  UNION ALL
      |  SELECT s.user_id, s.i + 1,
      |    CAST(0.2 AS DOUBLE) * o.value
      |      + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * s.ewma,
      |    CAST(0.2 AS DOUBLE) * abs(o.value - s.ewma)
      |      + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * s.ewmad,
      |    s.anom + CASE WHEN s.i >= 5
      |        AND abs(o.value - s.ewma) > CAST(3.0 AS DOUBLE) * s.ewmad
      |      THEN 1 ELSE 0 END
      |  FROM st s JOIN ord o
      |    ON o.user_id = s.user_id AND o.i = s.i + 1)
      |SELECT st.user_id, CAST(n.n AS BIGINT) AS n_events,
      |  round(st.ewma, 6) AS ewma, round(st.ewmad, 6) AS ewmad,
      |  st.anom AS n_anomalies
      |FROM st JOIN n ON st.user_id = n.user_id AND st.i = n.n""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "rel_snapshot_diff" ->
      s"""WITH a AS (SELECT user_id, event_type AS a_type,
         |    round(value, 4) AS a_value
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE ts < TIMESTAMP '$SnapCut1')
         |  WHERE rn = 1),
         |b AS (SELECT user_id, event_type AS b_type,
         |    round(value, 4) AS b_value
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE ts >= TIMESTAMP '$SnapCut1'
         |      AND ts < TIMESTAMP '$SnapCut2')
         |  WHERE rn = 1)
         |SELECT coalesce(a.user_id, b.user_id) AS user_id,
         |  CASE WHEN a.a_type IS NULL THEN 'insert'
         |       WHEN b.b_type IS NULL THEN 'delete'
         |       WHEN a.a_type = b.b_type AND a.a_value = b.b_value
         |         THEN 'same'
         |       ELSE 'update' END AS change,
         |  a_type, a_value, b_type, b_value
         |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin,
    "rel_ewma" -> ewmaOracleSql,
    "rel_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
        |  GROUP BY 1),
        |cells AS (SELECT cnt, count(*) AS f FROM c GROUP BY 1),
        |rk AS (SELECT cnt, f,
        |    CAST(sum(f) OVER (ORDER BY cnt ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cumf
        |  FROM cells),
        |s AS (SELECT CAST(sum(f) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt * f) AS BIGINT) AS n_rows,
        |    max(cnt) AS max_cnt,
        |    CAST(sum(cnt * (((cumf - f + 1) + cumf)
        |      * (cumf - (cumf - f + 1) + 1) // 2)) AS BIGINT) AS sv
        |  FROM rk),
        |t10 AS (SELECT CAST(sum(cnt) AS BIGINT) AS top10 FROM (
        |  SELECT cnt FROM c ORDER BY cnt DESC, user_id ASC LIMIT 10))
        |SELECT n_keys, n_rows, max_cnt,
        |  round(max_cnt * 1.0 / n_rows, 6) AS top1_share,
        |  round(top10 * 1.0 / n_rows, 6) AS top10_share,
        |  round(2.0 * sv / n_keys / n_rows - (n_keys + 1.0) / n_keys, 6)
        |    AS gini
        |FROM s CROSS JOIN t10""".stripMargin,
    "rel_hilbert_key" -> {
      val xb = "((user_id % 1024 + 1024) % 1024)"
      val yb = "((CAST(floor(value) AS BIGINT) % 1024 + 1024) % 1024)"
      s"""WITH hb AS (SELECT event_id, $xb AS xb, $yb AS yb FROM events),
         |hin AS (SELECT event_id, xb, yb, xb AS hx, yb AS hy,
         |  0::BIGINT AS hd FROM hb),
         |${graft.operators.ZOrder.duckHilbertCtes(10, "hin", "hout",
            Seq("event_id", "xb", "yb"))}
         |SELECT event_id, xb, yb, hkey FROM hout""".stripMargin
    },
    "rel_zorder_key" -> {
      // DuckDB % is a sign-following remainder while the Spark side uses
      // pmod; double-mod keeps the two aligned if a negative user_id or a
      // value in (-1, 0) (floor = -1) ever enters the fixture.
      val xb = "((user_id % 1024 + 1024) % 1024)"
      val yb = "((CAST(floor(value) AS BIGINT) % 1024 + 1024) % 1024)"
      s"""SELECT event_id, $xb AS xb, $yb AS yb,
         |  ${graft.operators.ZOrder.duckZorder2(xb, yb)} AS zkey
         |FROM events""".stripMargin
    },
    "rel_dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "rel_scan_project" ->
      """SELECT doc_id, lang, source, n_chars, length(text) AS text_len
        |FROM documents""".stripMargin,
    "rel_ordered_limit" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,
    "rel_score_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value > 50 AND event_type = 'purchase'""".stripMargin,
    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "rel_accuracy_by_type" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  round(avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END), 4) AS purchase_rate
        |FROM events GROUP BY user_id""".stripMargin,
    "rel_judgment_distribution" ->
      """SELECT event_type, n, round(n * 1.0 / sum(n) OVER (), 4) AS pct
        |FROM (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)""".stripMargin,
    "rel_timing_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(avg(value), 4) AS avg_value,
        |  round(median(value), 4) AS median_value,
        |  round(min(value), 4) AS min_value,
        |  round(max(value), 4) AS max_value
        |FROM events WHERE value > 0 GROUP BY event_type""".stripMargin,
    "rel_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, event_type AS touch_type, epoch_us(ts) AS t_us
        |  FROM events WHERE event_type <> 'purchase'),
        |j AS (
        |  SELECT p.p_id, t.touch_type FROM p JOIN t USING (user_id)
        |  WHERE t.t_us <= p.p_us AND t.t_us > p.p_us - 86400000000),
        |pp AS (
        |  SELECT p_id, touch_type, count(*) AS k FROM j GROUP BY 1, 2),
        |pn AS (
        |  SELECT p_id, touch_type, k,
        |    CAST(sum(k) OVER (PARTITION BY p_id) AS BIGINT) AS n
        |  FROM pp)
        |SELECT touch_type, count(*) AS n_purchases_touched,
        |  CAST(sum(k) AS BIGINT) AS n_touches,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY p_id)),
        |    (a, x) -> a + x), 6) AS credit
        |FROM pn GROUP BY touch_type""".stripMargin,
    "rel_event_transitions" ->
      """WITH pr AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM cnt GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6) AS p
        |FROM cnt c JOIN tot t ON c.prev_type = t.prev_type""".stripMargin,
    "rel_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    date_diff('second', lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), ts) AS gap_sec
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  round(avg(gap_sec), 4) AS avg_gap,
        |  round(CAST(median(gap_sec) AS DOUBLE), 4) AS median_gap,
        |  max(gap_sec) AS max_gap
        |FROM g WHERE gap_sec IS NOT NULL GROUP BY user_id""".stripMargin,
    "rel_interval_merge" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    date_diff('second', lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), ts) AS gap
        |  FROM events),
        |i AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN gap IS NULL OR gap > 300 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS isl
        |  FROM g)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS interval_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS interval_end,
        |  count(*) AS n_events,
        |  date_diff('second', min(ts), max(ts)) AS duration_sec
        |FROM i GROUP BY user_id, isl""".stripMargin,
    "rel_set_ops" ->
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT user_id FROM events WHERE event_type = 'purchase'
        |     EXCEPT SELECT user_id FROM events WHERE event_type = 'error'))
        |    AS purchasers_no_errors,
        |  (SELECT count(*) FROM (
        |     SELECT user_id FROM events WHERE event_type = 'click'
        |     INTERSECT SELECT user_id FROM events WHERE event_type = 'view'))
        |    AS click_and_view,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type IN ('purchase', 'error')) AS purchase_or_error""".stripMargin,
    "rel_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,
    "rel_cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "rel_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events WHERE value > 0 GROUP BY event_type""".stripMargin,
    "rel_local_supplier_volume" ->
      """SELECT n_name AS nation,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE), 4) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "rel_constraints" ->
      """SELECT 'orders_pk_unique' AS constraint,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS metric,
        |  count(*) - count(DISTINCT o_orderkey) = 0 AS passed FROM orders
        |UNION ALL
        |SELECT 'orders_fk_customer',
        |  CAST(count(*) AS DOUBLE),
        |  count(*) = 0
        |FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'events_user_id_complete',
        |  round(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6),
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0 FROM events
        |UNION ALL
        |SELECT 'orders_totalprice_positive',
        |  round(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6),
        |  sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) = count(*)
        |FROM orders
        |UNION ALL
        |SELECT 'orders_priority_cardinality',
        |  CAST(count(DISTINCT o_orderpriority) AS DOUBLE),
        |  count(DISTINCT o_orderpriority) <= 5 FROM orders""".stripMargin,
    "rel_cohorts" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        |d AS (SELECT DISTINCT user_id, day FROM ev)
        |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  strftime(d.day, '%Y-%m-%d') AS day, count(*) AS n_users
        |FROM d JOIN f ON d.user_id = f.user_id GROUP BY 1, 2""".stripMargin,
    "rel_moving_avg" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,2))) AS dv
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  CAST(dv AS DOUBLE) AS daily_value,
        |  round(avg(CAST(dv AS DOUBLE)) OVER (PARTITION BY event_type
        |    ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
        |    AND CURRENT ROW), 4) AS trailing_avg
        |FROM daily""".stripMargin,
    "rel_gap_fill" ->
      """WITH o AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
        |    o_totalprice FROM orders),
        |daily AS (SELECT o_orderpriority, day, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |  FROM o GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
        |days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |    AS DATE) AS day FROM span),
        |grid AS (SELECT p.o_orderpriority, d.day
        |  FROM (SELECT DISTINCT o_orderpriority FROM o) p CROSS JOIN days d)
        |SELECT g.o_orderpriority, strftime(g.day, '%Y-%m-%d') AS day,
        |  coalesce(daily.n_orders, 0) AS n_orders,
        |  CAST(last_value(daily.total IGNORE NULLS) OVER (
        |    PARTITION BY g.o_orderpriority ORDER BY g.day) AS DOUBLE)
        |    AS filled_total
        |FROM grid g LEFT JOIN daily
        |  ON g.o_orderpriority = daily.o_orderpriority
        |  AND g.day = daily.day""".stripMargin,
    "rel_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin,
    "rel_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_id, e.event_type, e.value,
        |    abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad,
        |    count(*) AS n
        |  FROM dev GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value,
        |  round((d.adev / m.mad) * 0.6745, 4) AS score
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE m.n >= 2 AND m.mad > 0
        |  AND (d.adev / m.mad) * 0.6745 > 3.5""".stripMargin,
    "rel_correlation" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4)))
        |      AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |      * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r
        |FROM m""".stripMargin,
    "rel_unpivot" ->
      """WITH wide AS (SELECT o_orderpriority,
        |    count(*) FILTER (WHERE o_orderstatus = 'F') AS f,
        |    count(*) FILTER (WHERE o_orderstatus = 'O') AS o,
        |    count(*) FILTER (WHERE o_orderstatus = 'P') AS p
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, 'F' AS status, f AS n FROM wide
        |UNION ALL SELECT o_orderpriority, 'O', o FROM wide
        |UNION ALL SELECT o_orderpriority, 'P', p FROM wide""".stripMargin,
    "rel_full_outer" ->
      """SELECT coalesce(r.c_custkey, b.c_custkey) AS custkey,
        |  r.c_custkey IS NOT NULL AS is_rich,
        |  b.c_custkey IS NOT NULL AS is_building
        |FROM (SELECT c_custkey, c_acctbal FROM customer
        |      WHERE c_acctbal > 9000) r
        |FULL OUTER JOIN (SELECT c_custkey FROM customer
        |      WHERE c_mktsegment = 'BUILDING') b
        |  ON r.c_custkey = b.c_custkey""".stripMargin,
    "rel_edit_pairs" ->
      """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    "rel_dense_top" ->
      """SELECT p_brand, p_partkey, p_retailprice, CAST(rk AS INT) AS rk
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |    dense_rank() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC) AS rk
        |  FROM part) WHERE rk <= 3""".stripMargin,
    "rel_scd2_lookup" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    - row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS grp
        |  FROM events),
        |seg AS (SELECT user_id, event_type AS status, grp,
        |    min(ts) AS valid_from
        |  FROM e GROUP BY 1, 2, 3),
        |sr AS (SELECT user_id, status, valid_from,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY valid_from, status, grp) AS seg_rank
        |  FROM seg),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase'),
        |m AS (SELECT p.event_id, s.status, s.valid_from,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY s.valid_from DESC, s.seg_rank DESC) AS rn
        |  FROM p JOIN sr s
        |    ON s.user_id = p.user_id AND s.valid_from <= p.ts)
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  m.status AS status_at_event,
        |  strftime(m.valid_from, '%Y-%m-%d %H:%M:%S') AS status_since
        |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
        |  ON p.event_id = m.event_id""".stripMargin,
    "rel_scd2" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    - row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS grp
        |  FROM events),
        |seg AS (SELECT user_id, event_type, grp, min(ts) AS valid_from,
        |    count(*) AS n_events
        |  FROM e GROUP BY 1, 2, 3)
        |SELECT user_id, event_type AS status,
        |  strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY valid_from, event_type, grp), '%Y-%m-%d %H:%M:%S')
        |    AS valid_to,
        |  n_events
        |FROM seg""".stripMargin,
    "rel_outliers" ->
      """WITH stats AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,4))) AS s,
        |    sum(CAST(value * value AS DECIMAL(28,8))) AS sq
        |  FROM events GROUP BY 1),
        |m AS (SELECT event_type,
        |    CAST(s AS DOUBLE) / n AS mean,
        |    sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / n) / (n - 1)) AS std
        |  FROM stats WHERE n >= 2)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - m.mean) / m.std, 4) AS z
        |FROM events e JOIN m USING (event_type)
        |WHERE m.std > 0 AND abs((e.value - m.mean) / m.std) > 3""".stripMargin,
    "rel_winsorized" ->
      """WITH b AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  round(min(b.p05), 4) AS p05, round(min(b.p95), 4) AS p95,
        |  round(CAST(sum(CAST(least(greatest(l.l_extendedprice, b.p05),
        |      b.p95) AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
        |    AS wins_mean,
        |  round(avg(CASE WHEN l.l_extendedprice < b.p05 THEN 1.0
        |                 WHEN l.l_extendedprice > b.p95 THEN 1.0
        |                 ELSE 0.0 END), 4) AS clipped_frac
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1""".stripMargin,
    "rel_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS vt FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS ct FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.vt
        |        AND e.ts <= v.vt + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.ct
        |        AND e.ts <= c.ct + INTERVAL 24 HOUR GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2
        |            WHEN v.user_id IS NOT NULL THEN 1
        |            ELSE 0 END AS INT) AS stage,
        |  count(*) AS n_users
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |  LEFT JOIN c ON u.user_id = c.user_id
        |  LEFT JOIN p ON u.user_id = p.user_id
        |GROUP BY 1""".stripMargin,
    "rel_bloom_prejoin" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 9000)
        |GROUP BY 1""".stripMargin,
    "rel_running_total" ->
      """SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin,
    "rel_skyline" ->
      """WITH pd AS (SELECT o_totalprice AS p, max(o_orderdate) AS maxd
        |  FROM orders GROUP BY 1),
        |sfx AS (SELECT p, maxd, max(maxd) OVER (ORDER BY p DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gt
        |  FROM pd)
        |SELECT o.o_orderkey, o.o_totalprice,
        |  strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
        |FROM orders o JOIN sfx ON o.o_totalprice = sfx.p
        |WHERE NOT ((sfx.gt IS NOT NULL AND sfx.gt >= o.o_orderdate)
        |  OR sfx.maxd > o.o_orderdate)""".stripMargin,
    "rel_histogram" ->
      """SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "rel_broadcast_join_agg" ->
      """SELECT r_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "rel_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "rel_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "rel_semi_join" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "rel_window_top1" ->
      """SELECT c_nationkey, c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |      FROM customer) WHERE rn = 1""".stripMargin,
    "rel_judge_batches" ->
      """SELECT batch_id, count(*) AS batch_size,
        |  min(event_id) AS first_event, max(event_id) AS last_event
        |FROM (SELECT event_id,
        |        CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 5) AS BIGINT) AS batch_id
        |      FROM events) GROUP BY batch_id""".stripMargin,
    "rel_confusion_matrix" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "rel_time_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "rel_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "rel_above_group_avg" ->
      """SELECT c_custkey, c_nationkey,
        |  round(c_acctbal, 2) AS c_acctbal,
        |  round(nation_avg, 4) AS nation_avg
        |FROM (SELECT *, avg(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_avg
        |      FROM customer)
        |WHERE c_acctbal > nation_avg""".stripMargin,
    "rel_distinct_counts" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_equidepth_hist" ->
      """WITH t AS (SELECT l_extendedprice AS price,
        |    l_orderkey * 10 + l_linenumber AS rid,
        |    CAST(floor(l_extendedprice / 100) AS BIGINT) AS cell
        |  FROM lineitem),
        |b AS (SELECT price, CAST(ntile(8) OVER (ORDER BY cell, rid) AS INT)
        |    AS bucket FROM t)
        |SELECT bucket, count(*) AS n_rows,
        |  min(price) AS min_price, max(price) AS max_price
        |FROM b GROUP BY 1""".stripMargin,
    "rel_revenue_concentration" ->
      """WITH cr AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |cl AS (SELECT o_custkey, rev,
        |    -CAST(floor(rev / 100) AS BIGINT) AS cell FROM cr),
        |dd AS (SELECT o_custkey, rev,
        |    ntile(10) OVER (ORDER BY cell, o_custkey) AS decile FROM cl),
        |g AS (SELECT decile, count(*) AS n_customers, sum(rev) AS rev
        |  FROM dd GROUP BY 1),
        |t AS (SELECT sum(rev) AS tot FROM cr)
        |SELECT decile, n_customers,
        |  round(CAST(rev AS DOUBLE), 2) AS revenue,
        |  round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
        |  round(CAST(sum(rev) OVER (ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
        |    CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM g CROSS JOIN t""".stripMargin,
    "rel_autocorr" ->
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS x
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT x,
        |    lag(x, 1) OVER (ORDER BY day) AS x1,
        |    lag(x, 7) OVER (ORDER BY day) AS x7
        |  FROM daily),
        |s AS (SELECT count(*) AS n_days,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x ELSE 0 END) AS BIGINT) AS sx1,
        |    CAST(sum(coalesce(x1, 0)) AS BIGINT) AS sy1,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
        |    CAST(sum(coalesce(x1 * x1, 0)) AS BIGINT) AS syy1,
        |    CAST(sum(coalesce(x * x1, 0)) AS BIGINT) AS sxy1,
        |    CAST(sum(CASE WHEN x7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |    CAST(sum(CASE WHEN x7 IS NOT NULL THEN x ELSE 0 END) AS BIGINT) AS sx7,
        |    CAST(sum(coalesce(x7, 0)) AS BIGINT) AS sy7,
        |    CAST(sum(CASE WHEN x7 IS NOT NULL THEN x * x ELSE 0 END) AS BIGINT) AS sxx7,
        |    CAST(sum(coalesce(x7 * x7, 0)) AS BIGINT) AS syy7,
        |    CAST(sum(coalesce(x * x7, 0)) AS BIGINT) AS sxy7
        |  FROM lagged)
        |SELECT n_days,
        |  round((CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE) -
        |         CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE)) /
        |    sqrt((CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE) -
        |          CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) *
        |         (CAST(n1 AS DOUBLE) * CAST(syy1 AS DOUBLE) -
        |          CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE))), 6) AS r_lag1,
        |  round((CAST(n7 AS DOUBLE) * CAST(sxy7 AS DOUBLE) -
        |         CAST(sx7 AS DOUBLE) * CAST(sy7 AS DOUBLE)) /
        |    sqrt((CAST(n7 AS DOUBLE) * CAST(sxx7 AS DOUBLE) -
        |          CAST(sx7 AS DOUBLE) * CAST(sx7 AS DOUBLE)) *
        |         (CAST(n7 AS DOUBLE) * CAST(syy7 AS DOUBLE) -
        |          CAST(sy7 AS DOUBLE) * CAST(sy7 AS DOUBLE))), 6) AS r_lag7
        |FROM s""".stripMargin,
    "rel_ab_test" -> {
      s"""WITH uc AS (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase'
         |             AND value > CAST(200.0 AS DOUBLE)
         |             THEN 1 ELSE 0 END) AS converted,
         |    'ab:' || CAST(user_id AS VARCHAR) AS t, 0 AS doc_id
         |  FROM events GROUP BY user_id),
         |${graft.core.XxHashSql.hash64Ctes("uc", "uh", "abx")},
         |ua AS MATERIALIZED (
         |  SELECT u.user_id, u.converted, CAST(h.h64 % 2 AS INT) AS arm
         |  FROM uc u JOIN uh h ON h.t = u.t),
         |arms AS MATERIALIZED (
         |  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
         |  FROM ua GROUP BY arm),
         |ab AS (SELECT
         |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
         |    (SELECT conv FROM arms WHERE arm = 0) AS conv_a,
         |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
         |    (SELECT conv FROM arms WHERE arm = 1) AS conv_b),
         |z AS (SELECT n_a, n_b, conv_a, conv_b,
         |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
         |  FROM ab),
         |z2 AS (SELECT *,
         |    CASE WHEN sqrt(pp * (CAST(1.0 AS DOUBLE) - pp) *
         |        (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE) +
         |         CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) >
         |        CAST(0.0 AS DOUBLE)
         |      THEN (pa - pb) / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp) *
         |        (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE) +
         |         CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE)))
         |      ELSE NULL END AS zv
         |  FROM z)
         |SELECT n_a, n_b, conv_a, conv_b,
         |  round(pa, 6) AS p_a, round(pb, 6) AS p_b, round(zv, 6) AS z,
         |  (abs(zv) > CAST(1.96 AS DOUBLE)) AS significant
         |FROM z2""".stripMargin
    },
    "rel_benford" ->
      """WITH v AS (
        |  SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v FROM lineitem),
        |o AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS observed
        |  FROM v WHERE v >= 1 GROUP BY 1),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM o),
        |e AS (
        |  SELECT digit, observed,
        |    CAST(n AS DOUBLE) *
        |      ln(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) /
        |         CAST(digit AS DOUBLE)) / ln(CAST(10.0 AS DOUBLE)) AS expected
        |  FROM o CROSS JOIN n),
        |c AS (
        |  SELECT digit, observed, expected,
        |    (CAST(observed AS DOUBLE) - expected) *
        |    (CAST(observed AS DOUBLE) - expected) / expected AS contrib
        |  FROM e),
        |t AS (SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(contrib ORDER BY digit)), (a, x) -> a + x), 6) AS chi2
        |  FROM c)
        |SELECT digit, observed, round(expected, 4) AS expected,
        |  round(contrib, 6) AS contrib, chi2
        |FROM c CROSS JOIN t""".stripMargin,
    "rel_kmv_intersect" ->
      s"""WITH pk AS (SELECT DISTINCT quarter(l_shipdate) AS doc_id,
         |    CAST(l_partkey AS VARCHAR) AS t FROM lineitem
         |  WHERE year(l_shipdate) = 1996 AND quarter(l_shipdate) IN (1, 2)),
         |${graft.core.XxHashSql.hash64Ctes("pk", "hh", "ix")},
         |g AS (SELECT doc_id AS q, h64 FROM hh GROUP BY 1, 2),
         |r AS (SELECT q, h64, row_number() OVER
         |    (PARTITION BY q ORDER BY h64) AS rn FROM g),
         |sk AS (SELECT q, list(h64 ORDER BY h64) AS hs
         |  FROM r WHERE rn <= 64 GROUP BY q),
         |ab AS (SELECT
         |    (SELECT hs FROM sk WHERE q = 1) AS ha,
         |    (SELECT hs FROM sk WHERE q = 2) AS hb),
         |m AS (SELECT
         |    list_sort(list_distinct(ha || hb)) AS u,
         |    len(list_distinct(ha || hb)) AS n_u,
         |    list_intersect(ha, hb) AS both_sk
         |  FROM ab),
         |m2 AS (SELECT n_u,
         |    list_slice(u, 1, 64) AS merged,
         |    least(n_u, 64) AS denom,
         |    both_sk
         |  FROM m),
         |m3 AS (SELECT n_u, denom,
         |    merged[len(merged)] AS hk,
         |    len(list_intersect(merged, both_sk)) AS n_both
         |  FROM m2),
         |est AS (SELECT n_both, denom,
         |    CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
         |      ELSE CAST(63 AS DOUBLE) * CAST(18446744073709551616 AS DOUBLE)
         |        / CAST(hk AS DOUBLE) END AS est_union
         |  FROM m3),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
         |  SELECT l_partkey FROM (
         |    SELECT DISTINCT quarter(l_shipdate) AS q, l_partkey FROM lineitem
         |    WHERE year(l_shipdate) = 1996 AND quarter(l_shipdate) IN (1, 2))
         |  GROUP BY l_partkey HAVING count(*) = 2))
         |SELECT e.exact_intersection, CAST(est.n_both AS BIGINT) AS n_both,
         |  round(est.est_union, 4) AS est_union,
         |  round((CAST(est.n_both AS DOUBLE) / CAST(est.denom AS DOUBLE)) *
         |    est.est_union, 4) AS est_intersection
         |FROM est CROSS JOIN e""".stripMargin,
    "rel_kmv_union" ->
      s"""WITH pk AS (SELECT DISTINCT l_returnflag AS doc_id,
         |    CAST(l_partkey AS VARCHAR) AS t FROM lineitem),
         |${graft.core.XxHashSql.hash64Ctes("pk", "hh", "ux")},
         |-- the DIRECT global sketch: k smallest distinct hashes over
         |-- the whole table (the Spark side MERGES per-flag sketches;
         |-- KMV closure makes them identical, so this gate proves the
         |-- mergability property itself)
         |g AS (SELECT h64 FROM hh GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_global FROM g),
         |r AS (SELECT h64, row_number() OVER (ORDER BY h64) AS rn FROM g),
         |s AS (SELECT h64 AS hk FROM r WHERE rn = 64),
         |e AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
         |    AS exact_union FROM lineitem)
         |SELECT e.exact_union,
         |  round(CASE WHEN n.n_global < 64 THEN CAST(n.n_global AS DOUBLE)
         |    ELSE CAST(63 AS DOUBLE) * CAST(18446744073709551616 AS DOUBLE)
         |      / CAST(s.hk AS DOUBLE) END, 4) AS est_union
         |FROM e CROSS JOIN n LEFT JOIN s ON true""".stripMargin,
    "rel_mann_whitney" ->
      """WITH cells AS (
        |  SELECT floor(o_totalprice / 100) AS v,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS cb
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT v, ca, cb, ca + cb AS c,
        |    CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |  FROM cells),
        |ag AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(ca * (2 * below + c + 1)) AS BIGINT) AS r2a,
        |    CAST(sum(c * c * c - c) AS BIGINT) AS tsum
        |  FROM rk),
        |st AS (SELECT n_a, n_b,
        |    CAST(r2a - n_a * (n_a + 1) AS DOUBLE) AS u2,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) AS nab,
        |    CAST(n_a + n_b AS DOUBLE) AS n,
        |    CAST(tsum AS DOUBLE) AS ts
        |  FROM ag)
        |SELECT n_a, n_b, u2 / 2 AS u_a,
        |  round((u2 - nab) / (CAST(2.0 AS DOUBLE) * sqrt(nab
        |    / CAST(12.0 AS DOUBLE) * (n + 1 - ts / (n * (n - 1))))), 6) AS z,
        |  (abs((u2 - nab) / (CAST(2.0 AS DOUBLE) * sqrt(nab
        |    / CAST(12.0 AS DOUBLE) * (n + 1 - ts / (n * (n - 1))))))
        |    > CAST(1.96 AS DOUBLE)) AS significant
        |FROM st""".stripMargin,
    // the parquet TRUTH the ORC/CSV round-trips must reproduce
    "rel_format_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS checksum,
        |  true AS csv_matches
        |FROM documents GROUP BY lang""".stripMargin,
    "rel_runs_test" ->
      """WITH daily AS (SELECT event_type,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(x) AS BIGINT) AS sx FROM daily GROUP BY 1),
        |sg AS (SELECT d.event_type, d.day,
        |    CASE WHEN d.x * t.nd > t.sx THEN 1 ELSE 0 END AS s
        |  FROM daily d JOIN tot t USING (event_type)),
        |fl AS (SELECT event_type, s,
        |    CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day)
        |      IS DISTINCT FROM s THEN 1 ELSE 0 END AS flip
        |  FROM sg),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(s) AS BIGINT) AS n_above,
        |    CAST(count(*) - sum(s) AS BIGINT) AS n_below,
        |    CAST(sum(flip) AS BIGINT) AS runs
        |  FROM fl GROUP BY 1),
        |st AS (SELECT *, CAST(n_above AS DOUBLE) AS n1,
        |    CAST(n_below AS DOUBLE) AS n2, CAST(n_days AS DOUBLE) AS n
        |  FROM ag)
        |SELECT event_type, n_days, n_above, n_below, runs,
        |  round(CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1
        |    THEN (CAST(runs AS DOUBLE) - (2.0 * n1 * n2 / n + 1))
        |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
        |        / (n * n * (n - 1))) END, 6) AS z,
        |  (abs(CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1
        |    THEN (CAST(runs AS DOUBLE) - (2.0 * n1 * n2 / n + 1))
        |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
        |        / (n * n * (n - 1))) END)
        |   <= CAST(1.96 AS DOUBLE)) AS random
        |FROM st""".stripMargin,
    "rel_kendall_tau" ->
      """WITH rows_ AS (SELECT floor(l_quantity) AS x,
        |    floor(l_extendedprice / 100) AS y FROM lineitem),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n
        |  FROM rows_ GROUP BY 1, 2),
        |grid AS (SELECT xs.x, ys.y, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM (SELECT DISTINCT x FROM cells) xs
        |  CROSS JOIN (SELECT DISTINCT y FROM cells) ys
        |  LEFT JOIN cells c ON c.x = xs.x AND c.y = ys.y),
        |sfx AS (SELECT x, y, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS BIGINT) AS s_gt,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s_lt
        |  FROM grid),
        |sfx2 AS (SELECT x, y, n,
        |    CAST(coalesce(sum(s_gt) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS BIGINT) AS npp,
        |    CAST(coalesce(sum(s_lt) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS BIGINT) AS npm
        |  FROM sfx),
        |pa AS (SELECT CAST(sum(n) AS BIGINT) AS nr,
        |    CAST(sum(n * npp) AS BIGINT) AS conc,
        |    CAST(sum(n * npm) AS BIGINT) AS disc
        |  FROM sfx2),
        |tx AS (SELECT sum(t * (t - 1) / 2) AS t1 FROM
        |  (SELECT CAST(count(*) AS BIGINT) AS t FROM rows_ GROUP BY x)),
        |ty AS (SELECT sum(t * (t - 1) / 2) AS t2 FROM
        |  (SELECT CAST(count(*) AS BIGINT) AS t FROM rows_ GROUP BY y))
        |SELECT nr AS n_rows, conc AS concordant, disc AS discordant,
        |  round(CAST(conc - disc AS DOUBLE)
        |    / sqrt((CAST(nr * (nr - 1) AS DOUBLE) / 2 - t1)
        |      * (CAST(nr * (nr - 1) AS DOUBLE) / 2 - t2)), 6) AS tau_b
        |FROM pa, tx, ty""".stripMargin,
    "rel_dispersion" ->
      """WITH daily AS (SELECT event_type,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sx2
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS mean_daily,
        |  round(CASE WHEN n_days > 1 THEN (CAST(sx2 AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / (CAST(n_days AS DOUBLE) - 1) END, 4) AS variance,
        |  round(CASE WHEN n_days > 1 AND sx > 0 THEN ((CAST(sx2 AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / (CAST(n_days AS DOUBLE) - 1))
        |    / (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) END, 6) AS fano,
        |  (CASE WHEN n_days > 1 AND sx > 0 THEN ((CAST(sx2 AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / (CAST(n_days AS DOUBLE) - 1))
        |    / (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) END
        |   > CAST(2.0 AS DOUBLE)) AS overdispersed
        |FROM ag""".stripMargin,
    "rel_spearman" ->
      """WITH rows_ AS (SELECT floor(l_quantity) AS x,
        |    floor(l_extendedprice / 100) AS y FROM lineitem),
        |rx AS (SELECT x, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    + cnt + 1 AS m2x
        |  FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt
        |    FROM rows_ GROUP BY x)),
        |ry AS (SELECT y, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    + cnt + 1 AS m2y
        |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
        |    FROM rows_ GROUP BY y)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_),
        |uv AS (SELECT m2x - (n + 1) AS u, m2y - (n + 1) AS v, n
        |  FROM rows_ JOIN rx USING (x) JOIN ry USING (y), tot),
        |ag AS (SELECT n, CAST(sum(u * v) AS BIGINT) AS suv,
        |    CAST(sum(u * u) AS BIGINT) AS suu,
        |    CAST(sum(v * v) AS BIGINT) AS svv
        |  FROM uv GROUP BY n)
        |SELECT n AS n_rows,
        |  round(CAST(suv AS DOUBLE)
        |    / sqrt(CAST(suu AS DOUBLE) * CAST(svv AS DOUBLE)), 6)
        |    AS spearman_rho
        |FROM ag""".stripMargin,
    "rel_chi2_independence" ->
      """WITH obs AS (SELECT o_orderpriority AS prio, o_orderstatus AS status,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT prio, CAST(sum(n) AS BIGINT) AS rt FROM obs GROUP BY 1),
        |ct AS (SELECT status, CAST(sum(n) AS BIGINT) AS ct FROM obs GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT prio) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT status) AS BIGINT) AS nc FROM obs),
        |cells AS (SELECT obs.prio, obs.status, obs.n,
        |    CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |      / CAST(tot.nn AS DOUBLE) AS expected,
        |    tot.nr, tot.nc, tot.nn
        |  FROM obs JOIN rt USING (prio) JOIN ct USING (status), tot),
        |wc AS (SELECT *,
        |    (CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected)
        |      / expected AS contrib
        |  FROM cells),
        |x2 AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(contrib ORDER BY prio, status)), (a, x) -> a + x) AS chi2
        |  FROM wc)
        |SELECT prio, status, n, round(expected, 4) AS expected,
        |  round(contrib, 6) AS contrib, round(x2.chi2, 6) AS chi2,
        |  (nr - 1) * (nc - 1) AS df,
        |  round(sqrt(x2.chi2 / (CAST(nn AS DOUBLE)
        |    * CAST(least(nr - 1, nc - 1) AS DOUBLE))), 6) AS cramers_v
        |FROM wc, x2""".stripMargin,
    // Replay of the bottom-k-by-hash sample: same fmix64 (XxHashSql),
    // same signed-order selection (sign-bit-flip on UBIGINT), same
    // ceil(q*m) rank pick on the sample.
    "rel_approx_percentiles" ->
      s"""WITH hx AS (SELECT o_orderpriority AS prio,
         |    CAST(o_totalprice AS DOUBLE) AS v,
         |    ${graft.core.XxHashSql.fmixInline("CAST(o_orderkey AS UBIGINT)")} AS hf
         |  FROM orders),
         |samp AS (SELECT prio, v FROM (
         |    SELECT prio, v, row_number() OVER (PARTITION BY prio
         |      ORDER BY xor(hf, 9223372036854775808::UBIGINT)) AS rk FROM hx)
         |  WHERE rk <= $PctSampleK),
         |tot AS (SELECT prio, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM hx GROUP BY 1),
         |ranked AS (SELECT prio, v,
         |    CAST(row_number() OVER (PARTITION BY prio ORDER BY v)
         |      AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS m
         |  FROM samp),
         |p50 AS (SELECT prio, round(v, 2) AS p50 FROM ranked
         |  WHERE r = CAST(ceil(CAST(0.5 AS DOUBLE) * CAST(m AS DOUBLE))
         |    AS BIGINT)),
         |p95 AS (SELECT prio, round(v, 2) AS p95 FROM ranked
         |  WHERE r = CAST(ceil(CAST(0.95 AS DOUBLE) * CAST(m AS DOUBLE))
         |    AS BIGINT))
         |SELECT p50.prio AS o_orderpriority, tot.n_rows, p50.p50, p95.p95
         |FROM p50 JOIN tot USING (prio) JOIN p95 USING (prio)""".stripMargin,
    // Cell-level replay of the engine quantile sketch: same ln-domain
    // bucketing literal, same cumulative-cell rank walk, same
    // min/max interpolation.
    "rel_quantile_sketch" ->
      s"""WITH b AS (SELECT o_orderpriority AS prio,
         |    CAST(o_totalprice AS DOUBLE) AS v,
         |    CAST(floor(ln(CAST(o_totalprice AS DOUBLE)) * $QSketchScale)
         |      AS BIGINT) AS bkt
         |  FROM orders),
         |cells AS (SELECT prio, bkt, CAST(count(*) AS BIGINT) AS c,
         |    min(v) AS bmin, max(v) AS bmax FROM b GROUP BY 1, 2),
         |cum AS (SELECT prio, bkt, c, bmin, bmax, cum, cum - c AS cumb
         |  FROM (SELECT *, CAST(sum(c) OVER (PARTITION BY prio ORDER BY bkt
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM cells)),
         |tot AS (SELECT prio, CAST(count(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1),
         |j AS (SELECT cum.*, tot.n FROM cum JOIN tot USING (prio)),
         |p50 AS (SELECT prio, n,
         |    round(bmin + (bmax - bmin) * (CAST(rq - cumb - 1 AS DOUBLE)
         |      / CAST(greatest(c - 1, 1) AS DOUBLE)), 4) AS p50_est
         |  FROM (SELECT j.*, CAST(ceil(CAST(0.5 AS DOUBLE)
         |      * CAST(n AS DOUBLE)) AS BIGINT) AS rq FROM j)
         |  WHERE cum >= rq AND cumb < rq),
         |p95 AS (SELECT prio,
         |    round(bmin + (bmax - bmin) * (CAST(rq - cumb - 1 AS DOUBLE)
         |      / CAST(greatest(c - 1, 1) AS DOUBLE)), 4) AS p95_est
         |  FROM (SELECT j.*, CAST(ceil(CAST(0.95 AS DOUBLE)
         |      * CAST(n AS DOUBLE)) AS BIGINT) AS rq FROM j)
         |  WHERE cum >= rq AND cumb < rq)
         |SELECT p50.prio AS o_orderpriority, p50.n AS n_rows,
         |  p50.p50_est, p95.p95_est
         |FROM p50 JOIN p95 USING (prio)""".stripMargin,
    "rel_seasonality" ->
      """WITH daily AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, x, dayofweek(CAST(day AS DATE)) AS wd FROM daily),
        |pw AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS n_orders,
        |    CAST(sum(x * x) AS BIGINT) AS sum_x2
        |  FROM d2 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(x) AS BIGINT) AS tx,
        |    CAST(sum(x * x) AS BIGINT) AS tx2 FROM d2),
        |sw AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(CAST(sum_x2 AS DOUBLE)
        |      - CAST(n_orders AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |        / CAST(n_days AS DOUBLE) ORDER BY wd)),
        |    (a, x) -> a + x) AS ssw FROM pw)
        |SELECT CAST(pw.wd AS INT) AS wd, pw.n_days, pw.n_orders,
        |  round(CAST(n_orders AS DOUBLE) / CAST(n_days AS DOUBLE), 4)
        |    AS avg_daily,
        |  round((CAST(n_orders AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / (CAST(tx AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS seasonal_idx,
        |  CASE WHEN CAST(tx2 AS DOUBLE)
        |      - CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE) / CAST(nd AS DOUBLE)
        |      = CAST(0.0 AS DOUBLE) THEN NULL
        |    ELSE round(CAST(1.0 AS DOUBLE) - sw.ssw
        |      / (CAST(tx2 AS DOUBLE)
        |        - CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE)
        |          / CAST(nd AS DOUBLE)), 6) END AS seasonal_strength
        |FROM pw, tot, sw""".stripMargin,
    // The literal three-branch UNION ALL the Spark side WRITES (before
    // the UnionAggToGroupingSets rule collapses it to one grouping-sets
    // pass): a hash match here proves the rewrite changed nothing.
    "rel_accuracy_sets" ->
      """WITH ev AS (SELECT event_type, user_id % 10 AS cohort,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
        |  FROM events)
        |SELECT event_type, CAST(NULL AS BIGINT) AS cohort,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS purchase_rate
        |FROM ev GROUP BY event_type
        |UNION ALL
        |SELECT CAST(NULL AS VARCHAR), cohort, CAST(count(*) AS BIGINT),
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 4)
        |FROM ev GROUP BY cohort
        |UNION ALL
        |SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 4)
        |FROM ev""".stripMargin,
    // Register-level replay of the engine HLL ([[approxDistinct]]): the
    // sketch depends only on the DISTINCT value set per (flag, column),
    // so the oracle hashes distinct values only (~100x fewer XXH64
    // replays than row count at sf0.1). Every constant is interpolated
    // from the same Scala vals the Spark side reads.
    "rel_approx_distinct" ->
      s"""WITH v0 AS (
         |  SELECT l_returnflag || '|p' AS doc_id,
         |    CAST(l_partkey AS VARCHAR) AS t FROM lineitem
         |  UNION ALL
         |  SELECT l_returnflag || '|s' AS doc_id,
         |    CAST(l_suppkey AS VARCHAR) AS t FROM lineitem),
         |vd AS (SELECT DISTINCT doc_id, t FROM v0),
         |${graft.core.XxHashSql.hash64Ctes("vd", "vh", "hlx")},
         |hw AS (SELECT doc_id, (h64 >> ${64 - HllB}) AS idx,
         |    CAST(h64 & ${(1L << HllRhoBits) - 1}::UBIGINT AS BIGINT) AS wb
         |  FROM vh),
         |reg AS (SELECT doc_id, idx,
         |    max(CASE WHEN wb = 0 THEN $HllRhoMax
         |      ELSE bit_count((wb & -wb) - 1) + 1 END) AS r
         |  FROM hw GROUP BY 1, 2),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS present,
         |    CAST(sum(1::BIGINT << ($HllRhoMax - r)) AS BIGINT) AS spow
         |  FROM reg GROUP BY 1),
         |ez AS (SELECT doc_id, spow + ($HllM - present) * $HllScale AS z,
         |    $HllM - present AS nz FROM ag),
         |es AS (SELECT doc_id,
         |    round(CASE WHEN $HllC / CAST(z AS DOUBLE) <= $HllLinThresh
         |        AND nz > 0
         |      THEN ${HllM.toDouble} * ln(${HllM.toDouble} / CAST(nz AS DOUBLE))
         |      ELSE $HllC / CAST(z AS DOUBLE) END, 4) AS est
         |  FROM ez),
         |wide AS (SELECT split_part(doc_id, '|', 1) AS l_returnflag,
         |    max(CASE WHEN doc_id LIKE '%|p' THEN est END) AS approx_parts,
         |    max(CASE WHEN doc_id LIKE '%|s' THEN est END) AS approx_supps
         |  FROM es GROUP BY 1)
         |SELECT w.l_returnflag, w.approx_parts, w.approx_supps, c.n_rows
         |FROM wide w JOIN (SELECT l_returnflag,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM lineitem GROUP BY 1) c USING (l_returnflag)""".stripMargin,
    "rel_kmv_distinct" ->
      s"""WITH pk AS (SELECT DISTINCT l_returnflag AS doc_id,
         |    CAST(l_partkey AS VARCHAR) AS t FROM lineitem),
         |${graft.core.XxHashSql.hash64Ctes("pk", "hh", "kx")},
         |g AS (SELECT doc_id AS l_returnflag, h64 FROM hh GROUP BY 1, 2),
         |nh AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_hashes
         |  FROM g GROUP BY 1),
         |r AS (SELECT l_returnflag, h64, row_number() OVER
         |    (PARTITION BY l_returnflag ORDER BY h64) AS rn FROM g),
         |s AS (SELECT l_returnflag, h64 AS hk FROM r WHERE rn = 64),
         |e AS (SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT)
         |    AS exact_parts FROM lineitem GROUP BY 1)
         |SELECT e.l_returnflag, e.exact_parts,
         |  round(CASE WHEN nh.n_hashes <= 64 THEN CAST(nh.n_hashes AS DOUBLE)
         |    ELSE CAST(63 AS DOUBLE) * CAST(18446744073709551616 AS DOUBLE)
         |      / CAST(s.hk AS DOUBLE) END, 4) AS est_parts
         |FROM e JOIN nh USING (l_returnflag)
         |LEFT JOIN s USING (l_returnflag)""".stripMargin,
  )
}
