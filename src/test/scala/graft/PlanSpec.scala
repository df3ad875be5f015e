package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.plans.TokenFilterStrengthen

class PlanSpec extends SparkSpec {

  private def withRule[T](f: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ TokenFilterStrengthen
    try f finally spark.experimental.extraOptimizations = prev
  }

  // NB: queryExecution.optimizedPlan is cached per DataFrame — each probe
  // must build a FRESH plan inside/outside the rule scope.
  private def probe() =
    spark.read.parquet(s"$sf/documents.parquet")
      .filter(count_tokens(col("text")) > 80).select(col("doc_id"))

  test("TokenFilterStrengthen adds a length bound before the tokenizer") {
    val base = probe().queryExecution.optimizedPlan.toString
    assert(!base.contains("length("), s"unexpected length predicate in:\n$base")
    withRule {
      val plan = probe().queryExecution.optimizedPlan.toString
      assert(plan.contains("length(") && plan.contains("count_tokens("),
        s"expected strengthened filter in:\n$plan")
      // the derived conjunct must come first (short-circuit order)
      assert(plan.indexOf("length(") < plan.indexOf("count_tokens("))
    }
  }

  test("TokenFilterStrengthen preserves results and reaches fixpoint") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val baseline = docs.filter(count_tokens(col("text")) > 80)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    withRule {
      val q = docs.filter(count_tokens(col("text")) > 80 && col("doc_id") >= 0)
        .select(col("doc_id"))
      val got = q.collect().map(_.getLong(0)).toSet
      assert(got == baseline)
      // exactly ONE derived conjunct even though the optimizer runs the
      // rule repeatedly (semanticEquals guard)
      val plan = q.queryExecution.optimizedPlan.toString
      assert("length\\(".r.findAllIn(plan).size == 1, plan)
    }
  }

  test("rule ignores upper bounds (no unsound rewrite)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    withRule {
      val plan = docs.filter(count_tokens(col("text")) < 150)
        .select(col("doc_id")).queryExecution.optimizedPlan.toString
      assert(!plan.contains("length("), plan)
    }
  }

  test("filters push to the parquet scan; projections prune the read schema") {
    // predicate pushdown: both conjuncts reach the scan
    val filtered = graft.queries.Relational.scoreFilter(spark, sf)
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters:"), fplan)
    assert(fplan.contains("GreaterThan(value,") &&
      fplan.contains("EqualTo(event_type,purchase)"), fplan)
    // column pruning: a 3-column projection reads 3 columns, not the table
    val pruned = graft.queries.Relational.orderedLimit(spark, sf)
    val pplan = pruned.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(pplan).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 3, s"ReadSchema: $readSchema")
    assert(!readSchema.contains("o_orderpriority"), readSchema)
  }

  test("bucketed tables join with no exchange and no sort") {
    import graft.core.Tables
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    Tables.writeBucketed(orders, "orders_b", "o_custkey", 8)
    Tables.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"), "customer_b",
      "o_custkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the bucket layout is what's tested
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      // the one-time bucketing shuffle bought an exchange-free join: the
      // bucket layout satisfies the join's distribution requirement, so
      // NOTHING moves across the network. (A partition-local Sort remains
      // — Spark 3+ ignores sortBy metadata unless the legacy flag is on —
      // which is cheap and does not scale with cluster size.)
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SelectedBucketsCount"), plan)
      // and it is still the same join result
      val expected = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("positionalBatches has no single-partition exchange and matches the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val batched = Engine.positionalBatches(docs, col("doc_id"))
    // contract: no task ever numbers the full dataset (reference needs a
    // total order, not a single-task sort — async_evaluation.py:389-404)
    val physical = batched.queryExecution.executedPlan.toString
    assert(!physical.contains("SinglePartition"), physical)
    // same output as the textbook (non-scalable) row_number window
    val expected = docs
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      .withColumn("batch_id", floor((col("rn") - 1) / 5).cast("long"))
      .withColumn("item_number", ((col("rn") - 1) % 5 + 1).cast("int"))
      .drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSet
    val got = batched.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected)
  }

  test("decontaminate broadcasts the benchmark side; corpus text never shuffles") {
    val physical = graft.queries.AnalysisQueries.decontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin") ||
      physical.contains("BroadcastExchange"), physical)
    // the only exchanges are the benchmark broadcast and the per-doc
    // aggregation — no exchange may carry the text column
    physical.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text crosses an exchange: $line")
    }
  }

  test("pack_bins plan has no global sort or single-partition exchange") {
    val physical = graft.queries.AnalysisQueries.packBins(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("SinglePartition"), physical)
    // sorting happens inside bounded groups (flatMapGroups), never as a
    // whole-dataset Sort [global]
    assert(!physical.matches("(?s).*Sort \\[[^\\]]*\\] true.*"), physical)
  }

  test("semanticDedup/clusterSample have no per-cluster window sort and match the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val assigned = graft.queries.SimilarityQueries.kmeansAssign(spark, sf)

    // contract: neither plan may contain a Window over the corpus — the
    // k-partition window caps parallelism at the cluster count (8 tasks
    // at ANY scale); selection must be a bounded aggregate / rebased
    // global row number instead
    val dedup = graft.queries.SimilarityQueries.semanticDedup(spark, sf)
    val sample = graft.queries.SimilarityQueries.clusterSample(spark, sf)
    assert(!dedup.queryExecution.executedPlan.toString.contains("Window"),
      dedup.queryExecution.executedPlan.toString)
    assert(!sample.queryExecution.executedPlan.toString.contains("Window"),
      sample.queryExecution.executedPlan.toString)

    // same rows as the textbook (non-scalable) row_number formulations
    val wD = Window.partitionBy(col("cluster")).orderBy(col("dist"), col("vec_id"))
    val expDedup = assigned
      .withColumn("rn", row_number().over(wD))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("rn") <= (col("c") + lit(1)) / lit(2))
      .select(col("cluster"), col("vec_id"), col("rn").cast("int").as("rn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val gotDedup = dedup.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotDedup == expDedup)

    val wS = Window.partitionBy(col("cluster"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val expSample = assigned
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= 20)
      .select(col("cluster"), col("vec_id"), col("rn").cast("int").as("rn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val gotSample = sample.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotSample == expSample)
  }

  test("duplicated spans plan is linear: no cartesian, no global exchange") {
    val physical = graft.queries.DedupQueries.duplicatedSpans(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    assert(!physical.contains("SinglePartition"), physical)
    // both windows are keyed (gram / doc) — never a global Sort
    assert(!physical.matches("(?s).*Sort \\[[^\\]]*\\] true.*"), physical)
    // projection pruning reaches the parquet scan: of documents' columns
    // only (doc_id, text) are read
    val scan = physical.linesIterator
      .find(l => l.contains("FileScan") && l.contains("documents"))
    assert(scan.exists(l => l.contains("doc_id") && l.contains("text")
      && !l.contains("lang") && !l.contains("source")), scan.toString)
  }
}
