package graft

import org.apache.spark.sql.functions._

import graft.operators.TextMetrics

/** Scale-mechanics checks: plans, bucketing, metrics dataflow. */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    val sess = spark
    val prev = sess.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sess.sql("DROP TABLE IF EXISTS li_bucketed")
      sess.sql("DROP TABLE IF EXISTS ord_bucketed")
      spark.read.parquet(s"$sf/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      spark.read.parquet(s"$sf/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")
      val j = sess.table("li_bucketed")
        .join(sess.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      // the join itself reads co-located buckets: no Exchange below the
      // SortMergeJoin (the groupBy above it may still exchange)
      val joinPart = plan.split("SortMergeJoin").last
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // and results are correct
      val expect = spark.read.parquet(s"$sf/lineitem.parquet")
        .join(spark.read.parquet(s"$sf/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(j.agg(sum("n")).collect()(0).getLong(0) == expect)
    } finally {
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      sess.sql("DROP TABLE IF EXISTS li_bucketed")
      sess.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("flagship pipeline plan: pruned scan, single exchange") {
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    // answers reduce inside each document row: the one exchange is the
    // scan's round-robin spread, and nothing regroups by doc_id
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
    assert(plan.contains("Exchange RoundRobinPartitioning"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan not pruned to doc_id,text")
  }

  test("partitioned writes prune partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      spark.read.parquet(s"$sf/documents.parquet")
        .write.partitionBy("lang").mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir).filter(col("lang") === "en")
        .agg(count(lit(1)))
      val scan = q.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") &&
        scan.contains("isnotnull(lang"),
        s"partition filter not applied:\n$scan")
      // pruning is real: only the en partition contributes
      val expect = spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("lang") === "en").count()
      assert(q.collect()(0).getLong(0) == expect)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("value filters push down to the parquet scan") {
    val plan = queries.Relational.scoreFilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(value,50.0)"),
      s"filter not pushed to scan:\n$plan")
  }

  test("multimodal feature kernel: histogram contract") {
    val blobs = operators.Multimodal.asBlobs(
      spark.read.parquet(s"$sf/documents.parquet").limit(50))
    val feats = operators.Multimodal.extractFeatures(spark, blobs).collect()
    assert(feats.length == 50)
    feats.foreach { f =>
      assert(f.features.length == 8)
      assert(math.abs(f.features.sum - 1.0) < 1e-9, f.doc_id)
      assert(f.entropy >= 0.0 && f.entropy <= math.log(8) + 1e-9)
    }
    // empty blob: all-zero vector, zero entropy (documented contract)
    val sess = spark
    import sess.implicits._
    val empty = operators.Multimodal.extractFeatures(spark,
      Seq((1L, "image", Array.empty[Byte])).toDF("doc_id", "media_type", "blob"))
      .collect().head
    assert(empty.features.forall(_ == 0.0) && empty.entropy == 0.0)
  }

  test("text metrics: lexical PRF contract + aggregation") {
    val (p, r, f1) = TextMetrics.TokenOverlapScorer.score(
      "total revenue was high", "revenue was low")
    assert(math.abs(p - 0.5) < 1e-9)       // 2 of 4 candidate tokens
    assert(math.abs(r - 2.0 / 3) < 1e-9)   // 2 of 3 reference tokens
    assert(f1 > 0.57 && f1 < 0.58)
    assert(TextMetrics.TokenOverlapScorer.score("", "x") == ((0.0, 0.0, 0.0)))

    val sess = spark
    import sess.implicits._
    val df = Seq(("a b c", "a b c"), ("a b", "c d")).toDF("cand", "ref")
    val agg = TextMetrics.scoreAnswers(df, "cand", "ref").collect()(0)
    assert(agg.getAs[Long]("n") == 2)
    assert(math.abs(agg.getAs[Double]("mean_f1") - 0.5) < 1e-9) // (1.0 + 0.0)/2
  }

  test("approx_top_k under budget still returns the true top-k on a skewed stream") {
    // ta_heavy_hitters' oracled config is exact (budget >= |vocab|); the
    // 100 TB configuration is an UNDER-budgeted sketch. Contract pinned
    // here: on a skewed distribution, a sketch tracking ~1/8 of the
    // vocabulary still selects exactly the true top-k SET (counts are
    // approximate — membership is what degrades gracefully or not).
    val sess = spark
    import sess.implicits._
    val heavy = (0 until 10).flatMap(i => Seq.fill(1000 - 50 * i)(s"h$i"))
    val tail = (0 until 500).flatMap(i => Seq.fill(2)(s"t$i"))
    val terms = sess.sparkContext
      .parallelize(heavy ++ tail, 16).toDF("term")
    val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("term")).limit(10)
      .collect().map(_.getString(0)).toSet
    // 64 tracked items << 510 distinct terms
    val sketched = terms.selectExpr("approx_top_k(term, 10, 64) AS tk")
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("n"))
      .collect()
    assert(sketched.map(_.getString(0)).toSet == exact,
      s"under-budget sketch lost a true heavy hitter: ${sketched.mkString(",")}")
    // estimated counts stay within the sketch's n/budget error envelope
    val trueCounts = (0 until 10).map(i => s"h$i" -> (1000L - 50 * i)).toMap
    val n = heavy.size + tail.size
    sketched.foreach { r =>
      assert(math.abs(r.getLong(1) - trueCounts(r.getString(0))) <= n / 64,
        s"estimate off by more than n/budget: $r")
    }
  }

  test("EmbeddingScorer plug point: mapPartitions path equals the column path") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      ("total revenue was high", "revenue was low"),
      ("a b c", "a b c"),
      ("", "x"),
      (null, "null candidate degrades like the column path"),
      ("net income rose", "net income rose sharply")).toDF("cand", "ref")
    val colPath = TextMetrics.scoreAnswers(df, "cand", "ref").collect()(0)
    val scorerPath = TextMetrics.scoreAnswersWith(
      TextMetrics.TokenOverlapScorer, df, "cand", "ref").collect()(0)
    assert(scorerPath.getAs[Long]("n") == colPath.getAs[Long]("n"))
    for (c <- Seq("mean_precision", "mean_recall", "mean_f1"))
      assert(math.abs(scorerPath.getAs[Double](c) - colPath.getAs[Double](c)) < 1e-6,
        s"$c: $scorerPath vs $colPath")

    // a swapped-in scorer changes only the kernel: a constant scorer
    // flows through the same dataflow and lands as the constant mean
    val const = new TextMetrics.EmbeddingScorer {
      def score(c: String, r: String): (Double, Double, Double) = (0.25, 0.5, 0.375)
    }
    val sw = TextMetrics.scoreAnswersWith(const, df, "cand", "ref").collect()(0)
    assert(math.abs(sw.getAs[Double]("mean_precision") - 0.25) < 1e-9)
    assert(math.abs(sw.getAs[Double]("mean_f1") - 0.375) < 1e-9)
  }

  test("RandomProjectionScorer: BERTScore-shaped contract on the deterministic embedding") {
    val sc = new TextMetrics.RandomProjectionScorer(16)
    // identical texts: every token's best match is itself (cos 1)
    val (ip, ir, if1) = sc.score("net income rose sharply", "net income rose sharply")
    assert(ip == 1.0 && ir == 1.0 && if1 == 1.0, s"identity: ($ip, $ir, $if1)")
    // empty / blank sides score (0,0,0) like the lexical path
    assert(sc.score("", "x") == ((0.0, 0.0, 0.0)))
    assert(sc.score("x", "   ") == ((0.0, 0.0, 0.0)))
    // precision/recall swap under argument swap (greedy alignment is
    // side-symmetric); f1 invariant
    val (p1, r1, f1a) = sc.score("total revenue was high", "revenue was low today")
    val (p2, r2, f1b) = sc.score("revenue was low today", "total revenue was high")
    assert(p1 == r2 && r1 == p2 && f1a == f1b)
    // scores are bounded like raw BERTScore
    assert(p1 >= -1.0 && p1 <= 1.0 && r1 >= -1.0 && r1 <= 1.0)
    // a shared token strictly raises precision over disjoint text
    val (pShared, _, _) = sc.score("revenue up", "revenue down")
    val (pDisjoint, _, _) = sc.score("alpha beta", "gamma delta")
    assert(pShared > pDisjoint,
      s"shared-token alignment must dominate: $pShared <= $pDisjoint")
    // per-partition seam: keyed pair scores land row-per-pair with the
    // kernel's exact values
    val sess = spark
    import sess.implicits._
    val pairs = Seq((7L, "net income rose", "net income rose"),
      (9L, "", "x")).toDF("doc_id", "cand", "ref")
    val rows = TextMetrics.scorePairsWith(sc, pairs, "cand", "ref", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows(7L) == 1.0 && rows(9L) == 0.0)
  }
}
