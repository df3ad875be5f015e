package graft

import org.apache.spark.sql.functions._

/** Sketch reaggregation — the 100 TB dashboard pattern: materialize a
  * small mergeable summary per fine-grained cell (day), answer coarser
  * questions (week, total) by MERGING summaries instead of rescanning
  * raw data. Datasketches HLL union at equal lgK is lossless over the
  * sketch state, so the merged estimate must EQUAL the direct estimate
  * over the raw stream — that equality (not just an error bound) is the
  * contract pinned here, plus the usual accuracy bound vs exact. */
class ReaggregateSpec extends SparkSpec {

  test("daily HLL sketches merged == direct sketch; estimate near exact") {
    // events must go through Tables.load (INT64 TIMESTAMP(NANOS) parquet)
    val ev = graft.core.Tables.load(spark, sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))

    // fine-grained summaries: one 12-bit HLL sketch per day
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))

    // coarse answer by MERGE (never rescans events)
    val merged = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est"))
      .collect()(0).getLong(0)

    val direct = ev
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est"))
      .collect()(0).getLong(0)

    val exact = ev.select(col("user_id")).distinct().count()

    assert(merged == direct,
      s"lossless merge violated: merged=$merged direct=$direct")
    // 12-bit HLL relative standard error ~= 1.04 / sqrt(2^12) ~= 1.6%;
    // allow 5 sigma
    assert(math.abs(merged - exact).toDouble / exact < 0.08,
      s"estimate $merged too far from exact $exact")
  }

  test("count-min sketch: one-sided error within eps*N; split-merge equals direct") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val terms = docs.select(explode(
      LegacyOracles.regexTokens(col("text"))).as("term"))
    val exact = terms.groupBy(col("term")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    // engine CMS width 2048: expected extra load per cell = N/2048;
    // the min over 4 independent rows sits well under 2/width * N
    val eps = 2.0 / graft.queries.AnalysisQueries.CmsWidth
    val est = graft.queries.AnalysisQueries.cmsCounts(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (w, e) =>
      val t = exact.getOrElse(w, 0L)
      assert(e >= t, s"CMS must never underestimate: $w est $e < true $t")
      assert(e <= t + math.ceil(eps * n).toLong,
        s"CMS estimate for '$w' outside eps*N: est $e true $t n $n")
    }
    // mergeability: counter tables over two disjoint halves must ADD
    // cell-wise to the single-pass table (increments commute — the
    // property that lets 1000 executors build partial sketches and the
    // reducer sum them without ever seeing the term stream)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      graft.queries.AnalysisQueries.cmsCells(df)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = cellsOf(docs)
    val half1 = cellsOf(docs.filter(col("doc_id") % 2 === 0))
    val half2 = cellsOf(docs.filter(col("doc_id") % 2 === 1))
    val merged = (half1.keySet ++ half2.keySet).map(k =>
      k -> (half1.getOrElse(k, 0L) + half2.getOrElse(k, 0L))).toMap
    assert(merged == direct, "split-merge diverged from direct counter table")
  }

  test("engine HLL: split-merge registers (per-index max) equal direct") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"), col("l_partkey").cast("string").as("v"))
    def regs(df: org.apache.spark.sql.DataFrame) =
      graft.queries.Relational.hllRegisters(df, Seq("l_returnflag"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val direct = regs(li)
    val h1 = regs(li.filter(col("l_partkey") % 2 === 0))
    val h2 = regs(li.filter(col("l_partkey") % 2 === 1))
    val merged = (h1.keySet ++ h2.keySet).map(k =>
      k -> math.max(h1.getOrElse(k, 0), h2.getOrElse(k, 0))).toMap
    assert(merged == direct,
      "disjoint-half registers must max-merge into the direct table")
  }

  test("KMV intersection estimate: bounded inputs, sane estimate vs exact") {
    val r = graft.queries.Relational.kmvIntersect(spark, sf).collect().head
    val exact = r.getAs[Long]("exact_intersection")
    val nBoth = r.getAs[Long]("n_both")
    val est = r.getAs[Double]("est_intersection")
    assert(nBoth >= 0 && nBoth <= 64)
    assert(est >= 0.0)
    // k = 64 gives ~12.5% RSE on the union and the rho factor adds
    // binomial noise — assert a loose 2.5x band, not sketch luck
    assert(est > exact / 2.5 && est < exact * 2.5,
      s"est $est vs exact $exact")
    // the estimate can never exceed the union estimate
    assert(est <= r.getAs[Double]("est_union") + 1e-9)
  }
}
