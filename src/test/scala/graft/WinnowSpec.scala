package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Winnowing fingerprinting ([[graft.functions.TextKernels.winnow]] /
  * [[Dedup.winnowingPairs]]): kernel-vs-declarative equality on real
  * corpus text, the SIGMOD'03 local-match guarantee, and the boundary
  * cases (short docs, all-equal hashes, exact one-window docs).
  */
class WinnowSpec extends SparkSpec {

  private val K = 4
  private val W = 4

  test("kernel equals the declarative transform/slice/array_min formulation") {
    // The naive spec: ordered k-shingle hash64 list, min of every
    // w-window, distinct + ascending. Built from independent building
    // blocks (regex_tokens, hash64, slice, array_min) — any kernel bug in
    // the deque, tie rule, or hashing diverges here.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val naive = docs
      .withColumn("toks", LegacyOracles.regexTokens(col("text")))
      .withColumn("m", size(col("toks")) - K + 1)
      .withColumn("hs", transform(sequence(lit(1), greatest(col("m"), lit(0))),
        i => TextFunctions.hash64(array_join(slice(col("toks"), i, lit(K)), " "))))
      .withColumn("naive",
        when(col("m") >= W,
          array_sort(array_distinct(transform(
            sequence(lit(1), col("m") - W + 1),
            j => array_min(slice(col("hs"), j, lit(W)))))))
        .otherwise(array().cast("array<bigint>")))
      .withColumn("kernel",
        TextFunctions.winnow_fingerprints(col("text"), lit(K), lit(W)))
    val bad = naive.filter(not(col("naive") <=> col("kernel"))).count()
    assert(bad === 0)
    // and the corpus actually exercises the kernel (non-empty outputs)
    assert(naive.filter(size(col("kernel")) > 0).count() > 0)
  }

  test("guarantee: a shared run of k + w - 1 tokens yields a shared fingerprint") {
    val rnd = new scala.util.Random(421)
    def tok() = "t" + rnd.nextInt(5000)
    val run = Seq.fill(K + W - 1)(tok()).mkString(" ")
    val pairs = (0 until 50).map { i =>
      val a = (Seq.fill(30)(tok()).mkString(" ") + " " + run + " " +
        Seq.fill(30)(tok()).mkString(" "))
      val b = (Seq.fill(25)(tok()).mkString(" ") + " " + run + " " +
        Seq.fill(35)(tok()).mkString(" "))
      (i.toLong, a, b)
    }
    val df = spark.createDataFrame(pairs).toDF("id", "a", "b")
      .withColumn("fa", TextFunctions.winnow_fingerprints(col("a"), lit(K), lit(W)))
      .withColumn("fb", TextFunctions.winnow_fingerprints(col("b"), lit(K), lit(W)))
      .withColumn("shared", size(array_intersect(col("fa"), col("fb"))))
    assert(df.filter(col("shared") < 1).count() === 0)
  }

  test("boundaries: short docs empty, one-window docs one fp, all-ties one fp") {
    // letter-only tokens: the engine tokenizer splits letter/digit runs,
    // so "w1" would be TWO tokens and break the length arithmetic
    def lt(i: Int) = ('a' + i).toChar.toString * 2
    val rows = Seq(
      (1L, ""), // empty
      (2L, (0 until (K + W - 2)).map(lt).mkString(" ")), // one token short
      (3L, (0 until (K + W - 1)).map(lt).mkString(" ")), // exactly one window
      (4L, Seq.fill(40)("same").mkString(" ")) // every shingle identical
    )
    val out = spark.createDataFrame(rows).toDF("id", "text")
      .select(col("id"),
        size(TextFunctions.winnow_fingerprints(col("text"), lit(K), lit(W)))
          .as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) === 0)
    assert(out(2L) === 0)
    assert(out(3L) === 1)
    assert(out(4L) === 1)
  }

  test("pairs: equal docs share every fingerprint, score 1; disjoint docs absent") {
    val rnd = new scala.util.Random(77)
    def tok() = "x" + rnd.nextInt(100000)
    val t1 = Seq.fill(60)(tok()).mkString(" ")
    val t2 = Seq.fill(60)(tok()).mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (10L, t1), (11L, t1), (12L, t2))).toDF("doc_id", "text")
    val rows = Dedup.winnowingPairs(docs, "doc_id", "text", k = K, w = W,
      minShared = 1, dfCap = 16).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("doc_a") === 10L && r.getAs[Long]("doc_b") === 11L)
    assert(r.getAs[Double]("score") === 1.0)
    assert(r.getAs[Long]("n_shared") === r.getAs[Long]("n_a"))
  }

  test("density audit: observed distinct-selection density obeys the bounds") {
    val rows = graft.queries.DedupQueries.winnowDensity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Double]("density")
      val theo = r.getAs[Double]("theoretical")
      // every window selects SOME fingerprint and at least one window
      // per doc contributes one -> density in (0, 1]; distinct-set
      // counting keeps it near-or-under ~the 2/(w+1) selection rate
      // (small slack: short docs select a larger share of their few
      // windows)
      assert(d > 0.0 && d <= 1.0, s"density $d out of range: $r")
      assert(theo == 0.4)
      assert(d <= theo * 2.0,
        s"density $d far above the 2/(w+1) selection bound: $r")
    }
  }
}
