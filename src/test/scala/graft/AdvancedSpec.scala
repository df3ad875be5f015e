package graft

import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin
import graft.queries.{Advanced, QaPipeline}
import graft.streaming.StreamingOps

class AdvancedSpec extends SparkSpec {

  test("ratio matches difflib.SequenceMatcher.ratio golden values") {
    // golden values computed with Python difflib (autojunk=False)
    val golden = Seq(
      ("cold widget", "small widget", 0.6956521739130435),
      ("Supplier#000000001", "Customer#000000001", 0.7222222222222222),
      ("abcdef", "", 0.0),
      ("same", "same", 1.0),
      ("kitten", "sitting", 0.6153846153846154))
    golden.foreach { case (a, b, expected) =>
      val got = FuzzyJoin.ratioFn(a, b)
      assert(math.abs(got - expected) < 1e-12, s"ratio($a,$b)=$got != $expected")
    }
  }

  test("number extraction regexes") {
    val sess = spark
    import sess.implicits._
    val df = Seq("revenue grew from 1999 to 2024 by 42.5 percent (1.2x)").toDF("t")
    val row = df.select(
      FuzzyJoin.extractYears(col("t")).as("y"),
      FuzzyJoin.extractNumbers(col("t")).as("n")).collect()(0)
    assert(row.getSeq[String](0) == Seq("1999", "2024"))
    assert(row.getSeq[String](1) == Seq("1999", "2024", "42.5", "1.2"))
  }

  test("rollup has pair, subtotal, and grand-total levels") {
    val rows = Advanced.rollupAgg(spark, sf).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid(0L).length == 6)  // 3 flags x 2 statuses
    assert(byGid(1L).length == 3)  // per-flag subtotals
    assert(byGid(3L).length == 1)  // grand total
    val total = byGid(3L)(0).getAs[Long]("n")
    assert(total == byGid(0L).map(_.getAs[Long]("n")).sum)
  }

  test("streaming QA answers equal batch answers") {
    val streamed = StreamingOps.streamingQaAnswers(spark, sf, Engine(threshold = Some(1)))
      .orderBy("doc_id").collect()
    val batch = QaPipeline.mapreduceAnswers(spark, sf)
      .orderBy("doc_id").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("fuzzy best match returns one row per part") {
    val rows = Advanced.fuzzyBestMatch(spark, sf).collect()
    val parts = spark.read.parquet(s"$sf/part.parquet").count()
    assert(rows.length == parts)
    assert(rows.map(_.getAs[Long]("part_a")).distinct.length == rows.length)
  }

  test("composite similarity matches independent golden values per branch") {
    // goldens from a separate Python implementation (difflib ratio + set
    // Jaccards + the augment_finqa.py:100-111 cascade), one per branch
    val cases = Seq(
      ("Revenue was $12,500 million in 2021 and grew 5%",
        "In 2021 revenue reached $12,500 million, growth of 5%",
        1.0),                      // year branch, clamped at 1.0
      ("Costs of $300 thousand reported with margin 12",
        "The costs were $300 thousand; margin stayed at 12",
        0.924731182796),           // amount branch
      ("Headcount grew to 4510 by quarter three",
        "By quarter three headcount was 4510",
        0.772972972973),           // other-number branch
      ("alpha beta gamma delta", "alpha beta gamma epsilon",
        0.413043478261),           // string-only branch (0.5 * ratio)
      ("Order 7 total $144449 approx 144 thousand in 1997 priority 3-MEDIUM",
        "Order 9 total $88094 approx 88 thousand in 1997 priority 4-NOT SPECIFIED",
        0.975912408759))           // orderText shape used by the queries
    val sess = spark
    import sess.implicits._
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(graft.operators.FuzzyJoin.compositeSimilarity(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, _, want), have) =>
      assert(math.abs(have - want) < 1e-9, s"composite('$a',...) = $have, want $want")
    }
  }

  test("composite match keeps threshold and one best row per order") {
    val rows = Advanced.compositeMatch(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("sim") >= 0.4))
    val ids = rows.map(_.getAs[Long]("order_a"))
    assert(ids.distinct.length == ids.length)
    // same-year pairs exist in every customer block of 10 orders over a
    // ~10-year span, and the year branch floors the score at 0.3 + 0.6*y
    assert(rows.exists(_.getAs[Double]("sim") >= 0.9))
  }

  test("stream drift: L1 in [0,2], streaming profile matches the batch windows") {
    val rows = graft.queries.Advanced.streamDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val drift = r.getDouble(2)
      assert(drift >= 0.0 && drift <= 2.0, s"${r.getString(0)}: $drift")
      assert(r.getLong(1) > 0)
    }
    // the streamed windows must be exactly the batch tumbling windows
    val batchWindows = spark.read.parquet(s"$sf/events.parquet").count()
    val streamed = rows.map(_.getLong(1)).sum
    assert(streamed == batchWindows,
      s"windowed event total $streamed vs table $batchWindows")
  }

  test("lcs_tokens matches a naive memoized LCS; cap and edge semantics hold") {
    import graft.functions.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    def naive(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(99)
    def doc(n: Int) = Seq.fill(n)("w" * (1 + rnd.nextInt(3)) +
      ("abcdef" (rnd.nextInt(6)).toString))
    for (_ <- 1 to 200) {
      val a = doc(rnd.nextInt(30))
      val b = doc(rnd.nextInt(30))
      val got = TextKernels.lcsTokens(
        UTF8String.fromString(a.mkString(" ")),
        UTF8String.fromString(b.mkString(" ")), 64)
      assert(got === naive(a, b), s"a=$a b=$b")
    }
    // golden + edges
    def lcs(a: String, b: String, m: Int = 64) =
      TextKernels.lcsTokens(UTF8String.fromString(a),
        UTF8String.fromString(b), m)
    assert(lcs("the cat sat on the mat", "the dog sat on a mat") === 4)
    assert(lcs("", "anything here") === 0)
    assert(lcs("same same", "same same") === 2)
    // the cap truncates BOTH sides: only the first maxT tokens count
    assert(lcs("aa bb cc dd", "aa bb cc dd", 2) === 2)
    assert(lcs("zz aa", "aa zz", 1) === 0) // first tokens differ
  }

  test("log-BLEU: bounds, internal consistency, clipping semantics") {
    val rows = graft.queries.QaPipeline.bleu(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p1 = r.getAs[Double]("p1")
      val p2 = r.getAs[Double]("p2")
      assert(p1 >= 0.0 && p1 <= 1.0)
      assert(p2 >= 0.0 && p2 <= 1.0)
      if (!r.isNullAt(r.fieldIndex("bp_log")))
        assert(r.getAs[Double]("bp_log") <= 0.0)
      if (!r.isNullAt(r.fieldIndex("log_bleu"))) {
        val lb = r.getAs[Double]("log_bleu")
        assert(lb <= 1e-9) // log of a [0,1] score
        // consistency with the reported (rounded) components, 6dp slack
        val recomputed = r.getAs[Double]("bp_log") +
          0.5 * math.log(p1) + 0.5 * math.log(p2)
        assert(math.abs(lb - recomputed) < 1e-4,
          s"doc ${r.getAs[Long]("doc_id")}: $lb vs $recomputed")
      } else {
        // NULL only when a precision term is zero (or no candidate)
        assert(p1 == 0.0 || p2 == 0.0)
      }
    }
    // answers are extractive substrings of the doc: clipped precision
    // is overwhelmingly 1 for long-enough candidates — sanity that the
    // metric distinguishes brevity from precision
    assert(rows.count(r => r.getAs[Double]("p1") == 1.0) > rows.length / 2)
  }
}
