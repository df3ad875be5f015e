package graft

import org.apache.spark.sql.functions._

import graft.operators.LinearModel

/** Contracts for the distributed softsign-GD linear classifier: the
  * trainer must be bit-identical to a driver-side replay of the same
  * fold orders, invariant to input partitioning (the property the
  * two-level ordered fold exists for), and must actually learn a
  * separable rule. */
class LinearModelSpec extends SparkSpec {
  private val sess = SparkSpec.spark
  import sess.implicits._

  private def softsign(z: Double): Double = 0.5 * (1.0 + z / (1.0 + math.abs(z)))

  // ids span multiple 1024-blocks so the second fold level is exercised
  private def toy(n: Int): Seq[(Long, Double, Double)] =
    (0 until n).map { i =>
      val x = (i % 97) / 97.0
      (i.toLong, x, if (x >= 0.5) 1.0 else 0.0)
    }

  test("trainer equals a driver-side replay of the block folds bit-for-bit") {
    val data = toy(3000)
    val df = toy(3000).toDF("id", "x1", "y")
    val got = LinearModel.trainSoftsignGd(df, "id", Seq("x1"), "y",
      learnRate = 4.0, iters = 15)
    // naive replay: same link, same two-level fold order, same update
    var w = Array(0.0, 0.0)
    val n = data.size.toDouble
    for (_ <- 0 until 15) {
      val byBlk = data.groupBy(_._1 / LinearModel.BlockSize).toSeq.sortBy(_._1)
      val g = Array(0.0, 0.0)
      val blkSums = byBlk.map { case (_, rows) =>
        val sorted = rows.sortBy(_._1)
        var s0 = 0.0; var s1 = 0.0
        sorted.foreach { case (_, x, y) =>
          val err = softsign(w(0) + w(1) * x) - y
          s0 += err; s1 += err * x
        }
        (s0, s1)
      }
      blkSums.foreach { case (s0, s1) => g(0) += s0; g(1) += s1 }
      w = Array(w(0) - 4.0 * (g(0) / n), w(1) - 4.0 * (g(1) / n))
    }
    assert(got.toSeq == w.toSeq, s"${got.toSeq} vs ${w.toSeq}")
  }

  test("training is bit-invariant to input partitioning and learns the rule") {
    val df = toy(2000).toDF("id", "x1", "y")
    val w7 = LinearModel.trainSoftsignGd(df.repartition(7), "id", Seq("x1"),
      "y", learnRate = 4.0, iters = 25)
    val w1 = LinearModel.trainSoftsignGd(df.coalesce(1), "id", Seq("x1"),
      "y", learnRate = 4.0, iters = 25)
    assert(w7.toSeq == w1.toSeq)
    assert(w7(1) > 0.0, "slope must align with the positive threshold rule")
    val acc = toy(2000).count { case (_, x, y) =>
      (softsign(w7(0) + w7(1) * x) > 0.5) == (y == 1.0)
    } / 2000.0
    assert(acc >= 0.9, s"accuracy $acc")
  }

  test("a null id, feature or label fails fast, naming its column") {
    val df = toy(50).toDF("id", "x1", "y").withColumn("x2", col("x1") * 2)
    def nulled(c: String) = df.withColumn(c,
      when(col("id") === 7L, lit(null).cast(df.schema(c).dataType)).otherwise(col(c)))
    for (c <- Seq("id", "x1", "x2", "y")) {
      val e = intercept[Exception](LinearModel.trainSoftsignGd(nulled(c), "id",
        Seq("x1", "x2"), "y", learnRate = 4.0, iters = 2))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains(s"null in column '$c'")), s"$c: $chain")
    }
  }

  test("ta_quality_lr: probabilities valid, pred consistent, beats majority class") {
    val rows = graft.queries.AnalysisQueries.qualityLr(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getDouble(1); val pred = r.getInt(2); val label = r.getInt(3)
      assert(p >= 0.0 && p <= 1.0)
      assert(pred == 0 || pred == 1)
      assert(label == 0 || label == 1)
    }
    val acc = rows.count(r => r.getInt(2) == r.getInt(3)).toDouble / rows.size
    val majority = math.max(rows.count(_.getInt(3) == 1),
      rows.count(_.getInt(3) == 0)).toDouble / rows.size
    assert(acc + 1e-9 >= majority * 0.9,
      s"classifier acc $acc far below majority $majority")
  }
}
