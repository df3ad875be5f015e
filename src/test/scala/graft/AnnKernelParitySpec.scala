package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.operators.{AnnKernels, Similarity}

/** The r17 fused ANN kernels ([[graft.operators.AnnKernels]]) replaced
  * interpreted higher-order-function formulations inside ivfAssign /
  * pqEncode / the ADC distance table. These tests pin the kernels
  * BITWISE against the exact legacy expressions they replaced —
  * including tie rows (duplicated centroids) — so the oracle hash gates
  * over the ANN family cannot move. */
class AnnKernelParitySpec extends SparkSpec {
  private val sess = SparkSpec.spark
  import sess.implicits._

  private val dim = 64
  private val m = 8
  private val sub = dim / m

  // deterministic pseudo-random vectors (fmix-style LCG, no Math.random)
  private def vec(seed: Long): Array[Double] = {
    var s = seed * 6364136223846793005L + 1442695040888963407L
    Array.fill(dim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
  }

  // 7 centroids, two of them IDENTICAL (ids 4 and 5) to force exact
  // cosine/distance ties through the tiebreak path
  private def centroids: DataFrame =
    ((0 to 4).map(i => (i.toLong, vec(100 + i).toSeq)) :+ (5L, vec(104).toSeq))
      .toDF("vec_id", "embedding")

  private def corpus: DataFrame =
    (0 until 200).map(i => (i.toLong, vec(i).toSeq)).toDF("vec_id", "embedding")

  test("ivfAssign fused argmax == legacy array_max(transform) bitwise") {
    val cents = centroids.select(col("vec_id").cast("long"),
        Similarity.toDoubleArray(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val centsLit = typedLit(cents)
    val legacy = corpus
      .withColumn("dv", Similarity.toDoubleArray(col("embedding")))
      .withColumn("best", array_max(transform(centsLit, c =>
        struct(Similarity.cosine(col("dv"), c("_2")).as("csim"),
          (-c("_1")).as("nid")))))
      .select(col("vec_id"), (-col("best.nid")).cast("long").as("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fused = Similarity.ivfAssign(corpus, centroids)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fused == legacy)
    // the duplicated centroid pair must resolve to the SMALLER id
    assert(!fused.values.exists(_ == 5L),
      "tie between identical centroids 4/5 must keep id 4")
  }

  test("pqEncode fused kernel == legacy slice/zip_with/array_min bitwise") {
    val cents = centroids.select(col("vec_id").cast("long"),
        Similarity.toDoubleArray(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val centsLit = typedLit(cents)
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val bests = (0 until m).map { j =>
      array_min(transform(centsLit, (c, i) =>
        struct(
          l2sq(slice(col("dv"), j * sub + 1, sub),
            slice(c("_2"), j * sub + 1, sub)).as("d"),
          (i + 1).as("code")))).as(s"b$j")
    }
    val withB = corpus
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("dv"))
      .select(col("vec_id") +: bests: _*)
    val recon = (0 until m).map(j => col(s"b$j")("d")).reduceLeft(_ + _)
    val legacy = withB.select(col("vec_id"),
        array((0 until m).map(j => col(s"b$j")("code")): _*).as("codes"),
        round(sqrt(recon), 6).as("recon_err"))
      .collect()
      .map(r => (r.getLong(0), (r.getSeq[Int](1).toList, r.getDouble(2)))).toMap
    val fused = Similarity.pqEncode(corpus, centroids, m)
      .collect()
      .map(r => (r.getLong(0), (r.getSeq[Int](1).toList, r.getDouble(2)))).toMap
    assert(fused == legacy)
  }

  test("ADC distance table fused kernel == legacy nest bitwise") {
    val cents = centroids.select(col("vec_id").cast("long"),
        Similarity.toDoubleArray(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val centsLit = typedLit(cents.toSeq)
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val q = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("qv"))
    val legacy = q.withColumn("dtab", array((0 until m).map(j =>
        transform(centsLit, c =>
          l2sq(slice(col("qv"), j * sub + 1, sub),
            slice(c("_2"), j * sub + 1, sub)))): _*))
      .select(col("vec_id"), col("dtab"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Any](1).map(_.asInstanceOf[scala.collection.Seq[Double]]
          .toList).toList)).toMap
    val fused = q.withColumn("dtab",
        AnnKernels.pqDistTableCol(col("qv"), cents.map(_._2.toArray), m, sub))
      .select(col("vec_id"), col("dtab"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Any](1).map(_.asInstanceOf[scala.collection.Seq[Double]]
          .toList).toList)).toMap
    assert(fused == legacy)
  }

  test("an empty codebook fails loudly in ivfAssign and pqEncode") {
    val empty = centroids.limit(0)
    val ivf = intercept[IllegalArgumentException](Similarity.ivfAssign(corpus, empty))
    assert(ivf.getMessage.contains("nearestIdCol: empty centroid codebook"), ivf.getMessage)
    val pq = intercept[IllegalArgumentException](Similarity.pqEncode(corpus, empty, m, dim))
    assert(pq.getMessage.contains("pqEncodeCol: empty anchor codebook"), pq.getMessage)
  }
}
