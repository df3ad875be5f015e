package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Dedup

/** The r18 fused pair-enumeration kernel ([[graft.operators.PairKernels]])
  * replaced the interpreted `flatten(transform(..., slice(...)))` nest
  * behind [[Dedup.pairsOf]] — the one idiom shared by the LSH postings
  * pair join, the co-purchase pair table and the Adamic-Adar wedge
  * expansion. These tests pin the kernel against the VERBATIM legacy
  * expression ([[LegacyOracles.pairsOfLegacy]]) row-for-row in explode order,
  * across the element types the call sites use (bigint ids, strings,
  * (id, n) postings structs), plus the degenerate shapes (empty,
  * singleton, null array, null elements). */
class PairKernelsParitySpec extends SparkSpec {
  private val sess = SparkSpec.spark
  import sess.implicits._

  /** Explode both formulations over the same input and compare the full
    * ordered row sequence (zipWithIndex keeps the enumeration order in
    * the comparison — order is part of the contract because downstream
    * consumers feed ordered folds). */
  private def assertParity(df: DataFrame, arr: String): Unit = {
    def rows(pairs: org.apache.spark.sql.Column): Seq[(Long, Row)] = {
      val exploded = df.select(col("gid"), posexplode(pairs).as(Seq("i", "p")))
        .select(col("gid"), col("i"), col("p._1"), col("p._2"))
      exploded.collect().toSeq
        .map(r => (r.getLong(0) * 1000000L + r.getInt(1), r))
        .sortBy(_._1)
    }
    val kernel = rows(Dedup.pairsOf(col(arr)))
    val legacy = rows(LegacyOracles.pairsOfLegacy(col(arr)))
    assert(kernel.map(_._2.toString) == legacy.map(_._2.toString))
  }

  test("long-id arrays: kernel == legacy, order included") {
    val df = Seq(
      (1L, Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L)),
      (2L, Seq(10L, 20L)),
      (3L, Seq(7L)),
      (4L, Seq.empty[Long]),
    ).toDF("gid", "ids")
    assertParity(df, "ids")
  }

  test("string arrays: kernel == legacy") {
    val df = Seq(
      (1L, Seq("b", "a", "c", "a")),
      (2L, Seq("x")),
      (3L, Seq.empty[String]),
      (4L, Seq("多字节", "ασκί", "")),
    ).toDF("gid", "ids")
    assertParity(df, "ids")
  }

  test("struct postings arrays (the (id, n) shape): kernel == legacy") {
    val df = Seq(
      (1L, Seq((10L, 3), (11L, 5), (12L, 2))),
      (2L, Seq((7L, 1))),
      (3L, Seq.empty[(Long, Int)]),
    ).toDF("gid", "raw")
      .select(col("gid"),
        transform(col("raw"), s =>
          struct(s.getField("_1").as("id"), s.getField("_2").as("n")))
          .as("ds"))
    assertParity(df, "ds")
  }

  test("null array and null elements match the legacy nest") {
    val df = Seq(
      (1L, Some(Seq[Option[Long]](Some(1L), None, Some(3L)))),
      (2L, None),
    ).toDF("gid", "ids")
    // null array: both formulations yield null (posexplode drops it)
    assertParity(df, "ids")
    val kernelNull = df.select(Dedup.pairsOf(col("ids")).as("p"))
      .filter(col("p").isNull).count()
    val legacyNull = df.select(LegacyOracles.pairsOfLegacy(col("ids")).as("p"))
      .filter(col("p").isNull).count()
    assert(kernelNull == 1L && legacyNull == 1L)
  }

  test("large deterministic array: count n*(n-1)/2 and order") {
    val n = 60
    val ids = (0 until n).map(i =>
      (i * 6364136223846793005L + 1442695040888963407L) >>> 17)
    val df = Seq((1L, ids)).toDF("gid", "ids")
    assertParity(df, "ids")
    val cnt = df.select(explode(Dedup.pairsOf(col("ids")))).count()
    assert(cnt == n.toLong * (n - 1) / 2)
  }

  test("schema matches the legacy nest exactly") {
    val df = Seq((1L, Seq(1L, 2L))).toDF("gid", "ids")
    val k = df.select(Dedup.pairsOf(col("ids")).as("p")).schema
    val l = df.select(LegacyOracles.pairsOfLegacy(col("ids")).as("p")).schema
    assert(k == l)
  }
}
