package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Verify.dump`: a failed entry leaves no earlier run's result behind
  * for the oracle compare, and is recorded in verify_status.json. */
class VerifySpec extends SparkSpec {

  test("a failed entry removes its stale result and is listed in verify_status.json") {
    val out = Files.createTempDirectory("verify-spec").toString
    val s = spark
    import s.implicits._
    // a previous run's result for the entry that now fails
    Seq(1, 2, 3).toDF("x").write.parquet(s"$out/broken")
    val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "broken" -> ((_, _) => throw new IllegalStateException("no \"table\"\there")),
      "fine" -> ((sp, _) => sp.range(4).toDF("id")))
    assert(Verify.dump(spark, sf, out, entries) == Seq("broken"))
    assert(!Files.exists(Paths.get(out, "broken")), "stale result left behind")
    assert(spark.read.parquet(s"$out/fine").count() == 4)
    val status = spark.read.option("multiLine", "true")
      .json(s"$out/verify_status.json")
      .selectExpr("inline(failed)").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("error"), r.getAs[String]("message")))
    assert(status.toSeq == Seq(("broken", "java.lang.IllegalStateException", "no \"table\"\there")))

    // everything passes: an empty list, and the earlier failure is gone
    Verify.dump(spark, sf, out, entries.drop(1))
    assert(Files.readString(Paths.get(out, "verify_status.json")) == """{"failed": []}""")
  }
}
