package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // local[4, 2]: 4 threads, maxFailures = 2 — task failures RETRY
    // once instead of failing the job, which is what lets RetrySpec
    // exercise real task re-execution (plain local[n] pins
    // maxFailures = 1). Tests that assert on job failure still see the
    // same SparkException; the failing task just runs twice first.
    //
    // The shipped confs (GraftSession.confs) minus the extension: once
    // graft.GraftExtensions is injected, experimental.extraOptimizations
    // cannot switch UnionAggToGroupingSets / TokenFilterStrengthen off,
    // and the rule-on vs rule-off comparisons (GroupingSetsFuzzSpec,
    // PlanAuditSpec, PlanSpec) need that rule-off baseline — without it
    // they would compare a plan with itself.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config(GraftSession.confs - "spark.sql.extensions")
      .getOrCreate()
    GraftSession.setLogLevels(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
