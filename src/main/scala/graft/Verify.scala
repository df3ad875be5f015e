package graft
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and
  * verify_status.json, the entries that failed.
  *
  * Usage: sbt "runMain graft.Verify <sfDir> <outDir>"
  * Env: SPARK_GRAFT_CPUS (default: available processors),
  * SPARK_GRAFT_ONLY */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    // Dev-only subset filter (comma-separated names, same contract as
    // Bench); the driver leaves it unset and dumps everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Additive gate artifacts (OraclePrelude): shared CREATE TEMP TABLE
    // DDL + substituted fast oracle variants. The driver keeps running
    // the self-contained oracle_sql.json; check_oracle.py prefers the
    // fast variants when these files are present.
    Files.writeString(Paths.get(s"$outDir/oracle_prelude.json"),
      OraclePrelude.statements.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql_fast.json"),
      OraclePrelude.fastOracles(SparkEntry.oracleSql)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }

  /** Writes each entry's result to `outDir/<name>` and the failures to
    * `outDir/verify_status.json` (`{"failed": [{"name", "error",
    * "message"}]}`, an empty list when every entry succeeded). Each
    * entry's directory is removed before it runs, so a failed entry
    * leaves no earlier run's result behind for the oracle compare.
    * Returns the names of the failed entries. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      entries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = entries.flatMap { case (name, fn) =>
      val dir = Paths.get(outDir, name)
      try {
        if (Files.exists(dir)) graft.streaming.StreamingOps.rmTree(dir)
        fn(spark, sfDir).coalesce(1).write.parquet(dir.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }
    writeStatus(Paths.get(outDir, "verify_status.json"), failed)
    failed.map(_._1)
  }

  /** Writes failed entries as `{"failed": [{"name", "error",
    * "message"}]}`, an empty list when none failed: Verify's
    * `verify_status.json` and Bench's `bench_status.json`. */
  private[graft] def writeStatus(path: Path,
      failed: Seq[(String, Throwable)]): Unit =
    Files.writeString(path, failed.map {
      case (name, e) => s"""{"name": ${q(name)}, "error": ${q(e.getClass.getName)}, """ +
        s""""message": ${q(String.valueOf(e.getMessage))}}"""
    }.mkString("{\"failed\": [", ", ", "]}"))

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // oracle gate's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
