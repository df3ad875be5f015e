package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: sbt "runMain graft.Verify <sfDir> <outDir>"
  * Env: SPARK_GRAFT_CPUS (default: available processors),
  * SPARK_GRAFT_ONLY */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names, same contract as
    // Bench); the driver leaves it unset and dumps everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
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
}
