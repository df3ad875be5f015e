package graft

import org.apache.spark.sql.functions._

/** RP-LSH index-tuning harness — the measurement behind the
  * [[graft.operators.Similarity.rpLshNearDups]] scale contract. With a
  * FIXED signature width, random bucket collisions are
  * L·n²/2^bits: the candidate term is quadratic in corpus size, which
  * the 100× frame measures directly (the catalog entry pins bits = 8
  * for the cross-engine oracle — a 7.7× isolated step on the 3.33×
  * 30→100 data step, quadratic-dominated exactly as the model says).
  * The documented lever is bits ≈ log₂(n): sweep `bits` at the current
  * frame and print, per setting, the measured seconds, the exact
  * candidate-pair volume (pre-verify), and the verified pair count (the
  * recall proxy — sign-LSH recall decays as buckets split, so the
  * sweep exposes BOTH sides of the tradeoff, not just the speedup).
  *
  * Prints one JSON line per bits setting:
  * `{"metric":"rplsh_tune","bits":b,"sec":s,"candidates":c,"pairs":p,
  *   "n":n,"sf":dir}`.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<frame> runMain graft.RpLshTune
  * [bits,bits,...]` (default sweep 8,10,12); `SPARK_GRAFT_CPUS`
  * defaults to the available processors. */
object RpLshTune {

  private val Threshold = 0.35 // the catalog entry's NearDupThreshold
  private val Tables = 32

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sweep =
      if (args.nonEmpty) args(0).split(",").map(_.trim.toInt).toSeq
      else Seq(8, 10, 12)
    val spark = GraftSession()

    val emb = core.Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    // candidate volume via the same ids-only bucket join the operator
    // runs (one row per colliding (a, b, table) before pair dedup) —
    // counted separately so the number is exact, not inferred from time
    def candidates(bits: Int): Long = {
      val v = emb.select(col("vec_id"),
        posexplode(graft.operators.Similarity.rpLshSig(
          graft.operators.Similarity.toDoubleArray(col("embedding")),
          Tables, bits)).as(Seq("tbl", "sig")))
      v.select(col("tbl"), col("sig"), col("vec_id").as("a"))
        .join(v.select(col("tbl"), col("sig"), col("vec_id").as("b")),
          Seq("tbl", "sig"))
        .filter(col("a") < col("b"))
        .count()
    }
    sweep.foreach { bits =>
      val t0 = System.nanoTime()
      val pairs = graft.operators.Similarity
        .rpLshNearDups(emb, Threshold, Tables, bits).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val cand = candidates(bits)
      println(f"""{"metric":"rplsh_tune","bits":$bits,"sec":$sec%.2f,""" +
        s""""candidates":$cand,"pairs":$pairs,"n":$n,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
