package graft.core

import org.apache.spark.sql.SparkSession

/** Shuffle/spill local-directory selection (r18, guide §2.1/§6).
  *
  * Spark writes a data + index (+ checksum) file per shuffle-map task
  * and all persist/checkpoint disk blocks under `spark.local.dir`. On
  * this sandbox the default (`/tmp`) sits on the ext4 root volume, and
  * the per-task file I/O there measured as HALF the per-SQL-action
  * driver floor (FloorProbe, idle host, 300 reps):
  *
  *   - 2-stage RDD shuffle (32×32):   64.5 ms → 31.8 ms on tmpfs
  *   - range(100).agg().collect():    90.7 ms → 45.3 ms on tmpfs
  *
  * A production cluster points `spark.local.dir` at fast local NVMe
  * (the standard operational guidance the optimization guide's §2.1
  * "local disk bandwidth for shuffle files can be the tighter limit"
  * describes); this helper is that decision made host-adaptively:
  * prefer `/dev/shm` (RAM-backed tmpfs) when it exists, is writable,
  * and has comfortable headroom, else leave Spark's default alone.
  * The choice changes WHERE temp bytes live, never what any query
  * computes; blocks are per-application subdirs Spark removes on
  * shutdown.
  *
  * Env override `SPARK_GRAFT_LOCAL_DIR`: a path forces that directory;
  * the literal `default` (or an empty value) disables the tmpfs
  * preference and keeps Spark's own default — the A/B knob that
  * reproduces the measurement above.
  *
  * The headroom gate (≥ 32 GiB usable) is deliberately conservative:
  * at bench scale (sf0.1) total shuffle + spill volume is a few MB,
  * and a 100 TB deployment sets the env/conf to its NVMe array rather
  * than relying on this default. */
object LocalDirs {

  private val MinUsableBytes = 32L << 30

  /** The preferred local dir, if any: env override first, then the
    * guarded tmpfs default. `env` is injectable for the spec. */
  def preferred(env: Map[String, String] = sys.env): Option[String] =
      env.get("SPARK_GRAFT_LOCAL_DIR") match {
    case Some("") | Some("default") => None
    case Some(p) => Some(p)
    case None =>
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > MinUsableBytes) {
        val d = new java.io.File(shm, "graft-spark-local")
        if (d.isDirectory || d.mkdirs()) Some(d.getAbsolutePath) else None
      } else None
  }

  /** A fresh per-invocation scratch directory (staged stream sources,
    * streaming checkpoints): under `/dev/shm` when it is writable, so
    * temp bytes sit on the RAM-backed volume, else under the JVM's
    * default temp dir. No headroom gate: these hold kilobytes. The
    * caller deletes it in its outermost `finally`. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** Applies [[preferred]] to a session builder (no-op when the
    * context already exists — `spark.local.dir` is a static conf). */
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    preferred().foreach(d => b.config("spark.local.dir", d))
    b
  }
}
