package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed linear-classifier training by full-batch gradient descent
  * — the model-based quality-filtering step of a web-corpus pipeline
  * (CCNet / LLaMA-style: train a lightweight scorer on labeled seed
  * data, score every document, keep the high-scoring slice). The
  * reference has no model stage; this implements the Spark-native shape:
  * the weight vector (a handful of doubles) lives on the driver and
  * re-enters each round as a task-closure snapshot, and each round is
  * ONE bounded aggregation over a cached feature projection — exactly
  * the [[Similarity.kmeans]] iteration discipline applied to a linear
  * model.
  *
  * The link is the softsign sigmoid `p = 0.5*(1 + z/(1+|z|))` rather
  * than the exp-logistic: every operation is IEEE-exact (+,*,/,|.|), so
  * training is bit-identical across engines and replayable in SQL —
  * the property the engine's oracle contract is built on (a transcendental
  * `exp` is only faithfully-rounded, which would make 20 GD rounds only
  * approximately reproducible). The GD update is the standard
  * `w -= lr * mean((p - y) * x)`; with a monotone link and a convex-ish
  * loss surface the separator converges the same way the logistic one
  * does.
  *
  * Float-sum determinism: gradients fold in a FIXED two-level order —
  * per [[BlockSize]]-row id-block in id order (bounded groups, folded
  * inside the owning task), then across block sums in block order (the
  * driver-side fold below). Like the [[Quantiles]] distribution windows,
  * the second level is bounded by construction only at catalog scale
  * (n / BlockSize block sums); a production run at 10^12 rows would use
  * plain `sum` (order-tolerant, the [[Graph.pageRank]] note) or add a
  * third level.
  *
  * Execution shape (r17 optimization): the rounds run at the RDD layer
  * over a block-partitioned, (blk, id)-sorted projection built ONCE —
  * per round that is one job of pure sequential folds plus a driver
  * fold over the n/BlockSize block sums. The previous formulation ran
  * each round as its own SQL aggregation; per-round analysis/planning/
  * adaptive-execution machinery cost ~90 ms against ~5 ms of actual
  * fold work at sf0.1 (measured; 20 rounds = 2.4 s down to 0.33 s), and
  * at any scale it re-paid per-query overhead `iters` times for a loop
  * whose plan never changes. The driver-side block fold funnels exactly
  * the rows the old single-reducer second level funneled through one
  * task, so the scale posture is unchanged; LinearModelSpec pins the
  * trainer bit-for-bit against a driver replay and across partitionings.
  */
object LinearModel {

  /** Rows per first-level gradient fold block (id div BlockSize). */
  val BlockSize = 1024

  /** Softsign link: 0.5 * (1 + z / (1 + |z|)) — (0,1)-valued, monotone,
    * built only from IEEE-exact ops. */
  def softsign(z: Column): Column =
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))

  /** Linear response for a trained weight vector (bias head, then one
    * weight per feature column, left-to-right fold order — the order
    * the SQL replay uses). */
  def response(w: Array[Double], xCols: Seq[String]): Column =
    xCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c)
    }

  /** Full-batch GD on `feats` (one row per example: unique `idCol`,
    * double feature columns `xCols`, 0/1 double label `yCol`).
    * CONTRACT (ADVICE r17): ids, features and labels must be NON-NULL —
    * the RDD fold reads primitives positionally, where a null slot reads
    * back as 0, so the build pass fails fast on a null cell with an
    * IllegalArgumentException naming its column (the old SQL
    * aggregation silently skipped it); callers own their feature-table
    * hygiene (every catalog caller builds non-null projections).
    * Internally projects, block-partitions and sorts the examples once
    * (one shuffle, persisted for the loop, released before return);
    * the caller's own partitioning of `feats` is irrelevant to the
    * result (LinearModelSpec pins bit-invariance across partitionings).
    * Returns the weight vector (bias first). */
  def trainSoftsignGd(feats: DataFrame, idCol: String, xCols: Seq[String],
      yCol: String, learnRate: Double, iters: Int): Array[Double] = {
    val d = xCols.length + 1
    // blk in SQL (same `div` expression whether or not the caller
    // pre-materialized it) so block assignment is bit-identical to the
    // oracle replays, then ONE shuffle keying every example to its
    // block's owner partition and ONE in-partition sort by (blk, id) —
    // after this, every round is a single sequential pass: fold err /
    // err·x per block in id order as rows stream by, emit (blk, g) at
    // block boundaries. Partition count follows the input split count
    // (scale-adaptive), never a local constant.
    val blkCol =
      if (feats.columns.contains("blk")) col("blk")
      else expr(s"$idCol div $BlockSize").as("blk")
    val projected = feats.select(
      blkCol.cast("long") +: col(idCol).cast("long") +:
        array(xCols.map(c => col(c).cast("double")): _*) +:
        Seq(col(yCol).cast("double")): _*)
    // toRdd, not .rdd (r18): the external-Row route plans and runs an
    // extra DeserializeToObject stage and allocates a Row per example;
    // the InternalRow route reads the same primitives straight out of
    // the projection (toDoubleArray copies, so the reused UnsafeRow is
    // never retained). Same values bit-for-bit — LinearModelSpec pins
    // the trainer against a driver replay.
    val internal = projected.queryExecution.toRdd
    val nParts = math.max(1, internal.getNumPartitions)
    def nullCell(c: String): Nothing =
      throw new IllegalArgumentException(s"trainSoftsignGd: null in column '$c'")
    val rows = internal
      .map { r =>
        if (r.isNullAt(1)) nullCell(idCol)
        val xs = r.getArray(2)
        for (j <- 0 until xs.numElements() if xs.isNullAt(j)) nullCell(xCols(j))
        if (r.isNullAt(3)) nullCell(yCol)
        (r.getLong(0), (r.getLong(1), xs.toDoubleArray, r.getDouble(3)))
      }
      .partitionBy(new org.apache.spark.HashPartitioner(nParts))
      .mapPartitions({ itr =>
        val buf = itr.toArray
        // sort by (blk, id): the two fold orders of the contract
        java.util.Arrays.sort(buf, Ordering.by[(Long, (Long, Array[Double],
          Double)), (Long, Long)](e => (e._1, e._2._1)))
        buf.iterator
      }, preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rows.count().toDouble
      require(n > 0, "trainSoftsignGd needs a non-empty feature table")
      val w = Array.fill(d)(0.0)
      var it = 0
      while (it < iters) {
        // weight SNAPSHOT into the task closure (not plan literals: the
        // old SQL rounds re-inlined weights per round, forcing a fresh
        // whole-stage compile each time); same IEEE ops in the same
        // order as softsign(response(w, xCols)) - y
        val wR = w.clone()
        val perBlk = rows.mapPartitions { itr =>
          var curBlk = Long.MinValue
          var g: Array[Double] = null
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
          itr.foreach { case (blk, (_, xs, y)) =>
            if (blk != curBlk) {
              if (g != null) out += ((curBlk, g))
              curBlk = blk
              g = Array.fill(d)(0.0)
            }
            var z = wR(0)
            var j = 0
            while (j < xs.length) { z += wR(j + 1) * xs(j); j += 1 }
            val err = 0.5 * (1.0 + z / (1.0 + math.abs(z))) - y
            g(0) += err
            var q = 1
            while (q < d) { g(q) += err * xs(q - 1); q += 1 }
          }
          if (g != null) out += ((curBlk, g))
          out.iterator
        }.collect()
        // level 2: fold the block sums in blk order on the driver —
        // the same n/BlockSize rows the old formulation funneled
        // through one reduce task, in the same order
        java.util.Arrays.sort(perBlk, Ordering.by[(Long, Array[Double]), Long](_._1))
        val folded = Array.fill(d)(0.0)
        perBlk.foreach { case (_, g) =>
          var j = 0
          while (j < d) { folded(j) += g(j); j += 1 }
        }
        var j = 0
        while (j < d) {
          w(j) = w(j) - learnRate * (folded(j) / n)
          j += 1
        }
        it += 1
      }
      w
    } finally rows.unpersist(blocking = false)
  }
}
