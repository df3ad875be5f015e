package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Scale-safe dense global row numbering.
  *
  * `row_number().over(Window.orderBy(k))` with no partition clause forces an
  * `Exchange SinglePartition`: every row moves through ONE task to be
  * numbered — fine at sf0.1, a scale-killer at 100 TB. The reference's
  * positional-batch semantics (async_evaluation.py:389-404) genuinely need a
  * total order, but not a single-task sort: range-partition on the key, sort
  * within partitions, then add per-partition cumulative offsets to local
  * positions. `RDD.zipWithIndex` is exactly that second half — its count job
  * and its main job share the range shuffle's map output, so the data is
  * shuffled once and no task ever holds more than one partition.
  *
  * Cost: `repartitionByRange` first runs a sampling job over `df`, and
  * when `df` has no shuffle of its own that job recomputes all of it from
  * the scan, then the shuffle's map stage computes it again. Number rows
  * before expensive projections, not after (`MapReducePipeline.judged`
  * and `Engine.truncationJudged` number raw documents and score them
  * above the exchange).
  */
object GlobalOrder {

  /** Append a dense 1-based global row number over `order` as column `out`
    * (LongType). Equivalent to `row_number().over(Window.orderBy(order))`
    * when the order key is unique; ties are broken by intra-partition
    * position, which is deterministic for a fixed partitioning.
    *
    * @param partitions range-partition count; defaults to the session's
    *                   shuffle-partition setting
    */
  def withRowNumber(df: DataFrame, order: Column, out: String = "rn",
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, order).sortWithinPartitions(order)
    val schema = ranged.schema.add(out, LongType, nullable = false)
    val indexed = ranged.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(indexed, schema)
  }
}
