package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.DistributedSequenceID
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** Scale-safe dense global row numbering.
  *
  * `row_number().over(Window.orderBy(k))` with no partition clause forces an
  * `Exchange SinglePartition`: every row moves through ONE task to be
  * numbered — fine at sf0.1, a scale-killer at 100 TB. The reference's
  * positional-batch semantics (async_evaluation.py:389-404) genuinely need a
  * total order, but not a single-task sort: range-partition on the key, sort
  * within partitions, then add per-partition cumulative offsets to local
  * positions. Spark's own distributed-sequence operator is exactly that
  * second half: `DistributedSequenceID` becomes the logical
  * `AttachDistributedSequence`, planned as `AttachDistributedSequenceExec`
  * (counts each partition of its child, then adds the offsets to the
  * positions inside each partition). The numbering stays inside
  * Catalyst, so building the frame runs no job, columns the caller never
  * reads are pruned below it, and filters stay above it.
  *
  * Cost: `repartitionByRange` runs a sampling job over `df` in the action,
  * and when `df` has no shuffle of its own that job recomputes all of it
  * from the scan, then the shuffle's map stage computes it again. Number
  * rows before expensive projections, not after (`Engine.judged` and
  * `Engine.truncationJudged` number raw documents and score them above
  * the exchange). The exec persists its sorted child (Spark's
  * default, `MEMORY_AND_DISK_SER`) for the count pass and releases it
  * when the action ends. Each reference to the numbered frame in one
  * plan (a self-join) plans its own range exchange and numbering.
  */
object GlobalOrder {

  /** Append a dense 1-based global row number over `order` as column `out`
    * (LongType, not nullable). Equivalent to
    * `row_number().over(Window.orderBy(order))` when the order key is
    * unique; ties are broken by intra-partition position, which is
    * deterministic for a fixed partitioning (the session's shuffle
    * partitions). */
  def withRowNumber(df: DataFrame, order: Column, out: String = "rn"): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, order).sortWithinPartitions(order)
    ranged.select(col("*"), (Bridge.column(DistributedSequenceID()) + 1L).as(out))
  }
}
