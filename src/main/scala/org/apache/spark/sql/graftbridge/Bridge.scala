package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. `ExpressionUtils` is private[sql] in
  * Spark 4, so this one-file subpackage re-exports the two conversions the
  * engine needs to expose custom Catalyst expressions as Columns, and the
  * plan -> DataFrame step of a prepared service plan's fallback. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an already analyzed logical plan
    * (`Dataset.ofRows`, private[sql]). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `org.apache.spark.sql.types.AbstractDataType` is private[sql] in
    * Spark 4; re-exported so engine expressions can declare
    * `ExpectsInputTypes.inputTypes` (analysis-time type errors +
    * implicit casts) from the graft package. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
