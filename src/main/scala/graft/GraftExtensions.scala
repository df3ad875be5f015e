package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions for any session configured with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * so `SELECT count_tokens(text), split_chunks(text, 512, 64) ...` works
  * from plain SQL (including thrift/connect clients) without touching the
  * Column API. Complements `TextFunctions.register(spark)` for
  * already-built sessions; both read `TextFunctions.sqlFunctions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.TextFunctions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    e.injectOptimizerRule(_ => plans.TokenFilterStrengthen)
    e.injectOptimizerRule(_ => plans.UnionAggToGroupingSets)
  }
}
