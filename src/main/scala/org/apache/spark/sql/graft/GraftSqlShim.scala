package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 wraps expressions in `ColumnNode`s; the classic
  * converters live behind `private[sql]`, so this one-file shim (the same
  * technique Delta/Sedona/Frameless use) re-exports the two conversions
  * graft needs. No other Spark internals are touched from here.
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a custom (already-resolved) logical plan — the bridge
    * a custom LogicalPlan + SparkStrategy operator needs to surface in the
    * public API (classic.Dataset.ofRows is private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
