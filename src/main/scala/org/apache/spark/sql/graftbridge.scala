package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode Column ↔ Catalyst Expression bridge.
  *
  * Spark 4 made the converters `private[sql]` (Column wraps a ColumnNode for
  * Connect compatibility); custom-Expression libraries conventionally expose
  * them from inside the sql package. This is the only file outside `graft.*`.
  */
package object graftbridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (classic Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A copy of `spark`'s session state over the same SparkContext
    * (classic `cloneSession`: conf, functions, strategies, temp views). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The analyzed logical plan behind a DataFrame. */
  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
