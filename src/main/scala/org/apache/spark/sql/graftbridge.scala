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

  /** The RDD a locally checkpointed DataFrame reads: its `LogicalRDD`'s. */
  def checkpointedRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

  /** Frees `rdd`'s blocks without blocking: the call `RDD.unpersist`
    * makes after it warns that a local checkpoint's lineage is gone. */
  def unpersistRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** A new directory under `java.io.tmpdir` that Spark's shutdown hook
    * deletes, recursively, when the JVM exits. */
  def shutdownDeletedTempDir(namePrefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix)

  /** Deletes `f` and, for a directory, everything under it; a missing `f`
    * is no error. */
  def deleteRecursively(f: java.io.File): Unit = org.apache.spark.util.Utils.deleteRecursively(f)

  /** `t` with every field, array element and map value nullable, as a
    * file source reads any schema (`StructType.asNullable`). */
  def asNullable(t: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    t.asNullable
}
