package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark reads. Both are package-private
  * to Spark, hence this file's package; nothing here changes Spark state.
  */
object SparkInternals {
  /** Blocks until every event posted so far has reached every listener,
    * so per-query counters are complete before they are read.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The executed query of a finished SQL execution (null for some
    * commands).
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
