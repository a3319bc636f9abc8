package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.SparkListenerStageCompleted
import org.apache.spark.sql.SparkSession

/** Measured shuffle volume: records and bytes written, from the engine's
  * own task metrics rather than an estimate. Wall-time on a noisy box is a
  * weak scale instrument; the volume a query actually moves through its
  * exchanges is a deterministic fact of the plan and the data, so
  * PlanShapeSpec locks the heavy-tier queries to data-derived caps — a
  * scale regression (an extra corpus-sized exchange, an all-pairs
  * blowup, payload bytes through a shuffle) breaks a cap exactly,
  * independent of machine load.
  */
object ShuffleVolumes {

  /** TOTAL shuffle (records, bytes) written by every stage of every job
    * the body runs — a SparkListener over the engine's own task metrics,
    * so it also counts work a final adaptive plan hides: persist
    * materialization (InMemoryTableScan's cached subtree) and
    * localCheckpoint jobs of iterative pipelines. Read after the listener
    * bus has drained ([[JobGroupCounter.run]]). Callers must not run
    * concurrent jobs on the session during the measurement.
    */
  def measured(spark: SparkSession)(body: => Unit): (Long, Long) = {
    val rec = new AtomicLong
    val byt = new AtomicLong
    new JobGroupCounter {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics.shuffleWriteMetrics
        rec.addAndGet(m.recordsWritten)
        byt.addAndGet(m.bytesWritten)
      }
    }.run(spark.sparkContext)(body)
    (rec.get, byt.get)
  }
}
