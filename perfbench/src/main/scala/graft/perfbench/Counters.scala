package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** Work counted for one job group: every job, stage and task started while
  * the driver thread had that group set, and every SQL execution it ran,
  * with the Catalyst phase times of that execution's own query plan.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var readBytes = 0L
  var writeBytes = 0L
  var writeFiles = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var exchanges = 0L
  var fallbackExprs = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "read_bytes" -> readBytes, "write_bytes" -> writeBytes, "write_files" -> writeFiles,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_records" -> shuffleRecords,
    "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spillBytes,
    "exchanges" -> exchanges, "fallback_exprs" -> fallbackExprs,
    "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
    "planning_s" -> planningMs / 1e3)
}

/** Attributes scheduler and SQL events to the job group (`spark.jobGroup.id`)
  * that was set on the driver thread when the work started. The benchmark
  * sets one group per query execution, or one per span in a traced pass.
  * Events arrive on Spark's listener thread; readers call
  * [[SparkInternals.drainListenerBus]] first and then [[take]].
  */
final class CounterListener extends SparkListener {
  private val JobGroupKey = "spark.jobGroup.id"
  private val byGroup = mutable.HashMap[String, Counters]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val executionGroup = mutable.HashMap[Long, String]()

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  /** Removes and returns the counters of `group` (empty when it ran nothing). */
  def take(group: String): Counters = synchronized {
    byGroup.remove(group).getOrElse(new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).foreach { g =>
      counters(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.readBytes += m.inputMetrics.bytesRead
        c.writeBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { s.jobGroupId.foreach(executionGroup(s.executionId) = _) }
    case end: SparkListenerSQLExecutionEnd =>
      synchronized {
        executionGroup.remove(end.executionId).foreach { g =>
          SparkInternals.queryExecution(end).foreach { qe =>
            val nodes = CounterListener.finalNodes(qe.executedPlan)
            val c = counters(g)
            c.exchanges += nodes.count(_.isInstanceOf[Exchange])
            c.fallbackExprs += nodes.map(_.expressions.map(_.collect {
              case f: CodegenFallback => f
            }.size).sum).sum
            c.writeFiles += nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles") }
              .flatten.map(_.value).sum
            val phases = qe.tracker.phases
            def phaseMs(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
            c.analysisMs += phaseMs("analysis")
            c.optimizationMs += phaseMs("optimization")
            c.planningMs += phaseMs("planning")
          }
        }
      }
    case _ =>
  }
}

object CounterListener {
  /** Every node of the plan as it finally ran: adaptive plans are replaced
    * by their final form, query stages by the stage they wrap, and
    * subquery plans are included.
    */
  def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case s: QueryStageExec => s +: finalNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(finalNodes)
  }
}
