package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the jobs a body starts. [[run]] registers the listener, runs the
  * body on this thread under the counter's own job group (a job carries the
  * job group of the thread that submits it) and returns once the listener
  * bus has delivered every event, so counts read after it are exact rather
  * than polled. Subclasses add their own counts.
  */
class JobGroupCounter extends SparkListener {
  val group: String = s"counted-${java.util.UUID.randomUUID()}"
  val jobs = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
      jobs.incrementAndGet()

  def run(sc: SparkContext)(body: => Unit): this.type = {
    sc.addSparkListener(this)
    sc.setJobGroup(group, "JobGroupCounter")
    try {
      body
      ListenerBusDrain(sc)
      this
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(this)
    }
  }
}
