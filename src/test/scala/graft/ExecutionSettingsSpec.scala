package graft

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import graft.functions.{Components, IterLoop}

/** Execution settings are scoped without writing the caller's session:
  * iterative loops plan their rounds at `IterLoop.partitionsFor` shuffle
  * partitions, and queries that run at once on one session neither see
  * each other's settings nor leave any behind.
  */
class ExecutionSettingsSpec extends SparkTestBase {

  /** What a body ran: its job count and, for every shuffle exchange in the
    * final plan of every SQL execution it started, the exchange's
    * partition count.
    */
  private case class Run(jobs: Int, exchanges: Seq[Int]) {
    def at(n: Int): Int = exchanges.count(_ == n)
  }

  private val partitioning = """partitioning\((?:.*, )?(\d+)\)""".r

  private def exchangePartitions(plan: SparkPlanInfo): Seq[Int] = {
    val own =
      if (plan.nodeName != "Exchange") Nil
      else if (plan.simpleString.contains("SinglePartition")) Seq(1)
      else partitioning.findFirstMatchIn(plan.simpleString).map(_.group(1).toInt).toSeq
    own ++ plan.children.flatMap(exchangePartitions)
  }

  /** Runs `body` under a fresh job group and reports it once the listener
    * bus has delivered every event (the KMeansSpec job count).
    */
  private def measure(body: => Unit): Run = {
    val sc = spark.sparkContext
    val group = s"settings-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val finalPlans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          finalPlans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if finalPlans.containsKey(u.executionId) =>
          finalPlans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ExecutionSettingsSpec")
    try {
      body
      ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      Run(jobs.get, finalPlans.values.asScala.toSeq.flatMap(exchangePartitions))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def default: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The same body measured on the set/restore implementation this one
    * replaced (same fixtures, local[4]): its jobs, its exchanges, and how
    * many of them ran at the session default — the setup work before the
    * loop and the result's own exchanges after it.
    */
  private case class Budget(jobs: Int, exchanges: Int, atDefault: Int)

  /** One converted loop: its rounds run at `parts` partitions, below the
    * session default, and it starts no more jobs or exchanges than before.
    */
  private def loopTest(name: String, parts: => Int, budget: Budget)(body: => Unit): Unit =
    test(s"$name plans its rounds at partitionsFor, not the session default") {
      val p = parts
      assert(p != default, s"fixture gives parts = session default = $p")
      body // warm: the loop session and codegen exist before counting
      val run = measure(body)
      info(s"$name: parts=$p default=$default jobs=${run.jobs} exchanges=${run.exchanges.sorted}")
      assert(run.at(p) > 0, s"no exchange at $p partitions: ${run.exchanges}")
      assert(run.exchanges.forall(n => n == p || n == 1 || n == default), run.exchanges)
      assert(run.at(default) <= budget.atDefault,
        s"${run.at(default)} exchanges at the session default, budget ${budget.atDefault}")
      assert(run.exchanges.size <= budget.exchanges,
        s"${run.exchanges.size} exchanges, budget ${budget.exchanges}")
      assert(run.jobs <= budget.jobs, s"${run.jobs} jobs, budget ${budget.jobs}")
    }

  private def edges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20261018L)
    Seq.fill(200)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
  }

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  loopTest("connectedComponents", IterLoop.partitionsFor(spark, 2L * edges.size),
      Budget(jobs = 39, exchanges = 19, atDefault = 1)) {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("s", "t"), "s", "t").collect()
  }

  loopTest("connectedComponentsStar", IterLoop.partitionsFor(spark, 2L * 255),
      Budget(jobs = 113, exchanges = 117, atDefault = 4)) {
    import spark.implicits._
    val chain = (1L to 256L).sliding(2).map(w => (w.head, w.last)).toSeq
    Components.starWithRounds(chain.toDF("s", "t"), "s", "t")._1.collect()
  }

  loopTest("q150 BPE training", 1, Budget(jobs = 38, exchanges = 19, atDefault = 3)) {
    q("q150_bpe_merges").collect()
  }

  loopTest("q161 power iteration", IterLoop.partitionsFor(spark, 64L * 64),
      Budget(jobs = 32, exchanges = 15, atDefault = 1)) {
    q("q161_pca_power").collect()
  }

  loopTest("q162 k-core peel", 1, Budget(jobs = 13, exchanges = 7, atDefault = 4)) {
    q("q162_kcore").collect()
  }

  test("loop, gate, recursion and plain queries run at once on one session") {
    // Two of each from 4 threads on the shared session, three times over:
    // each must return its sequential rows, and the session must keep
    // every setting. Under set/restore an interleaved restore left q162's
    // partition count behind on the session in 9 of 10 such mixes.
    val names = Seq("q162_kcore", "q172_stream_dedup", "q199_recursive_chain", "q04_agg_groupby")
    def rows(name: String): Seq[String] = q(name).collect().map(_.toString).toSeq
    val sequential = names.map(n => n -> rows(n)).toMap
    val before = Verify.settings(spark)
    val pool = Executors.newFixedThreadPool(4)
    try {
      for (_ <- 1 to 3) {
        val runs = (names ++ names).map(n => n -> pool.submit(() => rows(n)))
        runs.foreach { case (n, f) =>
          assert(f.get(10, TimeUnit.MINUTES) == sequential(n), s"$n differs when run concurrently")
        }
        assert(Verify.settings(spark) == before)
      }
    } finally pool.shutdown()
  }
}
