package graft

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import org.apache.spark.scheduler.SparkListenerEvent
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

  /** Runs `body` on a [[JobGroupCounter]], also keeping the final plan of
    * every SQL execution it starts.
    */
  private def measure(body: => Unit): Run = {
    val finalPlans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val counter = new JobGroupCounter {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          finalPlans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if finalPlans.containsKey(u.executionId) =>
          finalPlans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }.run(spark.sparkContext)(body)
    import scala.jdk.CollectionConverters._
    Run(counter.jobs.get, finalPlans.values.asScala.toSeq.flatMap(exchangePartitions))
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

  loopTest("q162 k-core peel", 1, Budget(jobs = 13, exchanges = 7, atDefault = 4)) {
    q("q162_kcore").collect()
  }

  test("loop, gate, recursion and plain queries run at once on one session") {
    // Two of each from 4 threads on the shared session, the two copies of
    // a query submitted side by side, three times over: each must return
    // its sequential rows, and the session must keep every setting. Under
    // set/restore an interleaved restore left q162's partition count
    // behind on the session in 9 of 10 such mixes. With hand-built /tmp
    // paths the two copies of a writer (q264, q48) shared one directory:
    // this test failed in 10 of 10 tries, each at its first mix, with wrong
    // rows or a FileNotFoundException. Side by side is what makes them
    // overlap; with each query's copies a full round apart, 0 of 10 tries
    // of 6 mixes failed. q31 loads events, which reads under nanosAsLong;
    // the conf is compared from before the first run on, so a loader that
    // sets it on the session fails here.
    val names = Seq("q162_kcore", "q172_stream_dedup", "q199_recursive_chain", "q04_agg_groupby",
      "q264_txlog_snapshot", "q48_csv_roundtrip", "q31_tumbling_window")
    val before = spark.conf.getAll
    def rows(name: String): Seq[String] = q(name).collect().map(_.toString).toSeq
    val sequential = names.map(n => n -> rows(n)).toMap
    assert(spark.conf.getAll == before)
    val pool = Executors.newFixedThreadPool(4)
    try {
      for (_ <- 1 to 3) {
        val runs = names.flatMap(n => Seq(n, n))
          .map(n => n -> pool.submit(() => Graft.execution(rows(n))))
        runs.foreach { case (n, f) =>
          assert(f.get(10, TimeUnit.MINUTES) == sequential(n), s"$n differs when run concurrently")
        }
        assert(spark.conf.getAll == before)
      }
    } finally pool.shutdown()
  }

  test("SQL gates on two fixture dirs run at once on one session") {
    // Each query on sf0.001 and on sf0.01, the two submitted side by side
    // from 4 threads, three times over: each must return its own dir's
    // sequential rows. With tables bound as fixed-name views on the
    // caller's session, one run resolved the other's view and read the
    // other dir's tables: this test's body failed in 10 of 10 tries, each
    // in its first round (q131, q105 and q149 wrong in every try, q09 in
    // one).
    val dirs = Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)
    val names = Seq("q131_min_cost_supplier", "q105_exists_anti", "q09_grouping_sets",
      "q149_sql_frontend")
    def rows(name: String, dir: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
    val sequential = (for (n <- names; d <- dirs) yield (n, d) -> rows(n, d)).toMap
    names.foreach(n => assert(sequential((n, dirs(0))) != sequential((n, dirs(1))),
      s"$n returns the same rows on both dirs, so a swap would not show"))
    val pool = Executors.newFixedThreadPool(4)
    try {
      for (_ <- 1 to 3) {
        val runs = for (n <- names; d <- dirs)
          yield (n, d) -> pool.submit(() => Graft.execution(rows(n, d)))
        runs.foreach { case (k, f) =>
          assert(f.get(10, TimeUnit.MINUTES) == sequential(k), s"$k differs when run concurrently")
        }
      }
    } finally pool.shutdown()
  }

  test("two harness threads run checkpointing queries at once, each in its own execution") {
    // Two threads each run the six queries, one thread in reverse order,
    // every query built and collected inside an execution, three times
    // over: each result must equal its sequential rows. An execution
    // releases only the blocks it made. With the drop of every persistent
    // RDD of the context after each query, which the harnesses ran before,
    // 4, 3 and 4 of 12 executions threw in three tries (q81 and q117; 9 of
    // the 11 with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, 2 with a stage failure):
    // one thread's drop took the other's checkpoint blocks.
    val names = Seq("q162_kcore", "q150_bpe_merges", "q88_funnel", "q153_bitmap_index",
      "q117_chain_components", "q81_dedup_clusters")
    def rows(name: String): Seq[String] = q(name).collect().map(_.toString).toSeq
    val sequential = names.map(n => n -> rows(n)).toMap
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (_ <- 1 to 3) {
        val runs = Seq(names, names.reverse).map(order =>
          pool.submit(() => order.map(n => n -> Graft.execution(rows(n)))))
        runs.foreach(_.get(10, TimeUnit.MINUTES).foreach { case (n, r) =>
          assert(r == sequential(n), s"$n differs when run concurrently")
        })
      }
    } finally pool.shutdown()
  }

  test("an execution frees a lazy checkpoint with no WARN and no cached RDD left") {
    // RDD.unpersist warns for each local checkpoint it frees that its
    // lineage is gone: 138 lines in one full test run. The release goes
    // through the SparkContext call that unpersist makes after the warning.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("execution-release", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val id = try Graft.execution {
      val df = spark.range(1000).toDF("x").transform(Graft.checkpoint(eager = false))
      assert(df.count() == 1000)
      val id = org.apache.spark.sql.graftbridge.checkpointedRdd(df).id
      assert(spark.sparkContext.getPersistentRDDs.contains(id))
      id
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
    assert(warned.isEmpty, warned)
  }

  /** The entries under the scratch root, but the warehouse. */
  private def scratchEntries: Set[String] = Graft.scratchRoot.list().toSet - "warehouse"

  test("an execution deletes its writers' scratch directories; outside one they stay") {
    val before = scratchEntries
    Graft.execution {
      Seq("q48_csv_roundtrip", "q264_txlog_snapshot", "q267_txlog_stream_sink")
        .foreach(q(_).collect())
      // q267 makes two: its table and its stream checkpoint
      assert((scratchEntries -- before).size >= 4, scratchEntries -- before)
    }
    assert(scratchEntries == before)
    q("q48_csv_roundtrip").collect()
    assert((scratchEntries -- before).size == 1, "outside an execution the directory goes")
  }

  test("q175 and q229 leave the session's CacheManager empty, outside an execution too") {
    // A persisted frame stays in the shared CacheManager until something
    // unpersists it, and outside an execution nothing does: a second run
    // on the same dir read the first run's cached plan ("Asked to cache
    // already cached data").
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    for (name <- Seq("q175_exact_spans", "q229_curation_dag"); run <- 1 to 2) {
      q(name).collect()
      assert(cache.isEmpty, s"$name run $run left a cached plan")
    }
  }

  test("q79's first executions on a fresh fixture dir run side by side") {
    // Two first executions of q79 on each of four fresh copies of the
    // fixture: each must return the sequential rows. The catalog check and
    // the two table writes were check-then-act on a name every session
    // shares; without the lock around them, 4 of 4 such pairs failed in
    // each of three tries.
    def rows(dir: String): Seq[String] =
      SparkEntry.queries("q79_bucketed_join")(spark, dir).collect().map(_.toString).toSeq
    val sequential = rows(sf)
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (_ <- 1 to 4) {
        val dir = java.nio.file.Paths.get(Graft.scratch("sf"))
        java.nio.file.Files.list(java.nio.file.Paths.get(sf)).forEach(f =>
          java.nio.file.Files.copy(f, dir.resolve(f.getFileName)))
        val runs = Seq.fill(2)(pool.submit(() => Graft.execution(rows(dir.toString))))
        runs.foreach(f => assert(f.get(10, TimeUnit.MINUTES) == sequential))
      }
    } finally pool.shutdown()
  }
}
