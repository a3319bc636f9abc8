package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.expressions.{CosineSimilarity, MisraGriesAggregate}
import graft.plans.AsOfStrategy

/** Engine installation: wires graft's custom pieces into a SparkSession.
  *
  *  - [[Graft.session]] builds the one local session every graft entry
  *    point (Verify, Bench, the dev tools, the test suites) runs on.
  *  - [[Graft.install]] registers the planner strategy and SQL functions on
  *    a live session, for sessions handed to you (the driver contract
  *    passes one in). It is idempotent; the factory calls it.
  *  - [[Graft.childSession]] is the one way to run with other execution
  *    settings: a cached child of a session, its overrides set once at
  *    creation. Nothing writes a setting onto a caller's session. It
  *    scopes read settings too: the events loaders read on a child that
  *    sets `nanosAsLong`, and their scans keep that setting on any session.
  *  - [[Graft.scratch]] is where every query writes its own files: a
  *    fresh, empty directory per call, under one root per JVM that is
  *    deleted at exit. The session's warehouse lives under the same root.
  *  - [[Graft.execution]] releases what a query holds as it closes: blocks
  *    of [[Graft.checkpoint]] (the only materialization), scratch dirs.
  *  - SQL text binds its tables on a throwaway clone
  *    ([[graft.sql.GraftSql.sql]]), never as views on a caller's session.
  *
  * After either, SQL can call `cosine_sim(a, b)` and `misra_gries(x, k)`,
  * and the as-of join plans through [[graft.plans.AsOfJoinExec]].
  */
object Graft {

  /** A local session on `cpus` cores with graft installed. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the whole-stage-codegen class cache holds only 100 entries by
      // default; ~200 queries × several codegen stages each overflow it
      // between rounds, so every round would silently recompile everything
      // (measured in r3: 119 s vs 53 s for adjacent executions)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // ContextCleaner frees shuffle files and broadcasts only when a GC
      // runs; the periodic System.gc() is a backstop for a large idle heap.
      // It is a stop-the-world full collection, so a short interval lands
      // multi-second pauses on whatever query is running (r4: 30 s made a
      // 0.04 s query read 4.7 s).
      .config("spark.cleaner.periodicGC.interval", "300s")
      // a static conf, fixed when the first session is built: a path under
      // the per-JVM root, so later factory calls create nothing
      .config("spark.sql.warehouse.dir", s"$scratchRoot/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  // One per JVM, under java.io.tmpdir; Spark's shutdown hook deletes it.
  private[graft] lazy val scratchRoot: java.io.File = graftbridge.shutdownDeletedTempDir("graft")

  /** A fresh, empty directory `<root>/<name>-<unique>` for one execution's
    * writes. No two calls share a directory, so queries that run at once
    * never see each other's files. The open [[execution]] deletes it as it
    * closes; outside one it stays until exit: a returned DataFrame may read it lazily.
    */
  def scratch(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(scratchRoot.toPath, s"$name-").toFile
    hold(() => graftbridge.deleteRecursively(dir))
    dir.toString
  }

  // the releases of the execution open on this thread, if any
  private val held = new ThreadLocal[scala.collection.mutable.ArrayBuffer[() => Unit]]
  private def hold(release: () => Unit): Unit = Option(held.get).foreach(_ += release)

  /** Runs `body` as one execution on this thread (inside the open one, if
    * any: they do not nest) and, when it returns or throws, releases what
    * it made and nothing else: it unpersists each RDD of [[checkpoint]],
    * without blocking, and deletes each [[scratch]] directory.
    */
  def execution[T](body: => T): T = if (held.get != null) body else {
    val releases = scala.collection.mutable.ArrayBuffer[() => Unit]()
    held.set(releases)
    try body finally { held.remove(); releases.foreach(_()) }
  }

  /** `df.localCheckpoint(eager)`, released by the open execution. It holds
    * the RDD weakly, so a generation a loop drops goes to the ContextCleaner. */
  def checkpoint(eager: Boolean): DataFrame => DataFrame = df => {
    val out = df.localCheckpoint(eager)
    val rdd = new java.lang.ref.WeakReference(graftbridge.checkpointedRdd(out))
    hold(() => Option(rdd.get).foreach(graftbridge.unpersistRdd))
    out
  }

  /** Idempotently install on a live session. */
  def install(spark: SparkSession): Unit = {
    AsOfStrategy.register(spark) // registers the strategy AND its optimizer rule
    val functions = spark.sessionState.functionRegistry
    functions.createOrReplaceTempFunction("cosine_sim", cosineSim, "built-in")
    functions.createOrReplaceTempFunction("misra_gries", misraGries, "built-in")
  }

  // Weak in the parent, so a discarded parent does not pin its children. A
  // child is cheap to build: cloneSession took 1.0 ms (median of 30, sf0.1,
  // local[4]), and binding five tables and analyzing q131's text took 60 ms
  // on a fresh clone and on a cached child alike. But each session adds a
  // listener to the shared listener bus until a GC collects it, so a child
  // is built once per (parent, overrides) and reused for its parent's life.
  private val childSessions = new java.util.WeakHashMap[SparkSession,
    java.util.Map[Seq[(String, String)], SparkSession]]()

  /** A child of `parent` that differs from it only by `overrides`: a clone
    * of the parent's session state (conf, functions, strategies, temp
    * views as of creation) over the shared SparkContext and caches, with
    * `overrides` set once, at creation. Plans built on the child read the
    * child's conf; the parent's conf and catalog are never touched, so no
    * restore can be missed and no concurrent query on the parent sees an
    * override. Cached per (parent, overrides).
    */
  def childSession(parent: SparkSession, overrides: (String, String)*): SparkSession =
    childSessions.synchronized {
      childSessions.computeIfAbsent(parent, _ => new java.util.HashMap())
        .computeIfAbsent(overrides.toSeq, _ => {
          val child = graftbridge.cloneSession(parent)
          overrides.foreach { case (k, v) => child.conf.set(k, v) }
          child
        })
    }

  /** `df`'s plan as a DataFrame of `session`: it and everything built on it
    * from here on plan under `session`'s conf. Moving an already-checkpointed
    * relation costs nothing; it keeps its recorded partitioning.
    */
  def onSession(session: SparkSession, df: DataFrame): DataFrame =
    graftbridge.ofRows(session, graftbridge.analyzedPlan(df))

  private def cosineSim(children: Seq[Expression]): Expression = {
    require(children.size == 2, "cosine_sim(a, b) takes two array<float> args")
    CosineSimilarity(children(0), children(1))
  }

  private def misraGries(children: Seq[Expression]): Expression = {
    require(children.size == 2, "misra_gries(item, k) takes two args")
    // k shapes the aggregation buffer, so it must be a plan-time constant
    val k = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"misra_gries k must be an integer literal, got $other")
    }
    // return the bare AggregateFunction: the analyzer wraps it in an
    // AggregateExpression exactly as for built-in aggregates
    MisraGriesAggregate(children(0), k)
  }
}
