package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.SparkInternals

/** One benchmark run in one JVM: an untimed warm-up (a pass that also
  * writes every query's result for the oracle comparison, then
  * [[Main.WarmupPasses]] passes more), timed passes for
  * `--seconds` (at least three), then (with `--trace 1`) two traced passes
  * and the layer probes. Everything measured goes to `<out>/run.json`;
  * `run.py` turns it into metrics and checks the written results.
  *
  * Usage: Main --fixtures DIR --out DIR --queries q1,q2,... --seed N
  *             --seconds S --trace 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val fixtures = opt("fixtures")
    val out = opt("out")
    val names = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as in graft.Bench: the default 100-entry codegen cache would
      // recompile every plan of a long pass on each repetition
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new CounterListener
    spark.sparkContext.addSparkListener(listener)

    val registry = graft.QueryRegistry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val runner = new Runner(spark, listener, fixtures, names.map(n => n -> registry(n)))
    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = rng.shuffle(names)

    // Set-up ends after the warm-up: the check pass in name order, so that
    // every run compiles the same code paths first, then untimed passes in
    // seeded order until the JIT compiler has caught up. The warm-up is a
    // count of passes, not a time, so that the timed passes start at the
    // same point of the JIT compiler's progress on any machine.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    passes += runner.checkPass(s"$out/check", names.sorted, traced)
    for (_ <- 1 to Main.WarmupPasses) passes += runner.pass("warmup", order(), traced = false)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // at least three timed passes, so that the median is never one pass
    val timedStart = System.nanoTime()
    var timedPasses = 0
    while (timedPasses < 3 || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      passes += runner.pass("timed", order(), traced = false)
      timedPasses += 1
    }

    val probes =
      if (!traced) Map.empty[String, Any]
      else {
        passes += runner.pass("traced", order(), traced = true)
        passes += runner.pass("traced", order(), traced = true)
        new Probes(spark, listener, fixtures).all()
      }

    val oracle = graft.QueryRegistry.oracleSql.filter { case (n, _) => names.contains(n) }

    val record = Map(
      "nproc" -> cpus,
      "seed" -> seed,
      "setup_s" -> setupS,
      "passes" -> passes,
      "spans" -> runner.spans.map(_.toJson),
      "probes" -> probes,
      "oracle_sql" -> oracle)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/run.json"), Json(record))
    spark.stop()
  }

  /** Untimed passes after the check pass, before the timed ones. */
  val WarmupPasses = 4

  /** The timed action: computes every output column, moves no rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A timed interval at one layer boundary. `group` is the Spark job group
  * set while the span is open, so scheduler work is attributed to it.
  */
final case class Span(id: Int, name: String, parent: Option[Int], query: String, pass: Int) {
  val group: String = s"span-$id"
  var startNs = 0L
  var endNs = 0L
  val attrs = mutable.LinkedHashMap[String, Any]()
  def toJson: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "parent" -> parent, "query" -> query, "pass" -> pass,
    "start_s" -> startNs / 1e9, "end_s" -> endNs / 1e9) ++ attrs
}

final class Runner(
    spark: SparkSession,
    listener: CounterListener,
    fixtures: String,
    queries: Seq[(String, (SparkSession, String) => DataFrame)]) {
  private val sc = spark.sparkContext
  private val fns = queries.toMap
  private var passNo = 0
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()

  private def within[T](name: String, query: String)(body: Span => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id), query, passNo)
    spans += s
    open.push(s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    s.startNs = System.nanoTime()
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  // Blocks persisted by a query (lazy localCheckpoints) are garbage once
  // its action returns; graft.Bench drops them after every query too.
  private def dropLeftoverBlocks(): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  private def jvmTotals: (Long, Long, Long) = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (os.getProcessCpuTime, ManagementFactory.getCompilationMXBean.getTotalCompilationTime, gcMs)
  }

  /** Heap in use after a full collection, summed over the heap pools. The
    * second collection also frees the blocks Spark's cleaner released after
    * the first one (it polls its reference queue every 100 ms).
    */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  /** One pass over `order`. Untraced, each query is one job group; traced,
    * each query is a `query` span with `queries.build` and `exec.run`
    * children.
    */
  def pass(kind: String, order: Seq[String], traced: Boolean): Map[String, Any] = {
    passNo += 1
    val (cpu0, jit0, gc0) = jvmTotals
    val t0 = System.nanoTime()
    val results = order.map { name =>
      val q0 = System.nanoTime()
      val (error, group) =
        if (traced) within("query", name)(root => (tracedQuery(name), root.group))
        else {
          val group = s"pass-$passNo-$name"
          sc.setJobGroup(group, name, interruptOnCancel = false)
          try (attempt(Main.noop(fns(name)(spark, fixtures))), group)
          finally sc.clearJobGroup()
        }
      val secs = (System.nanoTime() - q0) / 1e9
      log(passNo, kind, name, secs, error)
      dropLeftoverBlocks()
      (name, secs, error, group)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (cpu1, jit1, gc1) = jvmTotals
    // events still queued for the listener would count as live heap
    SparkInternals.drainListenerBus(sc)
    // the warm-up skips the two full collections, about half a second a pass
    val heap = if (kind == "warmup") None else Some(heapAfterGcMb())
    val records = results.map { case (name, secs, error, group) =>
      val counters =
        if (traced) {
          spans.filter(s => s.pass == passNo && s.query == name).foreach { s =>
            s.attrs ++= listener.take(s.group).toJson
          }
          Map.empty[String, Any]
        } else listener.take(group).toJson
      Map("name" -> name, "s" -> secs, "error" -> error, "counters" -> counters)
    }
    Map("kind" -> kind, "pass" -> passNo, "wall_s" -> wall, "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "jit_s" -> (jit1 - jit0) / 1e3, "gc_s" -> (gc1 - gc0) / 1e3,
      "heap_after_gc_mb" -> heap, "queries" -> records)
  }

  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }

  /** The Catalyst phases are not a span of their own: the noop write plans
    * its query anew in its own QueryExecution, so optimization and planning
    * are read from that execution (see [[CounterListener]]) and lie inside
    * `exec.run`. The DataFrame's own analysis, done while it is built, is
    * read from its tracker without forcing anything.
    */
  private def tracedQuery(name: String): Option[String] = attempt {
    val df = within("queries.build", name) { s =>
      val df = fns(name)(spark, fixtures)
      s.attrs("query_analysis_s") =
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
      df
    }
    within("exec.run", name)(_ => Main.noop(df))
  }

  /** The warm-up pass: runs each query once and writes its result (one
    * file, order kept) for the oracle comparison. Traced, each query is a
    * `check` span.
    */
  def checkPass(dir: String, order: Seq[String], traced: Boolean): Map[String, Any] = {
    passNo += 1
    val records = order.map { name =>
      val q0 = System.nanoTime()
      val write = () => attempt {
        fns(name)(spark, fixtures).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      }
      val error = if (traced) within("check", name)(_ => write()) else write()
      val secs = (System.nanoTime() - q0) / 1e9
      log(passNo, "check", name, secs, error)
      dropLeftoverBlocks()
      Map("name" -> name, "s" -> secs, "error" -> error)
    }
    Map("kind" -> "check", "pass" -> passNo, "queries" -> records)
  }

  private def log(pass: Int, kind: String, name: String, secs: Double, error: Option[String]): Unit =
    System.err.println(f"[perfbench] pass $pass%d $kind%s $name%s $secs%.3f s${error.fold("")(" FAILED: " + _)}%s")
}
