package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The session conf a query must leave as it found it. The one exclusion,
    * `spark.sql.legacy.parquet.nanosAsLong`, is set for good by
    * `Tables.load` and `EventStreams.readEvents`: it has no per-read form,
    * and moving it to session construction waits on the benchmark's own
    * session (ROADMAP).
    */
  def settings(spark: org.apache.spark.sql.SparkSession): Map[String, String] =
    spark.conf.getAll - "spark.sql.legacy.parquet.nanosAsLong"

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names, for fast local iteration
    // on a subset. The driver always invokes with two args (all queries).
    val nameFilter = args.lift(2).map(_.r)
    def keep(n: String) = nameFilter.forall(_.findFirstIn(n).isDefined)
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val before = settings(spark)
      try {
        val df = fn(spark, sfDir)
        // Output-type lint (OutputPolicy): fail LOUDLY here rather than
        // reach the driver as a silent hash mismatch / comparator crash.
        OutputPolicy.enforce(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // a query is a function of (session, dir): one that leaves a
        // setting behind changes every query after it
        val after = settings(spark)
        if (after != before) throw new IllegalStateException("changed session conf from " +
          s"${before.toSet -- after.toSet} to ${after.toSet -- before.toSet}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a STALE dump from an earlier run would otherwise be compared in
        // this query's place and could read green — delete it so a failed
        // query is an explicit per-query red at the driver, never silent
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) rm(dir)
      }
      // Blocks persisted by this query (lazy localCheckpoints) are garbage
      // once its dump completes; drop them now instead of waiting for a GC
      // to let ContextCleaner notice — same suite-hygiene rule as Bench
      // (the r4 driver-run slowdown was accumulated-block churn).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
