package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names, for fast local iteration
    // on a subset. The driver always invokes with two args (all queries).
    val nameFilter = args.lift(2).map(_.r)
    def keep(n: String) = nameFilter.forall(_.findFirstIn(n).isDefined)
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    def held = spark.sparkContext.getRDDStorageInfo.map(i => s"cached RDD ${i.id}").toSet ++
      (Graft.scratchRoot.list().toSet - "warehouse")
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val (before, viewsBefore, heldBefore) = (spark.conf.getAll, views, held)
      try {
        Graft.execution {
          val df = fn(spark, sfDir)
          // Output-type lint (OutputPolicy): fail LOUDLY here rather than
          // reach the driver as a silent hash mismatch / comparator crash.
          OutputPolicy.enforce(name, df.schema)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        // a query is a function of (session, dir): one that leaves a setting,
        // a temp view, blocks or files behind changes every query after it
        val (after, viewsAfter, heldAfter) = (spark.conf.getAll, views, held)
        if (after != before) throw new IllegalStateException("changed session conf from " +
          s"${before.toSet -- after.toSet} to ${after.toSet -- before.toSet}")
        if (viewsAfter != viewsBefore) throw new IllegalStateException("changed temp views: " +
          s"added ${viewsAfter -- viewsBefore}, dropped ${viewsBefore -- viewsAfter}")
        if (heldAfter != heldBefore) throw new IllegalStateException(
          s"held after its execution closed: ${heldAfter -- heldBefore}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a STALE dump from an earlier run would otherwise be compared in
        // this query's place and could read green — delete it so a failed
        // query is an explicit per-query red at the driver, never silent
        org.apache.spark.sql.graftbridge.deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
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
