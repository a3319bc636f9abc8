package graft

import org.apache.spark.sql.functions._

/** Physical-layout assertions the q182–q184 oracles cannot see: SQL proves
  * content invariance, this spec pins the file-level claims (compaction
  * actually reduces file count, respects the per-file record cap, and
  * range-clusters so files tile the key space) plus the schema-evolution
  * merged-schema shape and the stats query's single-scan plan.
  */
class LayoutSpec extends SparkTestBase {

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles((_, n) => n.endsWith(".parquet")).toSeq

  /** The directories a query's result reads, found from the result. */
  private def inputDirs(df: org.apache.spark.sql.DataFrame): Seq[java.io.File] =
    df.inputFiles.toSeq.map(f => new java.io.File(new java.net.URI(f)).getParentFile).distinct

  /** Runs q182 and returns its compacted output directory. */
  private def compaction(): java.io.File = {
    val df = queries.LayoutQueries.all.find(_.name == "q182_compaction").get.fn(spark, sf)
    df.collect() // run the pipeline; dirs remain for inspection
    inputDirs(df).head
  }

  test("q182 compaction: fewer files, per-file record cap, disjoint key ranges") {
    val dir = compaction()
    val frag = dataFiles(new java.io.File(dir.getParentFile, "frag"))
    val compact = dataFiles(dir)
    assert(frag.nonEmpty && compact.nonEmpty)
    assert(compact.size < frag.size,
      s"compaction must reduce file count: ${frag.size} -> ${compact.size}")

    // per-file cap + range disjointness: each output file's doc_id range
    // must hold <= maxRecordsPerFile rows and not overlap any other file's
    // (range exchange + sortWithinPartitions => files tile the key space;
    // maxRecordsPerFile splits WITHIN a partition, so splits stay sorted)
    val ranges = compact.map { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
        .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id"))).head
      (df.getLong(0), df.getLong(1), df.getLong(2))
    }
    ranges.foreach { case (n, _, _) => assert(n <= 400, s"file exceeds record cap: $n") }
    val sorted = ranges.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) => assert(hi < lo, s"overlapping file ranges: $sorted")
      case _ =>
    }
  }

  test("q182 layout enables row-group pruning: key predicate reads a fraction of the rows") {
    // the compacted layout: 4 range-partitioned, within-sorted files =>
    // parquet footer min/max stats are tight per row group, so a key-range
    // predicate prunes whole row groups at scan time — the read-side payoff
    // compaction exists for
    val compact = compaction().getPath
    val total = spark.read.parquet(compact).count()
    val cut = spark.read.parquet(compact)
      .agg(min(col("doc_id"))).head.getLong(0) + total / 8
    val pruned = spark.read.parquet(compact).filter(col("doc_id") <= cut)
    pruned.collect()
    val scanRows = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
    assert(scanRows > 0, "expected a FileSourceScanExec with metrics")
    assert(scanRows <= total / 2,
      s"range predicate over the clustered layout should prune most row groups: " +
        s"scan emitted $scanRows of $total rows")
  }

  test("q183 schema evolution: merged schema has the evolved column, v1 rows null-fill") {
    val df = queries.LayoutQueries.all.find(_.name == "q183_schema_evolution").get.fn(spark, sf)
    df.collect()
    // v1 and v2 are siblings: the parent of either directory the result reads
    val tmp = inputDirs(df).head.getParent
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
    assert(merged.columns.toSet == Set("o_orderkey", "o_totalprice", "o_orderpriority"))
    // every even-key (v1) row must carry a NULL evolved column, every odd a value
    val bad = merged.filter(
      (col("o_orderkey") % 2 === 0 && col("o_orderpriority").isNotNull) ||
        (col("o_orderkey") % 2 === 1 && col("o_orderpriority").isNull)).count()
    assert(bad == 0L)
  }

  test("q184 col stats: one scan of lineitem (multi-distinct plans via Expand, not re-reads)") {
    val df = queries.LayoutQueries.all.find(_.name == "q184_col_stats").get.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(plan).size
    assert(nScans == 1, s"expected a single lineitem scan, got $nScans:\n$plan")
    assert(plan.contains("Expand"), "multi-distinct should plan through Expand")
    // spot-check the stats against directly computed values
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    val li = graft.sources.Tables.lineitem(spark, sf)
    val expectNdv = li.select(countDistinct(col("l_orderkey"))).head.getLong(0)
    assert(rows("l_orderkey").getLong(3) == expectNdv)
    assert(rows("l_returnflag").getLong(3) <= 3L) // ndv of A/N/R flags is at most 3
  }
}
