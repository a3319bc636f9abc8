package graft

import org.apache.spark.sql.functions._

/** Bucketing: the 100 TB co-located join strategy (SURVEY.md §2.3 /
  * build-prompt scale notes). Writing both join sides bucketed by the join
  * key lets the join run with ZERO exchanges — the shuffle is paid once at
  * write time, then every subsequent join on that key is map-side.
  */
class BucketingSpec extends SparkTestBase {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    val d = sf
    graft.sources.Tables.orders(spark, d)
      .write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    graft.sources.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")

    // force the shuffle-join path (tiny fixtures would auto-broadcast,
    // which hides the bucketing benefit this test demonstrates)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined =
      try {
        val j = spark.table("b_lineitem")
          .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
        j.collect() // materialize plan under the forced config
        j
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // AQE plan strings repeat the tree (final + initial); inspect only the
    // final executed section
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // sort-merge join must consume the bucketed scans directly: the ONLY
    // exchange in the plan is the one feeding the final aggregation
    assert(plan.contains("SortMergeJoin"), plan)
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nExchanges == 1, plan)

    // and it must still be correct
    val expected = graft.sources.Tables.lineitem(spark, d)
      .join(graft.sources.Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == expected)
  }

  test("dynamic partition overwrite replaces only the partitions being written") {
    // the idempotent-daily-rerun contract: re-running one day's pipeline
    // output must not wipe the other days. Static overwrite (the default)
    // truncates the whole table first — at 100 TB that is the difference
    // between re-writing one partition and destroying the corpus.
    val dir = Graft.scratch("dpo")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.write.mode("overwrite").partitionBy("source").parquet(dir)
    val before = spark.read.parquet(dir).count()

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // rewrite ONE source's rows with a sentinel value
      docs.filter(col("source") === "src0")
        .withColumn("n_chars", lit(-1L))
        .write.mode("overwrite").partitionBy("source").parquet(dir)
      val after = spark.read.parquet(dir)
      assert(after.count() == before, "dynamic overwrite changed the row count")
      assert(after.filter(col("source") === "src0")
        .filter(col("n_chars") =!= -1L).count() == 0, "target partition not rewritten")
      assert(after.filter(col("source") =!= "src0")
        .filter(col("n_chars") === -1L).count() == 0, "non-target partitions touched")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
}
