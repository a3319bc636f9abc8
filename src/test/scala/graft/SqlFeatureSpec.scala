package graft

import org.apache.spark.sql.functions._

/** Specs for the SQL-engine-depth family (q104–q108): the decorrelated plan
  * shapes (per-row subquery execution would be quadratic) plus value
  * invariants the oracle equality doesn't spell out.
  */
class SqlFeatureSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def formatted(name: String): String =
    q(name).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q104 scalar subquery decorrelates to aggregate joins, no per-row subquery") {
    val plan = formatted("q104_scalar_subquery")
    assert(plan.contains("HashAggregate"))
    assert(!plan.contains("BroadcastNestedLoop"), "subquery left correlated")
    val rows = q("q104_scalar_subquery").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // output is DOUBLE (OutputPolicy); the doubles are exact images of the
      // scale-2 decimals, so cents reconstruct exactly via half-up rounding
      val (price, sum, cnt) = (r.getDouble(2), r.getDouble(3), r.getLong(4))
      def cents(x: Double): Long = math.floor(x * 100 + 0.5).toLong
      // the gate's own predicate, recomputed exactly in cents
      assert(2 * cents(price) * cnt > 3 * cents(sum), s"filter violated: $r")
      // a single-order customer can never beat 1.5x its own mean
      assert(cnt >= 2, s"single-order customer passed the 1.5x filter: $r")
    }
  }

  test("q105 NOT EXISTS plans as an anti join, never a null-aware nested loop") {
    val plan = formatted("q105_exists_anti")
    assert(plan.contains("LeftAnti"))
    assert(!plan.contains("BroadcastNestedLoop"),
      "null-aware anti join shape — the NOT IN trap this gate exists to avoid")
    // complement check: kept + excluded partition the customer table
    val kept = q("q105_exists_anti").select("c_custkey").as[Long].collect().toSet
    val withBig = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey")).distinct().as[Long].collect().toSet
    val all = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey")).as[Long].collect().toSet
    assert(kept == all -- withBig)
  }

  test("q106 lateral top-k decorrelates to a partitioned window, exactly 2 per nation") {
    val plan = formatted("q106_lateral_topk")
    assert(plan.contains("Window"))
    assert(!plan.contains("BroadcastNestedLoop"), "lateral executed per-row")
    val rows = q("q106_lateral_topk").collect()
    val byNation = rows.groupBy(_.getInt(0))
    // every nation has >=2 customers at all SFs, so the limit must fill:
    // a decorrelation regression to top-1 would halve the rows
    val nNations = graft.sources.Tables.nation(spark, sf).count()
    assert(byNation.size == nNations, "nation missing from the lateral join")
    byNation.values.foreach(rs => assert(rs.length == 2))
    // each nation's true max-acctbal customer survives the limit
    val trueTop = graft.sources.Tables.customer(spark, sf)
      .groupBy(col("c_nationkey"))
      .agg(max(col("c_acctbal")).as("m"))
      .as[(Int, Double)].collect().toMap
    byNation.foreach { case (nk, rs) =>
      val best = rs.map(_.getDouble(3)).max
      assert(math.abs(best - trueTop(nk)) < 0.005, s"nation $nk lost its top customer")
    }
  }

  test("q107 unpivot plans as a one-scan Expand, not a self-union") {
    val plan = formatted("q107_unpivot")
    assert(plan.contains("Expand"))
    assert("Scan parquet".r.findAllIn(plan).length <= 2, // tree + details sections
      "unpivot read the source more than once")
    val rows = q("q107_unpivot").collect()
    val parts = graft.sources.Tables.part(spark, sf).count()
    assert(rows.length == 2 * parts, "one output row per (row, measure) expected")
  }

  test("q108 curation pipeline: summary consistent with its own stage contracts") {
    val rows = q("q108_curation_pipeline").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, totalChars) = (r.getLong(2), r.getLong(3))
      assert(nDocs >= 1)
      assert(totalChars >= 50 * nDocs, "quality gate admits docs under 50 chars")
      assert(r.getLong(4) <= r.getLong(5), "min_doc > max_doc")
    }
    // domain cap: no source exceeds 20 docs across its languages
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.map(_.getLong(2)).sum <= 20, s"source $src exceeds the cap")
    }
  }

  test("q199/q200 leave cteRecursionRowLimit and the temp-view catalog untouched") {
    // r6 leak: the recursive gates set the session-global
    // cteRecursionRowLimit to 20M and never restored it, so every later
    // query in a shared session (Verify runs all 200 in one) lost the 1 M
    // runaway-recursion guardrail. Both gates now run in an isolated
    // child session (own SQLConf + catalog over the shared SparkContext,
    // cached per parent with its conf set once at creation): the shared
    // session is never mutated at all.
    val key = "spark.sql.cteRecursionRowLimit"
    val prior = spark.conf.get(key)
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    assert(q("q199_recursive_chain").count() > 0)
    assert(spark.conf.get(key) == prior,
      s"q199 leaked $key: ${spark.conf.get(key)} != $prior")
    assert(q("q200_recursive_rollup").count() == 7,
      "one rollup row per queried root")
    assert(spark.conf.get(key) == prior,
      s"q200 leaked $key: ${spark.conf.get(key)} != $prior")
    val viewsAfter = spark.catalog.listTables().collect().map(_.name).toSet
    assert((viewsAfter -- viewsBefore).isEmpty,
      s"recursive gates leaked temp views: ${viewsAfter -- viewsBefore}")
  }

  test("loop, gate and recursion queries leave the session conf and temp views untouched") {
    // The iterative loops and streaming gates used to set and restore the
    // shuffle-partition count (and q186 the state-store provider) on the
    // shared session, the recursive gates its cteRecursionRowLimit. All of
    // them now plan on cached child sessions whose conf is set once at
    // creation, so the shared session is never written at all: compare the
    // whole conf map, not one key.
    val touched = Seq(
      "q117_chain_components", "q150_bpe_merges", "q161_pca_power", "q162_kcore",
      "q172_stream_dedup", "q186_stream_sessions", "q213_stream_shards",
      "q230_stream_canonical", "q256_stream_pq_dedup", "q267_txlog_stream_sink",
      "q199_recursive_chain", "q200_recursive_rollup")
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val failures = touched.flatMap { name =>
      val (confBefore, viewsBefore) = (spark.conf.getAll, views)
      q(name).collect()
      val (confAfter, viewsAfter) = (spark.conf.getAll, views)
      val changed = (confBefore.keySet ++ confAfter.keySet)
        .filter(k => confBefore.get(k) != confAfter.get(k))
      (if (changed.isEmpty) Nil else Seq(s"$name changed conf ${changed.mkString(", ")}")) ++
        (if (viewsAfter == viewsBefore) Nil
         else Seq(s"$name changed temp views: ${viewsAfter -- viewsBefore} / ${viewsBefore -- viewsAfter}"))
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("q200 down-walk equals the r6 up-walk closure on the same fixture") {
    // the rewrite changed the traversal direction, not the result: pin the
    // equivalence against the original (node, ancestor) up-walk program
    import org.apache.spark.sql.functions.col
    val iso = Graft.childSession(spark, graft.queries.RecursionRowLimit)
    val up = graft.sql.GraftSql.sql(iso, """
      |WITH RECURSIVE anc(node, anc_node) AS (
      |  SELECT c_custkey, c_custkey FROM customer
      |  UNION ALL
      |  SELECT node, (anc_node - 1) DIV 2 FROM anc WHERE anc_node >= 1)
      |SELECT a.anc_node AS node,
      |       CAST(COUNT(*) AS BIGINT) AS n_desc,
      |       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |         AS subtree_bal_c
      |FROM anc a JOIN customer c ON c.c_custkey = a.node
      |WHERE a.anc_node <= 6
      |GROUP BY a.anc_node
      |ORDER BY node ASC""".stripMargin, "customer" -> graft.sources.Tables.customer(iso, sf))
    val down = q("q200_recursive_rollup")
    assert(down.collect().toSeq == up.collect().toSeq)
    assert(down.select(col("node")).as[Long].collect().toSeq == (0L to 6L))
  }

  test("no SQL gate leaves a temp view, on a session whose temp catalog starts empty") {
    // A fresh session over the shared context, so a view another suite
    // left on the shared session cannot hide one. Every gate that runs SQL
    // text binds its tables through GraftSql, on a throwaway clone.
    val fresh = spark.newSession()
    Graft.install(fresh)
    def views = fresh.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    assert(views.isEmpty)
    val sqlGates = Seq("q09_grouping_sets", "q51_percentiles", "q104_scalar_subquery",
      "q105_exists_anti", "q106_lateral_topk", "q123_mad_outliers", "q131_min_cost_supplier",
      "q132_top_revenue_supplier", "q133_excess_share_suppliers", "q134_lone_returned_supplier",
      "q142_no_order_outlook", "q149_sql_frontend", "q164_small_qty_revenue",
      "q165_large_volume_customers", "q193_supplier_counts", "q194_important_parts",
      "q199_recursive_chain", "q200_recursive_rollup")
    val left = sqlGates.flatMap { name =>
      SparkEntry.queries(name)(fresh, sf).collect()
      val v = views
      if (v.isEmpty) None else Some(s"$name left ${v.mkString(", ")}")
    }
    assert(left.isEmpty, left.mkString("; "))
  }

  test("GraftSql.run loads exactly the tables its text reads, for every gate that runs SQL text") {
    // The text is the origin of the plan nodes the parser made; the tables
    // it reads are the files its analyzed plan scans.
    val runGates = Seq("q09_grouping_sets", "q51_percentiles", "q104_scalar_subquery",
      "q105_exists_anti", "q106_lateral_topk", "q123_mad_outliers", "q131_min_cost_supplier",
      "q132_top_revenue_supplier", "q133_excess_share_suppliers", "q134_lone_returned_supplier",
      "q142_no_order_outlook", "q149_sql_frontend", "q164_small_qty_revenue",
      "q165_large_volume_customers", "q193_supplier_counts", "q194_important_parts")
    val wrong = runGates.flatMap { name =>
      val df = q(name)
      val texts = df.queryExecution.logical.collectWithSubqueries {
        case p if p.origin.sqlText.isDefined => p.origin.sqlText.get
      }.distinct
      assert(texts.size == 1, s"$name: ${texts.size} SQL texts")
      val loaded = graft.sql.GraftSql.tablesNamedIn(texts.head).toSet
      val read = df.inputFiles.map(f => new java.io.File(new java.net.URI(f).getPath)
        .getName.stripSuffix(".parquet")).toSet
      if (loaded == read) None else Some(s"$name loads ${loaded.toSeq.sorted} but reads ${read.toSeq.sorted}")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("GraftSql.tablesNamedIn matches whole words, case-insensitively") {
    val named = graft.sql.GraftSql.tablesNamedIn _
    assert(named("SELECT n_regionkey, l_partkey FROM nation JOIN lineitem") == Seq("lineitem", "nation"))
    assert(named("select * from Orders o, PART") == Seq("orders", "part"))
  }
}
