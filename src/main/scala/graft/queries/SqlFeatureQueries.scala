package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{GQuery, Graft}
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables
import graft.sql.GraftSql

/** SQL-engine-depth gates: the subquery/decorrelation surface (correlated
  * scalar subqueries, EXISTS anti-join, lateral top-k) plus unpivot and an
  * end-to-end curation composite. These exercise Catalyst's
  * RewriteCorrelatedScalarSubquery / RewritePredicateSubquery /
  * DecorrelateInnerQuery rules — operators a user writes as SQL but the
  * engine must plan as joins to be runnable at all (a per-row subquery
  * execution would be O(n·m) at 100 TB; the decorrelated plan is one
  * aggregate plus one join).
  */
object SqlFeatureQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q104: correlated scalar subquery — orders priced above 1.5× their
    // customer's mean order value. Catalyst decorrelates the subquery into
    // a grouped aggregate joined back on o_custkey (the scalable shape;
    // naive per-row evaluation would rescan orders per order). Both needed
    // aggregates travel in ONE named_struct subquery: Spark instantiates a
    // correlated subquery once per *reference* (the filter and the output
    // each count), so two scalar subqueries referenced twice planned as 4
    // aggregate+join instances — struct packing halves that to 2. The
    // remaining duplication is why the aggregate-join spelling (q103) stays
    // the production shape; this gate pins the SQL path's semantics. The
    // 1.5× test runs in integer cents ((2·price·cnt) vs (3·sum)) so both
    // engines compare exact BIGINTs — a double mean would be
    // accumulation-order-dependent and not hash-gateable.
    GQuery(
      "q104_scalar_subquery",
      // decimal cents stay internal to the filter; the projection leaves
      // as DOUBLE (OutputPolicy — exact at these magnitudes)
      (s, d) => GraftSql.run(s, d, """SELECT o_orderkey, o_custkey, CAST(price AS DOUBLE) AS price,
                |       CAST(cs.s AS DOUBLE) AS cust_sum, cs.c AS cust_cnt
                |FROM (
                |  SELECT o_orderkey, o_custkey,
                |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                |         (SELECT named_struct(
                |                   's', CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)),
                |                   'c', COUNT(*))
                |            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cs
                |  FROM orders o)
                |WHERE 2 * CAST(price * 100 AS BIGINT) * cs.c
                |      > 3 * CAST(cs.s * 100 AS BIGINT)
                |ORDER BY o_orderkey ASC""".stripMargin),
      Some("""SELECT o_orderkey, o_custkey, CAST(price AS DOUBLE) AS price,
             |       CAST(cust_sum AS DOUBLE) AS cust_sum, cust_cnt
             |FROM (
             |  SELECT o_orderkey, o_custkey,
             |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             |         (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
             |            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_sum,
             |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o2
             |            WHERE o2.o_custkey = o.o_custkey) AS cust_cnt
             |  FROM orders o)
             |WHERE 2 * CAST(price * 100 AS BIGINT) * cust_cnt
             |      > 3 * CAST(cust_sum * 100 AS BIGINT)
             |ORDER BY o_orderkey ASC""".stripMargin),
      "correlated scalar subqueries decorrelated to aggregate+join; exact-cents filter"),

    // ------------------------------------------------------------------
    // q105: NOT EXISTS → anti join — customers with no order above 300k.
    // RewritePredicateSubquery plans this as a left-anti hash join on
    // o_custkey: shuffle-partitionable, scalable. The NOT IN spelling on a
    // nullable key would instead force a null-aware anti join
    // (BroadcastNestedLoop — quadratic, a 100 TB bug); the spec locks the
    // scalable plan in. Inner predicate is pushed below the join so the
    // anti side scans only qualifying orders.
    {
      val text = """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
                   |FROM customer c
                   |WHERE NOT EXISTS (SELECT 1 FROM orders o
                   |                  WHERE o.o_custkey = c.c_custkey
                   |                    AND o.o_totalprice > 300000)
                   |ORDER BY c_custkey ASC""".stripMargin
      GQuery("q105_exists_anti", (s, d) => GraftSql.run(s, d, text), Some(text),
        "NOT EXISTS as shuffle-able left-anti join (vs null-aware NOT IN trap)")
    },

    // ------------------------------------------------------------------
    // q106: lateral top-k — each nation's two richest customers via a
    // correlated LATERAL subquery with ORDER BY + LIMIT.
    // DecorrelateInnerQuery turns the per-nation limit into a partitioned
    // window (rank over c_nationkey) + join, so no nation re-executes the
    // customer scan — the same WindowGroupLimit shape as q98 but reached
    // from SQL. Oracle recomputes via QUALIFY row_number (the lateral and
    // window forms are semantically equal; proving that IS the gate).
    GQuery(
      "q106_lateral_topk",
      (s, d) => GraftSql.run(s, d, """SELECT n.n_nationkey, n.n_name, t.c_custkey, t.acctbal
                |FROM nation n
                |JOIN LATERAL (
                |  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal
                |  FROM customer c
                |  WHERE c.c_nationkey = n.n_nationkey
                |  ORDER BY c_acctbal DESC, c_custkey ASC
                |  LIMIT 2) t
                |ORDER BY n.n_nationkey ASC, t.acctbal DESC, t.c_custkey ASC""".stripMargin),
      Some("""SELECT n_nationkey, n_name, c_custkey, acctbal FROM (
             |  SELECT n.n_nationkey, n.n_name, c.c_custkey,
             |         CAST(c.c_acctbal AS DOUBLE) AS acctbal,
             |         row_number() OVER (PARTITION BY n.n_nationkey
             |           ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rn
             |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey)
             |WHERE rn <= 2
             |ORDER BY n_nationkey ASC, acctbal DESC, c_custkey ASC""".stripMargin),
      "lateral ORDER BY+LIMIT subquery decorrelated to per-group top-k"),

    // ------------------------------------------------------------------
    // q107: unpivot — melt part's numeric measures to (key, measure, value)
    // rows, the wide→long reshape feeding any per-feature aggregation.
    // Spark's native Unpivot (Expand under the hood) emits both rows per
    // input row in one scan — no self-union, no second pass; at 100 TB
    // the UNION ALL spelling would read the table once per measure.
    // Oracle uses the UNION ALL spelling — equality proves the reshape.
    GQuery(
      "q107_unpivot",
      (s, d) => {
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
            col("p_retailprice"))
          .unpivot(Array(col("p_partkey")),
            Array(col("p_size"), col("p_retailprice")), "measure", "value")
          .orderBy(col("p_partkey").asc, col("measure").asc)
      },
      Some("""SELECT p_partkey, measure, value FROM (
             |  SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
             |  UNION ALL
             |  SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value FROM part)
             |ORDER BY p_partkey ASC, measure ASC""".stripMargin),
      "native unpivot (one-scan Expand) vs the two-scan UNION ALL it replaces"),

    // ------------------------------------------------------------------
    // q108: the curation pipeline end-to-end — quality gate → exact dedup
    // (keep lowest doc_id per text) → per-source cap (20 longest) →
    // per-(source,lang) corpus summary. Every stage is an operator gated
    // individually elsewhere (q43, q34, q98, q04); this composite proves
    // they compose: three shuffles total (text, source, source+lang), each
    // stage's filter applied before the next stage's shuffle so data only
    // shrinks down the pipeline — the property that matters at 100 TB.
    GQuery(
      "q108_curation_pipeline",
      (s, d) => {
        val wDedup = Window.partitionBy(col("text")).orderBy(col("doc_id").asc)
        val wCap = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Tables.documents(s, d)
          .filter(col("n_chars") >= 50 && TF.tokenCount(col("text")) >= 10)
          .withColumn("dup_rn", row_number().over(wDedup))
          .filter(col("dup_rn") === 1)
          .withColumn("cap_rn", row_number().over(wCap))
          .filter(col("cap_rn") <= 20)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("source").asc, col("lang").asc)
      },
      Some("""WITH filtered AS (
             |  SELECT * FROM documents
             |  WHERE n_chars >= 50 AND len(string_split(text, ' ')) >= 10),
             |deduped AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
             |    FROM filtered) WHERE rn = 1),
             |capped AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id ASC) AS rn2
             |    FROM deduped) WHERE rn2 <= 20)
             |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM capped GROUP BY source, lang
             |ORDER BY source ASC, lang ASC""".stripMargin),
      "end-to-end curation composite: quality gate -> dedup -> domain cap -> summary"),

    // ------------------------------------------------------------------
    // q199: RECURSIVE CTE — linked-list traversal (Spark 4's WITH
    // RECURSIVE, the last big SQL-surface item the front-end tier hadn't
    // gated). Each customer's orders form a chain via the lag() edge
    // relation; the recursion walks every chain from its head, assigning
    // step numbers — the shape a window row_number computes in one pass,
    // HERE produced by the fixpoint iterator so the gate pins Spark's
    // UnionLoop execution (anchor + iterated join-step) against DuckDB's
    // recursive executor running the IDENTICAL program. `complete` proves
    // every chain was walked to its full length (depth == n_orders — a
    // broken edge or early fixpoint shows up as false, not silence).
    // 100 TB: each iteration is one join+union over the frontier; depth
    // is the LONGEST per-customer chain (25 here) — bounded-depth
    // hierarchy walks are the recursion sweet spot, while unbounded
    // closures belong to q81's O(log²n) star algorithm, not recursion.
    GQuery(
      "q199_recursive_chain",
      (s, d) => {
        // Materialize the edge relation ONCE before the recursion: the
        // UnionLoop re-evaluates every relation the step refers to on
        // EVERY iteration, so an inline `e` CTE would recompute the
        // window (full orders sort) ~25× — measured 10 s vs ~1 s. At any
        // scale, the frontier join must read a materialized edge table,
        // not a recomputed subquery.
        //
        // Isolation: the recursion guardrail raise (the 1 M default
        // counts CUMULATIVE iteration output, which reaches n_orders —
        // 1.5 M at sf1) lives in the cached recursion child session over
        // the shared SparkContext, and GraftSql.sql binds the edge
        // relation on a throwaway clone of that child. The SHARED
        // session's runaway-recursion guardrail and catalog are never
        // touched — no save/restore to race under concurrent execution,
        // nothing leaks to it if the query throws (SqlFeatureSpec pins
        // both).
        import org.apache.spark.sql.functions.{col, lag}
        import org.apache.spark.sql.expressions.Window
        val iso = graft.Graft.childSession(s, RecursionRowLimit)
        // The recursion re-scans the materialized edge relation EVERY
        // iteration (~25×), so its checkpoint block count is a per-
        // iteration fixed cost (r10, guide §2.2 — the r9-verdict
        // iterative-loop item). Size it from the metadata-only footer row
        // count; the clamp returns full parallelism on a corpus-sized
        // relation, so only small inputs coalesce. (The cached recursion
        // session's conf is immutable by contract, so this right-sizes the
        // RELATION, not the session's shuffle partitions.)
        val edgeParts = graft.functions.IterLoop.partitionsFor(
          iso, Tables.parquetRowCount(iso, s"$d/orders.parquet"))
        val edges = Tables.orders(iso, d)
          .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            lag(col("o_orderkey"), 1).over(Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)).as("prev_ok"))
          .coalesce(edgeParts)
          .transform(Graft.checkpoint(eager = false))
        GraftSql.sql(iso, """
            |WITH RECURSIVE walk(ck, ok, step) AS (
            |  SELECT ck, ok, CAST(1 AS BIGINT) FROM edges WHERE prev_ok IS NULL
            |  UNION ALL
            |  SELECT /*+ BROADCAST(w) */ e.ck, e.ok, w.step + 1
            |  FROM walk w JOIN edges e ON e.prev_ok = w.ok)
            |SELECT ck AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
            |       CAST(MAX(step) AS BIGINT) AS depth,
            |       CAST(SUM(step * ok) AS BIGINT) AS path_checksum,
            |       MAX(step) = COUNT(*) AS complete
            |FROM walk GROUP BY ck
            |ORDER BY custkey ASC
            |""".stripMargin, "edges" -> edges)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT o_custkey AS ck, o_orderkey AS ok,
             |         lag(o_orderkey) OVER (PARTITION BY o_custkey
             |           ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_ok
             |  FROM orders),
             |walk(ck, ok, step) AS (
             |  SELECT ck, ok, CAST(1 AS BIGINT) FROM e WHERE prev_ok IS NULL
             |  UNION ALL
             |  SELECT e.ck, e.ok, w.step + 1
             |  FROM walk w JOIN e ON e.prev_ok = w.ok)
             |SELECT ck AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(MAX(step) AS BIGINT) AS depth,
             |       CAST(SUM(step * ok) AS BIGINT) AS path_checksum,
             |       MAX(step) = COUNT(*) AS complete
             |FROM walk GROUP BY ck
             |ORDER BY custkey ASC""".stripMargin),
      "WITH RECURSIVE chain walk: fixpoint == full per-customer order sequence"),

    // ------------------------------------------------------------------
    // q200: RECURSIVE CTE — hierarchy rollup (the BOM-explosion /
    // org-chart shape): customers form an implicit zero-based heap tree
    // (children(k) = 2k+1, 2k+2), and the rollup sums exact acctbal cents
    // over each of the top 7 nodes' subtrees. The recursion walks DOWN
    // from the 7 queried roots (r6 walked every node UP to the root and
    // discarded ~all pairs at the end — n·log n accumulated rows, 2.6 M
    // at sf1, needing a 20× guardrail raise; the frontier-bounded
    // down-walk accumulates Σ subtree sizes ≈ 3n rows ≈ 450 k at sf1).
    // Each step expands the frontier by the two child slots (2-row
    // inline table, broadcast) and equi-joins customer on the computed
    // child key to keep only children that exist — the join a real BOM
    // walk does against its edge table. NOTE the density assumption that
    // makes the down-walk ≡ the r6 up-walk: heap children are reachable
    // only through present intermediate keys, so on a SPARSE key space a
    // missing node would prune its whole subtree where the up-walk
    // (parent = (k−1) div 2 needs no lookup) would still count the
    // orphans; TPC-H custkeys are dense 1..n, and SqlFeatureSpec pins the
    // equivalence on the fixtures. At 100 TB the frontier is bounded by
    // the queried subtrees, never the whole hierarchy; the
    // unbounded-closure alternative remains q81's star algorithm.
    // Isolation: the walk runs in the cached recursion child session
    // (guardrail raised there as SCALE HEADROOM — cumulative rows are
    // linear in n but cross the 1 M DEFAULT around n ≈ 333 k, i.e.
    // sf ≳ 2.2), its customer relation bound by GraftSql.sql on a
    // throwaway clone. The shared session's guardrail and catalog are
    // untouched even if the query throws.
    GQuery(
      "q200_recursive_rollup",
      (s, d) => {
        val iso = graft.Graft.childSession(s, RecursionRowLimit)
        // same right-sizing as q199's edge relation (r10): the recursion
        // re-scans this checkpoint once per depth level (~log₂ n), so its
        // block count is a per-iteration fixed cost; the footer-derived
        // clamp keeps corpus-scale inputs at full parallelism
        val cust = Tables.customer(iso, d)
          .select(col("c_custkey"), col("c_acctbal"))
          .coalesce(graft.functions.IterLoop.partitionsFor(
            iso, Tables.parquetRowCount(iso, s"$d/customer.parquet")))
          .transform(Graft.checkpoint(eager = false))
        GraftSql.sql(iso, """
          |WITH RECURSIVE sub(root, node) AS (
          |  SELECT CAST(r AS BIGINT), CAST(r AS BIGINT)
          |  FROM VALUES (0),(1),(2),(3),(4),(5),(6) AS roots(r)
          |  UNION ALL
          |  SELECT s.root, c.c_custkey
          |  FROM sub s
          |  CROSS JOIN VALUES (1),(2) AS off(d)
          |  JOIN customer c ON c.c_custkey = 2 * s.node + off.d)
          |SELECT sub.root AS node,
          |       CAST(COUNT(*) AS BIGINT) AS n_desc,
          |       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
          |         AS subtree_bal_c
          |FROM sub JOIN customer c ON c.c_custkey = sub.node
          |GROUP BY sub.root
          |ORDER BY node ASC
          |""".stripMargin, "customer" -> cust)
      },
      Some("""WITH RECURSIVE sub(root, node) AS (
             |  SELECT CAST(r AS BIGINT), CAST(r AS BIGINT)
             |  FROM (VALUES (0),(1),(2),(3),(4),(5),(6)) AS roots(r)
             |  UNION ALL
             |  SELECT s.root, c.c_custkey
             |  FROM sub s
             |  CROSS JOIN (VALUES (1),(2)) AS off(d)
             |  JOIN customer c ON c.c_custkey = 2 * s.node + off.d)
             |SELECT sub.root AS node,
             |       CAST(COUNT(*) AS BIGINT) AS n_desc,
             |       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |         AS subtree_bal_c
             |FROM sub JOIN customer c ON c.c_custkey = sub.node
             |GROUP BY sub.root
             |ORDER BY node ASC""".stripMargin),
      "WITH RECURSIVE hierarchy rollup: root-seeded down-walk, exact cents"),
  )
}
