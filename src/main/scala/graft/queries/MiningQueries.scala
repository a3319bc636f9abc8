package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, Graft}
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** Round-4 (post-closing) mining/audit operators: Apriori-pruned frequent
  * pair mining (q157), a distributed 2-D skyline / Pareto frontier (q158),
  * and a Deequ-style data-quality assertion audit (q159).
  *
  * Scale shapes: q157 never materialises the global pair space (candidate
  * pairs are generated map-side per basket, and the per-basket expansion is
  * C(|basket|,2) with TPC-H-bounded basket size);
  * q158 replaces the textbook single-partition sorted scan with the
  * two-level bucket prefix-max (the only global structure is the
  * bucket-summary relation, domain/width rows at any SF); q159 is a
  * constant number of single-pass aggregates plus two key anti joins.
  */
object MiningQueries {

  /** The shared co-purchase candidate core (q157 / q162 / q170 — one
    * implementation so the semantics cannot drift, the Bpe-trainer
    * precedent). Output (p1, p2, support) with p1 < p2; support = number of
    * baskets containing both items.
    *
    * r10 shape (guide §2.3/§2.4 — the r9-verdict q170 item): ONE shuffle
    * gathers each basket's DISTINCT items into a sorted array (collect_set
    * performs the per-basket dedup the old `distinct()` exchange paid for
    * separately), then the C(|basket|,2) candidate pairs are generated
    * map-side with two codegen'd generators (posexplode + explode(slice)) —
    * no corpus-sized pair self-join, no second exchange of the item set,
    * and partial aggregation collapses duplicate pairs before the final
    * (p1, p2) shuffle. The old Apriori item prune is dropped: it is
    * LOSSLESS by downward closure (MiningSpec proves output == the naive
    * unpruned recompute), so the final support filter alone yields the
    * identical pair set, and the prune's own aggregate + semi-join
    * exchanges cost more than the sub-threshold candidates they removed
    * once generation is map-side. Basket size stays the bound: work is
    * Σ C(|basket|,2) (TPC-H baskets ≤ 7 lines), never |items|².
    */
  private[graft] def copurchasePairs(
      s: org.apache.spark.sql.SparkSession, d: String, minSupport: Int): DataFrame = {
    val baskets = Tables.spread(Tables.lineitem(s, d), col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    baskets
      .select(posexplode(col("ps")).as(Seq("i", "p1")), col("ps"))
      // elements strictly after 0-based index i start at 1-based slot i+2;
      // slice tolerates an over-long length (returns through the end)
      .select(col("p1"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** The oracle side of [[copurchasePairs]] — deliberately UNPRUNED (the
    * blind all-candidate recompute), so every gate that consumes it also
    * proves the Apriori prune lossless cross-engine. MATERIALIZED because
    * q162's stacked rounds reference it through a deep CTE chain.
    */
  private[graft] def pairCtes(minSupport: Int): String =
    s"""items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pairs AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS support
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= $minSupport)""".stripMargin

  /** q162 parameters: peel to the K-core in a FIXED number of rounds (the
    * gate compares the exact R-round state in both engines whether or not
    * the peel has converged; MiningSpec asserts the fixture reaches its
    * fixpoint well inside R, so the gated output IS the k-core there).
    */
  private val KcoreK = 3
  private val KcoreRounds = 12

  /** q162 oracle: replay the identical peel rounds as stacked CTEs (the
    * discipline of the q150/q161 oracles — the trace is the contract).
    */
  private def kcoreOracle: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
         |    SELECT u AS node FROM e${r - 1} UNION ALL SELECT v AS node FROM e${r - 1})
         |  GROUP BY node),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $KcoreK),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON e.u = a.node JOIN k$r b ON e.v = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${pairCtes(2)},
       |e0 AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM pairs),
       |$rounds,
       |dfin AS (SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM e$KcoreRounds UNION ALL SELECT v AS node FROM e$KcoreRounds)
       |  GROUP BY node)
       |SELECT node, CAST(deg AS BIGINT) AS deg FROM dfin ORDER BY node ASC""".stripMargin
  }

  /** The q159 audit core over caller-supplied relations, so specs can plant
    * violations (the gated query binds the fixture tables). Single aggregate
    * pass per table (stack-unpivoted conditional sums) + two key anti joins.
    */
  private[graft] def dqAudit(li: DataFrame, ord: DataFrame, cust: DataFrame): DataFrame = {
    // one aggregate pass per table, checkpointed so the referential checks
    // reuse the row counts instead of re-scanning (li is read exactly
    // twice in total: this aggregate + the orphan anti join; same for ord)
    val liAgg = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("v_domain"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("v_range"))
      .transform(Graft.checkpoint(eager = false)) // 1 row; consumed by the stack AND ref_lineitem_orders
    val ordAgg = ord.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"))
      .transform(Graft.checkpoint(eager = false)) // 1 row; consumed by the stack AND ref_orders_customer
    val liChecks = liAgg.select(expr(
      """stack(3,
        |  'completeness_l_quantity', v_null, n,
        |  'domain_l_returnflag',     v_domain, n,
        |  'range_l_quantity',        v_range, n)
        |AS (check_name, violations, n_checked)""".stripMargin))
    val ordChecks = ordAgg.select(expr(
      """stack(1, 'uniqueness_o_orderkey', v_dup, n)
        |AS (check_name, violations, n_checked)""".stripMargin))
    val orphanLi = li.join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("ref_lineitem_orders").as("check_name"), col("violations"))
      .crossJoin(broadcast(liAgg.select(col("n").as("n_checked")))) // 1-row side
    val orphanOrd = ord.join(
        cust.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("ref_orders_customer").as("check_name"), col("violations"))
      .crossJoin(broadcast(ordAgg.select(col("n").as("n_checked")))) // 1-row side
    liChecks.unionByName(ordChecks).unionByName(orphanLi).unionByName(orphanOrd)
      .withColumn("pass", when(col("violations") === 0L, 1).otherwise(0))
      .orderBy(col("check_name").asc)
  }

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q157: frequent pair mining (Agrawal & Srikant, VLDB 1994).
    // Baskets = orders, items = parts. Candidate pairs are generated
    // MAP-SIDE from each basket's sorted distinct-item array (see
    // copurchasePairs — one basket shuffle, codegen'd generators, partial
    // aggregation before the pair exchange), so the work is Σ C(|basket|,2)
    // over baskets — never |items|² and never an unpartitioned cross. At
    // 100 TB the same plan holds: basket content, not vocabulary size,
    // bounds candidate generation (plus, for adversarial basket-size skew,
    // the documented per-basket cap — TPC-H baskets are ≤7 lines so the
    // fixture never triggers one). MiningSpec proves the output equals the
    // naive unpruned self-join recompute.
    GQuery(
      "q157_frequent_pairs",
      (s, d) => copurchasePairs(s, d, minSupport = 3)
        .orderBy(col("support").desc, col("p1").asc, col("p2").asc),
      Some(s"""WITH ${pairCtes(3)}
             |SELECT p1, p2, CAST(support AS BIGINT) AS support
             |FROM pairs
             |ORDER BY support DESC, p1 ASC, p2 ASC""".stripMargin),
      doc = "Apriori-pruned frequent pair mining over order baskets"),

    // ------------------------------------------------------------------
    // q158: 2-D skyline (Börzsönyi ICDE 2001) — customers not dominated
    // on (total spend, recency). The textbook sorted scan needs a GLOBAL
    // cumulative max (a single-partition window — the one Spark shape
    // this engine bans); instead: collapse to distinct-x maxima, then a
    // two-level strict prefix-max (within-bucket window partitioned by
    // bucket + a bucket-summary window whose row count is domain/width —
    // an artifact, not data, at any SF; same decomposition as
    // Packing.prefixSum). A point survives iff its y strictly exceeds
    // the max y over all strictly-greater x; joining back on
    // (x, best_y) re-admits every tied attaining row, which is exactly
    // strict-dominance semantics (equal (x,y) duplicates all survive,
    // equal-x lower-y rows are dominated). Oracle = the O(n²)
    // NOT-EXISTS dominance definition — an independent formulation, so
    // equality proves the distributed scan, not just determinism.
    // Money exact: cents via round-then-cast on both engines.
    GQuery(
      "q158_skyline",
      (s, d) => {
        val bucketW = 10000000L // cents per bucket; spend-domain/width buckets
        val pts = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("custkey"))
          .agg(
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_cents"),
            max(floor(epochSec(col("o_orderdate")) / 86400).cast("long")).as("last_day"))
        val byX = pts.groupBy(col("spend_cents"))
          .agg(max(col("last_day")).as("best_day"))
          .withColumn("bucket", floor(col("spend_cents") / lit(bucketW.toDouble)).cast("long"))
        val bucketOver = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val higher = byX.groupBy(col("bucket"))
          .agg(max(col("best_day")).as("bmax"))
          .withColumn("higher_max", max(col("bmax")).over(bucketOver))
          .select(col("bucket").as("bo"), col("higher_max"))
        val inner = Window.partitionBy(col("bucket"))
          .orderBy(col("spend_cents").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val frontier = byX
          .withColumn("inner_max", max(col("best_day")).over(inner))
          .join(broadcast(higher), col("bucket") === col("bo"))
          .withColumn("gt_max",
            greatest(
              coalesce(col("inner_max"), lit(Long.MinValue)),
              coalesce(col("higher_max"), lit(Long.MinValue))))
          .filter(col("best_day") > col("gt_max"))
          .select(col("spend_cents").as("sx"), col("best_day"))
        pts.join(frontier,
            pts("spend_cents") === col("sx") && pts("last_day") === col("best_day"))
          .select(col("custkey"), col("spend_cents"), col("last_day"))
          .orderBy(col("spend_cents").desc, col("custkey").asc)
      },
      Some("""WITH c AS (
             |  SELECT o_custkey AS custkey,
             |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
             |         CAST(floor(epoch(MAX(o_orderdate)) / 86400) AS BIGINT) AS last_day
             |  FROM orders GROUP BY o_custkey)
             |SELECT custkey, spend_cents, last_day
             |FROM c p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM c q
             |  WHERE q.spend_cents >= p.spend_cents AND q.last_day >= p.last_day
             |    AND (q.spend_cents > p.spend_cents OR q.last_day > p.last_day))
             |ORDER BY spend_cents DESC, custkey ASC""".stripMargin),
      doc = "distributed 2-D skyline (Pareto frontier) via two-level strict prefix-max"),

    // ------------------------------------------------------------------
    // q159: data-quality audit (the Deequ shape, Schelter VLDB 2018) —
    // completeness, uniqueness, domain, range, and referential checks as
    // ONE artifact-sized result. All metric math is exact integer counts;
    // the per-table checks fold into a single aggregate pass each
    // (conditional sums unpivoted via stack, so lineitem is scanned once
    // for three checks, not three times), and the two referential checks
    // are key anti joins — the whole audit is 4 scans + 2 shuffles at
    // any SF. pass is a deterministic function of the metric (==0), so
    // the gate locks both the measured violation counts and the verdicts.
    GQuery(
      "q159_dq_audit",
      (s, d) => dqAudit(
        Tables.spread(Tables.lineitem(s, d), col("l_orderkey")),
        Tables.orders(s, d),
        Tables.customer(s, d)),
      Some("""WITH li AS (
             |  SELECT COUNT(*) AS n,
             |         SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS v_null,
             |         SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS v_domain,
             |         SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v_range
             |  FROM lineitem),
             |ord AS (
             |  SELECT COUNT(*) AS n,
             |         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup
             |  FROM orders),
             |checks AS (
             |  SELECT 'completeness_l_quantity' AS check_name, v_null AS violations, n AS n_checked FROM li
             |  UNION ALL
             |  SELECT 'domain_l_returnflag', v_domain, n FROM li
             |  UNION ALL
             |  SELECT 'range_l_quantity', v_range, n FROM li
             |  UNION ALL
             |  SELECT 'uniqueness_o_orderkey', v_dup, n FROM ord
             |  UNION ALL
             |  SELECT 'ref_lineitem_orders',
             |         (SELECT COUNT(*) FROM lineitem l
             |          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
             |         (SELECT n FROM li)
             |  UNION ALL
             |  SELECT 'ref_orders_customer',
             |         (SELECT COUNT(*) FROM orders o
             |          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
             |         (SELECT n FROM ord))
             |SELECT check_name,
             |       CAST(violations AS BIGINT) AS violations,
             |       CAST(n_checked AS BIGINT) AS n_checked,
             |       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INTEGER) AS pass
             |FROM checks
             |ORDER BY check_name ASC""".stripMargin),
      doc = "Deequ-style data-quality audit: completeness/uniqueness/domain/range/referential checks"),

    // ------------------------------------------------------------------
    // q162: k-core decomposition (Seidman 1983; Batagelj-Zaveršnik peel)
    // of the part co-purchase graph (edges = part pairs sharing ≥2 order
    // baskets). Each peel round is degree-count + two semi joins on the
    // CURRENT edge set, all shuffled on the vertex/edge keys — the
    // standard distributed peel, monotone shrinking, localCheckpoint per
    // round for constant plan depth. Fixed R=12 rounds so both engines
    // compute the identical state (the fixture converges in far fewer —
    // MiningSpec proves round R is a fixpoint, so the output here IS the
    // 3-core). At 100 TB: peel depth, not graph size, bounds the rounds;
    // each round's shuffle shrinks with the surviving edge set.
    GQuery(
      "q162_kcore",
      (s, d) => {
        var edges = copurchasePairs(s, d, minSupport = 2)
          .select(col("p1").as("u"), col("p2").as("v"))
          .transform(Graft.checkpoint(eager = false)) // round 1 reads it twice (degrees + semi joins)
        // Early exit at the peel FIXPOINT (r9): peeling only ever REMOVES
        // edges, so an unchanged edge count means the keep-set is
        // unchanged and every remaining round is the identity — the
        // round-R state the oracle computes is exactly the fixpoint
        // state (MiningSpec already proves round R is a fixpoint on the
        // fixtures). The scalar count doubles as each lazy checkpoint's
        // materializer; the skipped rounds each cost a degree aggregate
        // plus two semi-join shuffles.
        var nEdges = edges.count()
        var converged = false
        // Per-round reduce tasks sized to the LIVE edge set, not the session
        // default (r10, guide §2.2 — the r9-verdict inverse-scaling item:
        // 12 rounds × 32 near-empty reduce tasks made q162 slower at 32
        // cores than at 8): the rounds plan on a loop session. partitionsFor
        // clamps to full parallelism, so a corpus-sized edge set is
        // unaffected. The pair-core materialization and its count above run
        // on the caller's session at full parallelism.
        edges = graft.Graft.onSession(graft.functions.IterLoop.session(s,
          graft.functions.IterLoop.partitionsFor(s, nEdges)), edges)
        for (_ <- 1 to KcoreRounds if !converged) {
          val keep = edges.select(col("u").as("node"))
            .unionByName(edges.select(col("v").as("node")))
            .groupBy(col("node")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= KcoreK)
            .select(col("node"))
            .transform(Graft.checkpoint(eager = false)) // consumed by both semi joins
          val next = edges
            .join(keep, edges("u") === keep("node"), "left_semi")
            .join(keep, edges("v") === keep("node"), "left_semi")
            .transform(Graft.checkpoint(eager = false)) // constant plan depth across rounds
          val m = next.count()
          converged = m == nEdges
          edges = next
          nEdges = m
        }
        edges = graft.Graft.onSession(s, edges)
        edges.select(col("u").as("node"))
          .unionByName(edges.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
          .orderBy(col("node").asc)
      },
      Some(kcoreOracle),
      doc = "k-core decomposition of the co-purchase graph by fixed-round distributed peel"),

    // ------------------------------------------------------------------
    // q163: weighted sampling without replacement (Efraimidis & Spirakis,
    // IPL 2006): each key draws u ~ U(0,1] deterministically from md5 and
    // ranks by ln(u)/w — the top-k under that key IS a weighted sample
    // without replacement. One aggregation + TakeOrderedAndProject
    // (per-partition heap + merge, never a global sort) — the shape that
    // samples 20 of 10⁹ customers without moving the corpus. Both engines
    // compute the identical IEEE double chain (int→double of the hash,
    // one divide, one multiply — same left-associated order), and the
    // floor-quantized key makes the gate integer-exact; MiningSpec
    // asserts the quantizer margin on the real fixture (q148 discipline).
    GQuery(
      "q163_weighted_sample",
      (s, d) => {
        val two60 = 1152921504606846976.0 // 2^60
        val pts = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("w_cents"))
        pts
          .withColumn("u",
            (TF.md5Hash60(concat(lit("ws#"), col("custkey").cast("string"))) + 1)
              .cast("double") / lit(two60))
          .withColumn("qs",
            floor(log(col("u")) / col("w_cents").cast("double") * lit(1e9)).cast("long"))
          .orderBy(col("qs").desc, col("custkey").asc)
          .limit(20)
          .select(col("custkey"), col("w_cents"), col("qs"))
      },
      Some("""WITH pts AS (
             |  SELECT o_custkey AS custkey,
             |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS w_cents
             |  FROM orders GROUP BY o_custkey),
             |keyed AS (
             |  SELECT custkey, w_cents,
             |         CAST(floor(
             |           ln((CAST(('0x' || substr(md5('ws#' || custkey), 1, 15)) AS BIGINT) + 1)
             |              / 1152921504606846976.0)
             |           / CAST(w_cents AS DOUBLE) * 1000000000.0) AS BIGINT) AS qs
             |  FROM pts)
             |SELECT custkey, w_cents, qs
             |FROM keyed
             |ORDER BY qs DESC, custkey ASC
             |LIMIT 20""".stripMargin),
      doc = "Efraimidis-Spirakis weighted sample without replacement via deterministic keys")
  )
}
