package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, Graft}
import graft.sources.Tables

/** Round-4 (post-closing) incremental-maintenance and statistics operators:
  * materialized-view delta merge (q166), sliding-window distinct counting
  * (q167), grouped least-squares regression (q168), and Spearman rank
  * correlation (q169).
  *
  * Shared determinism discipline: every statistic is either an exact
  * integer sum (cents, epoch days, ranks) or a fixed-point quotient of
  * exact integers — no double leaves an aggregate.
  */
object IncrementalStatsQueries {

  /** q166/q167 split day: orders span 1995–1998, so 1997-01-01 puts real
    * mass on both sides of the base/delta split at every SF.
    */
  private val SplitDay = 9862L // floor(epoch('1997-01-01') / 86400)

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q166: incremental materialized-view maintenance (Blakeley SIGMOD'86
    // view-update shape): the stored MV is the per-customer aggregate
    // over the base (orders before the split day); a delta batch arrives
    // (orders on/after it); the refreshed MV is the MERGE of the stored
    // partials with the delta's partials — count and sum are mergeable,
    // so refresh cost is |delta| + |MV|, never a base rescan. The
    // localCheckpoint below IS the "stored" artifact (cuts the base
    // lineage exactly where a real system would have it on disk). The
    // oracle recomputes the view from scratch: merged ≡ full recompute
    // is the correctness claim of IVM.
    GQuery(
      "q166_mv_merge",
      (s, d) => {
        val withDay = Tables.orders(s, d)
          .withColumn("day", floor(epochSec(col("o_orderdate")) / 86400).cast("long"))
          .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        val baseMv = withDay.filter(col("day") < SplitDay)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("spend_cents"))
          .transform(Graft.checkpoint(eager = false)) // the persisted-MV stand-in: base lineage ends here
        val deltaMv = withDay.filter(col("day") >= SplitDay)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("spend_cents"))
        baseMv.unionByName(deltaMv)
          .groupBy(col("o_custkey"))
          .agg(sum(col("n_orders")).as("n_orders"), sum(col("spend_cents")).as("spend_cents"))
          .orderBy(col("o_custkey").asc)
      },
      Some(s"""SELECT o_custkey,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS spend_cents
             |FROM orders
             |GROUP BY o_custkey
             |ORDER BY o_custkey ASC""".stripMargin),
      doc = "incremental MV maintenance: stored partials + delta merge == full recompute"),

    // ------------------------------------------------------------------
    // q167: sliding-window distinct users — 7-day trailing unique actives
    // per day. COUNT(DISTINCT) does not decompose over overlapping
    // windows, so the scalable exact spelling dedups (day, user) FIRST
    // (collapsing the heavy event stream) and then fans each survivor
    // out to the ≤7 window-days it serves — the expansion factor is the
    // window length over the ALREADY-deduped relation, not the raw
    // stream. One wide shuffle on (window_day) after a ×7 map-side
    // explode; no per-day self-joins, no global window.
    GQuery(
      "q167_sliding_distinct",
      (s, d) => {
        val du = Tables.events(s, d)
          .select(floor(epochSec(col("ts")) / 86400).cast("long").as("day"),
            col("user_id"))
          .distinct()
        val horizon = du.agg(max(col("day")).as("max_day"))
        du.select(explode(sequence(col("day"), col("day") + 6)).as("window_day"),
            col("user_id"))
          // clamp to the data horizon: a (day, user) fans into anchors
          // day..day+6, but anchors PAST the last observed day would
          // report "active users" for days that never happened
          .crossJoin(broadcast(horizon)) // 1-row side
          .filter(col("window_day") <= col("max_day"))
          .groupBy(col("window_day"))
          .agg(countDistinct(col("user_id")).as("users"))
          .orderBy(col("window_day").asc)
      },
      Some("""WITH du AS (
             |  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, user_id
             |  FROM events),
             |wd AS (
             |  SELECT du.day + o.o AS window_day, du.user_id
             |  FROM du CROSS JOIN (SELECT unnest(range(7)) AS o) o
             |  WHERE du.day + o.o <= (SELECT MAX(day) FROM du))
             |SELECT window_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
             |FROM wd GROUP BY window_day
             |ORDER BY window_day ASC""".stripMargin),
      doc = "7-day sliding distinct users: dedup-then-fan-out, exact, no self-joins"),

    // ------------------------------------------------------------------
    // q168: grouped least-squares regression — per-nation spend-vs-time
    // slope from the four decomposable sums (n, Σx, Σy, Σxy, Σx²), ONE
    // aggregate pass over the join. x is centered on the split day
    // (|x| ≤ ~1500) to keep magnitudes small, and the slope is emitted
    // in exact fixed point: 10⁶·num div den where num = n·Σxy − Σx·Σy,
    // den = n·Σx² − (Σx)², both computed in DECIMAL(38,0) (HUGEINT in
    // DuckDB) so no SF can overflow; integer div truncates identically
    // in both engines (the q161 finding). DECIMAL stays internal — the
    // output is BIGINT fixed-point.
    GQuery(
      "q168_grouped_regression",
      (s, d) => {
        val joined = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"),
            (floor(epochSec(col("o_orderdate")) / 86400).cast("long") - SplitDay).as("x"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
        joined.groupBy(col("n_name"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          // den = n·Σx² − (Σx)² = 0 iff the group's x values are all
          // identical (one distinct order date) — the slope is undefined
          // there, so such groups are excluded rather than emitting a
          // silent NULL (both engines filter identically, in decimal so
          // the guard itself cannot overflow)
          .filter(expr("""CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0)) -
                         |CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))""".stripMargin)
            =!= lit(0))
          .select(col("n_name"), col("n"),
            expr("""CAST(
                   |  (CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0)) -
                   |   CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))) * 1000000
                   |  div
                   |  (CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0)) -
                   |   CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)))
                   |AS BIGINT)""".stripMargin).as("slope_fp"))
          .orderBy(col("n_name").asc)
      },
      Some("""WITH pts AS (
             |  SELECT n.n_name,
             |         CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) - 9862 AS x,
             |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
             |  FROM orders o
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
             |agg AS (
             |  SELECT n_name, COUNT(*) AS n,
             |         SUM(x) AS sx, SUM(y) AS sy,
             |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
             |  FROM pts GROUP BY n_name)
             |SELECT n_name, CAST(n AS BIGINT) AS n,
             |       CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
             |            // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
             |         AS BIGINT) AS slope_fp
             |FROM agg
             |WHERE CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <> 0
             |ORDER BY n_name ASC""".stripMargin),
      doc = "grouped least-squares slope from decomposable sums, exact fixed point"),

    // ------------------------------------------------------------------
    // q169: Spearman rank correlation per nation between a customer's
    // account balance and their realized spend. Ranks are row_number
    // over a TOTAL order (value, then custkey — deterministic under
    // ties, same in both engines), windows partitioned BY NATION (never
    // a single global partition), and the statistic is emitted as the
    // exact integer pair (n, Σd²) — ρ = 1 − 6Σd²/(n(n²−1)) is the
    // reader's one division. Σd² ≤ n³ keeps BIGINT safe to n ≈ 2·10⁶
    // per group; beyond that the sum moves to DECIMAL (documented).
    GQuery(
      "q169_spearman",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_cents"))
        val cust = Tables.customer(s, d)
          .join(spend, col("c_custkey") === col("o_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_custkey"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"),
            col("spend_cents"))
        val rb = row_number().over(
          Window.partitionBy(col("n_name")).orderBy(col("bal_cents").asc, col("c_custkey").asc))
        val rs = row_number().over(
          Window.partitionBy(col("n_name")).orderBy(col("spend_cents").asc, col("c_custkey").asc))
        cust.withColumn("d", (rb - rs).cast("long"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
          .orderBy(col("n_name").asc)
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |           AS spend_cents
             |  FROM orders GROUP BY o_custkey),
             |cust AS (
             |  SELECT n.n_name, c.c_custkey,
             |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
             |         s.spend_cents
             |  FROM customer c
             |  JOIN spend s ON c.c_custkey = s.o_custkey
             |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
             |ranked AS (
             |  SELECT n_name,
             |         ROW_NUMBER() OVER (PARTITION BY n_name
             |           ORDER BY bal_cents ASC, c_custkey ASC) -
             |         ROW_NUMBER() OVER (PARTITION BY n_name
             |           ORDER BY spend_cents ASC, c_custkey ASC) AS d
             |  FROM cust)
             |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(d * d) AS BIGINT) AS sum_d2
             |FROM ranked
             |GROUP BY n_name
             |ORDER BY n_name ASC""".stripMargin),
      doc = "Spearman rank correlation per group as exact integers (n, sum d^2)"),

    // ------------------------------------------------------------------
    // q180: exponentially-weighted moving average per entity — the
    // standard smoothing pass over an event stream (monitoring, feature
    // engineering). Doubles would make the fold order-sensitive, so the
    // recurrence runs in SCALED INTEGERS: acc' = (acc*9) div 10 + x over
    // milli-scaled values — exact, order-defined, bit-identical
    // cross-engine (Spark `aggregate` HOF with explicit init = first
    // element, mirroring DuckDB list_reduce's first-element seed).
    // Scale shape: one shuffle (groupBy user); the per-user fold is a
    // local array operation — an entity's history must fit in one task,
    // the same per-key-state contract as mapGroupsWithState (q136).
    GQuery(
      "q180_ewma",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("CAST(floor(value * 1000) AS BIGINT)").as("x"))
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            expr("transform(array_sort(collect_list(struct(ts, event_id, x)))," +
              " s -> s.x)").as("xs"))
          .select(col("user_id"), col("n_events"),
            expr("aggregate(slice(xs, 2, CAST(size(xs) AS INT) - 1)," +
              " element_at(xs, 1), (acc, x) -> (acc * 9) div 10 + x)").as("ewma_milli"),
            expr("element_at(xs, -1)").as("last_x"))
          .orderBy(col("user_id").asc)
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id,
             |         CAST(floor(value * 1000) AS BIGINT) AS x
             |  FROM events),
             |l AS (
             |  SELECT user_id, COUNT(*) AS n, list(x ORDER BY ts, event_id) AS xs
             |  FROM o GROUP BY user_id)
             |SELECT user_id, CAST(n AS BIGINT) AS n_events,
             |       CAST(list_reduce(xs, (acc, x) -> (acc * 9) // 10 + x) AS BIGINT)
             |         AS ewma_milli,
             |       CAST(xs[-1] AS BIGINT) AS last_x
             |FROM l ORDER BY user_id ASC""".stripMargin),
      doc = "per-entity EWMA as an integer-exact fold (alpha=0.1, milli-scaled)"),

    // ------------------------------------------------------------------
    // q181: CUSUM level-shift detection per entity (Page, Biometrika
    // 1954): deviations from the global mean accumulate in an ordered
    // prefix sum; the max/min of that walk and the FIRST index attaining
    // the max locate an upward level shift. Everything is integer
    // (milli-scaled values, integer global mean via div, integer prefix
    // sums) so the walk is bit-identical cross-engine. Scale shape: the
    // 1-row global mean broadcasts; prefix sums partition per user —
    // no global window anywhere.
    GQuery(
      "q181_cusum_shift",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("CAST(floor(value * 1000) AS BIGINT)").as("x"))
        val mu = ev.agg(expr("sum(x) div count(*)").as("mu"))
        ev.crossJoin(broadcast(mu)) // 1-row side
          .withColumn("i", row_number().over(w))
          .withColumn("s", sum(col("x") - col("mu")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("max_s", max(col("s")).over(Window.partitionBy(col("user_id"))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            max(col("s")).as("cusum_max"),
            min(col("s")).as("cusum_min"),
            min(when(col("s") === col("max_s"), col("i"))).as("cp_idx"))
          .orderBy(col("user_id").asc)
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id,
             |         CAST(floor(value * 1000) AS BIGINT) AS x
             |  FROM events),
             |m AS (SELECT CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu FROM o),
             |p AS (
             |  SELECT user_id,
             |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
             |         SUM(x - mu) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS s
             |  FROM o CROSS JOIN m),
             |x AS (SELECT *, MAX(s) OVER (PARTITION BY user_id) AS max_s FROM p)
             |SELECT user_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_events,
             |       CAST(MAX(s) AS BIGINT) AS cusum_max,
             |       CAST(MIN(s) AS BIGINT) AS cusum_min,
             |       CAST(MIN(CASE WHEN s = max_s THEN i END) AS INT) AS cp_idx
             |FROM x GROUP BY user_id ORDER BY user_id ASC""".stripMargin),
      doc = "CUSUM level-shift stats per entity: integer prefix walk, first-argmax index")
  )
}
