package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{GQuery, Graft}
import graft.sources.Tables
import graft.sql.GraftSql
import graft.plans.AsOfJoinCustom

/** Second-wave coverage: the custom physical as-of operator, file
  * source/sink round-trips (CSV/JSON), pivot, and exact percentiles.
  */
object ExtraQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q47: the SAME as-of semantics as q17, but through the custom
    // LogicalPlan → SparkStrategy → sort-merge AsOfJoinExec stack — both
    // implementations are gated against the same DuckDB oracle.
    GQuery(
      "q47_asof_custom",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        AsOfJoinCustom.backward(purchases, clicks,
            leftKey = "user_id", rightKey = "user_id",
            leftTime = "ts", rightTime = "ts",
            rightValues = Seq("value"), rightTiebreak = "event_id")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_value"), col("asof_time"))
          .orderBy(col("event_id").asc)
      },
      Some(asofEventsOracleSql),
      "as-of join via custom LogicalPlan+Strategy+sort-merge exec"),

    // ------------------------------------------------------------------
    // q48/q49: file sink+source round-trips. The query WRITES a projection
    // of the fixture to a scratch dir in the target format, reads it back
    // with an explicit schema, and aggregates — the oracle aggregates the
    // original table, so the gate proves the round-trip is lossless.
    GQuery(
      "q48_csv_roundtrip",
      (s, d) => {
        val tmp = Graft.scratch("csv")
        val src = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"))
        src.write.mode("overwrite").option("header", "true").csv(tmp)
        s.read
          .schema("l_orderkey LONG, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING")
          .option("header", "true").csv(tmp)
          .groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
            sum(col("l_orderkey")).as("sum_keys"))
          .orderBy(col("flag").asc)
      },
      Some("""SELECT l_returnflag AS flag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
             |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_keys
             |FROM lineitem GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      "CSV sink + schema-explicit CSV source round-trip"),

    GQuery(
      "q49_json_roundtrip",
      (s, d) => {
        val tmp = Graft.scratch("json")
        val src = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        src.write.mode("overwrite").json(tmp)
        s.read
          .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING")
          .json(tmp)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("status").asc)
      },
      Some("""SELECT o_orderstatus AS status, COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
             |FROM orders GROUP BY 1 ORDER BY status ASC""".stripMargin),
      "JSON sink + schema-explicit JSON source round-trip"),

    // ------------------------------------------------------------------
    // q50: pivot — wide conditional aggregation; the oracle spells out the
    // equivalent FILTERed aggregates (dialect-portable form of PIVOT).
    GQuery(
      "q50_pivot",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("flag"))
          .pivot(col("l_linestatus"), Seq("F", "O"))
          .agg(sum(col("l_quantity")))
          .select(col("flag"), col("F").as("qty_f"), col("O").as("qty_o"))
          .orderBy(col("flag").asc)
      },
      Some("""SELECT l_returnflag AS flag,
             |       SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_f,
             |       SUM(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_o
             |FROM lineitem GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      "pivot to wide conditional aggregates"),

    // ------------------------------------------------------------------
    // q51: exact percentiles (interpolated). l_quantity is integral-valued,
    // so the linear interpolation arithmetic is exact on both engines.
    GQuery(
      "q51_percentiles",
      (s, d) => GraftSql.run(s, d, """SELECT l_returnflag AS flag,
                |       percentile(l_quantity, 0.5) AS p50,
                |       percentile(l_quantity, 0.9) AS p90,
                |       min(l_quantity) AS qmin, max(l_quantity) AS qmax
                |FROM lineitem GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      Some("""SELECT l_returnflag AS flag,
             |       quantile_cont(l_quantity, 0.5) AS p50,
             |       quantile_cont(l_quantity, 0.9) AS p90,
             |       min(l_quantity) AS qmin, max(l_quantity) AS qmax
             |FROM lineitem GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      "exact interpolated percentiles"),

    // ------------------------------------------------------------------
    // q52: null-handling scalar surface (3VL): NULLIF manufactures nulls,
    // COALESCE/CASE consume them.
    GQuery(
      "q52_null_funcs",
      (s, d) => {
        Tables.customer(s, d)
          .select(
            col("c_custkey").as("custkey"),
            nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
            coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(hidden)")).as("seg_filled"),
            when(col("c_acctbal") < 0, lit(null).cast("double"))
              .otherwise(col("c_acctbal")).as("bal_nonneg"),
            (nullif(col("c_mktsegment"), lit("BUILDING")).isNull).as("is_building"))
          .orderBy(col("custkey").asc)
      },
      Some("""SELECT c_custkey AS custkey,
             |       NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
             |       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(hidden)') AS seg_filled,
             |       CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_nonneg,
             |       NULLIF(c_mktsegment, 'BUILDING') IS NULL AS is_building
             |FROM customer ORDER BY custkey ASC""".stripMargin),
      "null functions: nullif/coalesce/case/is-null (3VL)"),

    // ------------------------------------------------------------------
    // q53: ordered collect — collect_list is unordered by contract, so the
    // deterministic form sorts the collected array; DuckDB's ordered
    // string_agg is the oracle.
    GQuery(
      "q53_collect_sorted",
      (s, d) => {
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(array_sort(collect_set(col("o_orderstatus"))).as("statuses0"),
            count(lit(1)).as("n"))
          .select(col("priority"), array_join(col("statuses0"), ",").as("statuses"), col("n"))
          .orderBy(col("priority").asc)
      },
      Some("""SELECT o_orderpriority AS priority,
             |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
             |       COUNT(*) AS n
             |FROM orders GROUP BY 1 ORDER BY priority ASC""".stripMargin),
      "deterministic collect: sorted distinct aggregation to csv"),

    // ------------------------------------------------------------------
    // q54: IVF approximate nearest neighbors (coarse-quantizer centroids via
    // the VectorCentroid Aggregator + probed-cell exact search). Gated at
    // nprobe = 10 = the label-cell count (VERDICT r4): probing EVERY cell
    // makes IVF exact by construction — the quantizer, centroid UDAF,
    // probe ranking, and cell-join machinery must reproduce brute-force
    // top-5 bit-for-bit, which the q39 oracle pins. The partial-probe
    // (nprobe=3) recall/pruning behavior — where the answer is
    // estimator-specific — is gated by q73's invariants instead.
    GQuery(
      "q54_ivf_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.functions.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "label",
            graft.functions.Similarity.cellCentroids(emb, "label", "embedding", dims = 64),
            k = 5, nprobe = 10)
          .orderBy(col("query_id").asc, col("rank").asc)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
             |sims AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |         list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
             |                                CAST(e.embedding AS DOUBLE[])) AS sim,
             |         ROW_NUMBER() OVER (PARTITION BY q.query_id
             |                            ORDER BY list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
             |                                     CAST(e.embedding AS DOUBLE[])) DESC,
             |                                     e.vec_id ASC) AS rank
             |  FROM embeddings e CROSS JOIN q
             |  WHERE e.vec_id <> q.query_id)
             |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, sim FROM sims
             |WHERE rank <= 5 ORDER BY query_id ASC, rank ASC""".stripMargin),
      "IVF ANN: centroid quantizer (UDAF) + probed cells; full probe == exact"),

    // ------------------------------------------------------------------
    // q55: right outer join (orders ⟖ customer) — completes the outer-join
    // family (left: q11, full: q16).
    GQuery(
      "q55_join_right",
      (s, d) => {
        val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        Tables.customer(s, d)
          .join(o, col("c_custkey") === col("o_custkey"), "right")
          .select(col("o_orderkey").as("okey"),
            coalesce(col("c_name"), lit("(none)")).as("cust"))
          .orderBy(col("okey").asc)
      },
      Some("""SELECT o_orderkey AS okey, COALESCE(c_name, '(none)') AS cust
             |FROM customer RIGHT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
             |  ON c_custkey = o_custkey
             |ORDER BY okey ASC""".stripMargin),
      "right outer join"),

    // ------------------------------------------------------------------
    // q56: range/interval join against an inline band dimension (the
    // BETWEEN-style non-equi join; tiny dim → BroadcastNestedLoopJoin. At
    // scale, band the fact side to an equi key instead).
    GQuery(
      "q56_join_range",
      (s, d) => {
        import s.implicits._
        val bands = Seq((0.0, 10.0, "low"), (10.0, 25.0, "mid"),
          (25.0, 40.0, "high"), (40.0, 100.0, "top")).toDF("lo", "hi", "band")
        Tables.lineitem(s, d)
          .join(broadcast(bands),
            col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
          .groupBy(col("band")).agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("band").asc)
      },
      Some("""SELECT band, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
             |FROM lineitem JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'),
             |                           (25.0, 40.0, 'high'), (40.0, 100.0, 'top')) b(lo, hi, band)
             |  ON l_quantity >= lo AND l_quantity < hi
             |GROUP BY 1 ORDER BY band ASC""".stripMargin),
      "range (interval) join against a band dimension"),

    // ------------------------------------------------------------------
    // q57: map functions — parse events.props into a typed map and operate
    // on keys/values (SURVEY.md §2.8 map_* family).
    GQuery(
      "q57_map_funcs",
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.LongType)).as("m"))
          .select(col("event_id"),
            size(col("m")).as("n_keys"),
            array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
            element_at(col("m"), "k").as("k_val"))
          .orderBy(col("event_id").asc)
      },
      Some("""SELECT event_id,
             |       CAST(len(json_keys(props)) AS INT) AS n_keys,
             |       array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |FROM events ORDER BY event_id ASC""".stripMargin),
      "map functions over parsed JSON props"),

    // ------------------------------------------------------------------
    // q58: ORC sink + source round-trip (third columnar format).
    GQuery(
      "q58_orc_roundtrip",
      (s, d) => {
        val tmp = Graft.scratch("orc")
        Tables.supplier(s, d).write.mode("overwrite").orc(tmp)
        s.read.schema("s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
          .orc(tmp)
          .groupBy(col("s_nationkey").as("nk"))
          .agg(count(lit(1)).as("n"),
            sum(col("s_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
          .orderBy(col("nk").asc)
      },
      Some("""SELECT s_nationkey AS nk, COUNT(*) AS n,
             |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM supplier GROUP BY 1 ORDER BY nk ASC""".stripMargin),
      "ORC sink + source round-trip"),

    // ------------------------------------------------------------------
    // q59: hive-style partitioned parquet + partition pruning — at 100 TB
    // partition layout is the first-order scan optimization; the filtered
    // re-read must only touch the 'A' directory (PartitionFilters asserted
    // in PlanShapeSpec).
    GQuery(
      "q59_partitioned_parquet",
      (s, d) => {
        val tmp = Graft.scratch("part")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
          .write.mode("overwrite")
          .option("compression", "zstd")
          .partitionBy("l_returnflag")
          .parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("l_returnflag") === "A")
          .groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("flag").asc)
      },
      Some("""SELECT l_returnflag AS flag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
             |FROM lineitem WHERE l_returnflag = 'A'
             |GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      "partitioned (hive-layout) zstd parquet write + pruned re-read"),

    // ------------------------------------------------------------------
    // q60: distribution window functions.
    GQuery(
      "q60_window_dist",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        Tables.lineitem(s, d).filter(col("l_suppkey") <= 3)
          .select(col("l_returnflag").as("flag"),
            col("l_orderkey").as("okey"), col("l_linenumber").as("line_no"),
            percent_rank().over(w).as("prk"),
            cume_dist().over(w).as("cd"))
          // (okey, line_no) is NOT unique in the fixture (duplicate line
          // rows exist) and duplicates can differ in l_quantity, hence in
          // prk/cd — append the measures to make the output order total.
          .orderBy(col("flag").asc, col("okey").asc, col("line_no").asc,
            col("prk").asc, col("cd").asc)
      },
      Some("""SELECT l_returnflag AS flag, l_orderkey AS okey, l_linenumber AS line_no,
             |       PERCENT_RANK() OVER w AS prk,
             |       CUME_DIST() OVER w AS cd
             |FROM lineitem WHERE l_suppkey <= 3
             |WINDOW w AS (PARTITION BY l_returnflag
             |             ORDER BY l_quantity ASC, l_orderkey ASC, l_linenumber ASC)
             |ORDER BY flag ASC, okey ASC, line_no ASC, prk ASC, cd ASC""".stripMargin),
      "distribution windows: percent_rank / cume_dist"),

    // ------------------------------------------------------------------
    // q64: resample + forward-fill (gap-fill) — the time-series companion
    // to the as-of join: densify each user's event stream to an hourly
    // grid and carry the last observed hourly sum forward across gaps.
    // Scale shape: grid generation is sequence+explode per user (no driver
    // loop), the fill is one window per user — shuffle on user only.
    GQuery(
      "q64_resample_ffill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, d)
          .filter(col("user_id") < 10)
          .groupBy(col("user_id"),
            (floor(epochSec(col("ts")) / 3600) * 3600).cast("long").as("bucket"))
          .agg(sum(col("value").cast(DecimalType(18, 6))).as("v"))
        val bounds = hourly.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        val grid = hourly.select(col("user_id")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("user_id"),
            explode(sequence(col("lo"), col("hi"), lit(3600L))).as("bucket"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "bucket"), "left")
          .select(col("user_id"), col("bucket"),
            // decimal ffill internally; DOUBLE at the output boundary
            // (OutputPolicy)
            last(col("v"), ignoreNulls = true).over(w).cast("double").as("v_ffill"),
            col("v").isNotNull.as("observed"))
          .orderBy(col("user_id").asc, col("bucket").asc)
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             |         SUM(CAST(value AS DECIMAL(18,6))) AS v
             |  FROM events WHERE user_id < 10 GROUP BY 1, 2),
             |bounds AS (SELECT min(bucket) lo, max(bucket) hi FROM hourly),
             |grid AS (
             |  SELECT u.user_id, CAST(unnest(range(b.lo, b.hi + 3600, 3600)) AS BIGINT) AS bucket
             |  FROM (SELECT DISTINCT user_id FROM hourly) u CROSS JOIN bounds b)
             |SELECT g.user_id, g.bucket,
             |       CAST(LAST_VALUE(h.v IGNORE NULLS) OVER
             |         (PARTITION BY g.user_id ORDER BY g.bucket
             |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS v_ffill,
             |       h.v IS NOT NULL AS observed
             |FROM grid g LEFT JOIN hourly h
             |  ON h.user_id = g.user_id AND h.bucket = g.bucket
             |ORDER BY g.user_id ASC, g.bucket ASC""".stripMargin),
      "resample to hourly grid + forward-fill across gaps"),

    // ------------------------------------------------------------------
    // q253 (r8c): resample with LINEAR interpolation — the gap-fill
    // policy a metrics/feature pipeline wants where q64's forward-fill
    // would flat-line through a trend. Same hourly grid; each missing
    // bucket takes prev + (next − prev)·(Δt / ΔT) from its bracketing
    // observations (four ignore-nulls window lookups — prev/next value
    // and bucket), computed in DOUBLE with the identical expression
    // shape on both engines; edge buckets with only one bracket stay
    // null and are labeled 'edge'. 100 TB: one window shuffle per
    // user — the q64 plan with two extra window columns, no new
    // exchange (window functions over one (partition, order) share a
    // single sort).
    GQuery(
      "q253_resample_linear",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, d)
          .filter(col("user_id") < 10)
          .groupBy(col("user_id"),
            (floor(epochSec(col("ts")) / 3600) * 3600).cast("long").as("bucket"))
          .agg(sum(col("value").cast(DecimalType(18, 6))).cast("double").as("v"))
        val bounds = hourly.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        val grid = hourly.select(col("user_id")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("user_id"),
            explode(sequence(col("lo"), col("hi"), lit(3600L))).as("bucket"))
        val wPrev = Window.partitionBy(col("user_id")).orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = Window.partitionBy(col("user_id")).orderBy(col("bucket").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        grid.join(hourly, Seq("user_id", "bucket"), "left")
          .select(col("user_id"), col("bucket"), col("v"),
            last(when(col("v").isNotNull, col("v")), ignoreNulls = true).over(wPrev).as("pv"),
            last(when(col("v").isNotNull, col("bucket")), ignoreNulls = true).over(wPrev).as("pb"),
            first(when(col("v").isNotNull, col("v")), ignoreNulls = true).over(wNext).as("nv"),
            first(when(col("v").isNotNull, col("bucket")), ignoreNulls = true).over(wNext).as("nb"))
          .select(col("user_id"), col("bucket"),
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                col("pv") + (col("nv") - col("pv")) *
                  ((col("bucket") - col("pb")).cast("double") /
                    (col("nb") - col("pb")).cast("double")))
              .otherwise(lit(null).cast("double")).as("v_lin"),
            when(col("v").isNotNull, lit("obs"))
              .when(col("pv").isNotNull && col("nv").isNotNull, lit("interp"))
              .otherwise(lit("edge")).as("kind"))
          .orderBy(col("user_id").asc, col("bucket").asc)
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
             |  FROM events WHERE user_id < 10 GROUP BY 1, 2),
             |bounds AS (SELECT min(bucket) lo, max(bucket) hi FROM hourly),
             |grid AS (
             |  SELECT u.user_id, CAST(unnest(range(b.lo, b.hi + 3600, 3600)) AS BIGINT) AS bucket
             |  FROM (SELECT DISTINCT user_id FROM hourly) u CROSS JOIN bounds b),
             |j AS (
             |  SELECT g.user_id, g.bucket, h.v,
             |         LAST_VALUE(h.v IGNORE NULLS) OVER
             |           (PARTITION BY g.user_id ORDER BY g.bucket
             |            ROWS UNBOUNDED PRECEDING) AS pv,
             |         LAST_VALUE(CASE WHEN h.v IS NOT NULL THEN g.bucket END IGNORE NULLS) OVER
             |           (PARTITION BY g.user_id ORDER BY g.bucket
             |            ROWS UNBOUNDED PRECEDING) AS pb,
             |         FIRST_VALUE(h.v IGNORE NULLS) OVER
             |           (PARTITION BY g.user_id ORDER BY g.bucket
             |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |         FIRST_VALUE(CASE WHEN h.v IS NOT NULL THEN g.bucket END IGNORE NULLS) OVER
             |           (PARTITION BY g.user_id ORDER BY g.bucket
             |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
             |  FROM grid g LEFT JOIN hourly h
             |    ON h.user_id = g.user_id AND h.bucket = g.bucket)
             |SELECT user_id, bucket,
             |       CASE WHEN v IS NOT NULL THEN v
             |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
             |              pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
             |            ELSE NULL END AS v_lin,
             |       CASE WHEN v IS NOT NULL THEN 'obs'
             |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
             |            ELSE 'edge' END AS kind
             |FROM j ORDER BY user_id ASC, bucket ASC""".stripMargin),
      "resample to hourly grid + linear interpolation between bracketing observations"),

    // ------------------------------------------------------------------
    // q65–q67: TPC-H-shaped composite analytics (adapted to the fixture
    // columns) — multi-operator pipelines the way users actually write them.
    //
    // q65 ~ TPC-H Q4: priority counts of orders with at least one line
    // shipped after the order date (semi-join + agg).
    GQuery(
      "q65_order_priority",
      (s, d) => {
        val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        o.join(li, col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("priority").asc)
      },
      Some("""SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
             |FROM orders WHERE EXISTS (
             |  SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY 1 ORDER BY priority ASC""".stripMargin),
      "TPC-H Q4 shape: correlated-EXISTS semi-join + priority counts"),

    // q66 ~ TPC-H Q13: distribution of customers by order count
    // (left join + two-level aggregation).
    GQuery(
      "q66_custdist",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |  GROUP BY 1)
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
      "TPC-H Q13 shape: two-level aggregation over an outer join"),

    // q67 ~ TPC-H Q18: large-quantity orders — HAVING subquery feeding a
    // three-way join + top-k.
    GQuery(
      "q67_large_orders",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 300)
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_name").as("cust"), col("o_orderkey").as("okey"),
            col("o_orderdate").as("odate"), col("o_totalprice").as("total"),
            col("total_qty"))
          .orderBy(col("total").desc, col("okey").asc)
          .limit(50)
      },
      Some("""SELECT c_name AS cust, o_orderkey AS okey, o_orderdate AS odate,
             |       o_totalprice AS total, total_qty
             |FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
             |      FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300) big
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY total DESC, okey ASC LIMIT 50""".stripMargin),
      "TPC-H Q18 shape: HAVING aggregate subquery + joins + top-k"),

    // ------------------------------------------------------------------
    // q69: approximate quantiles (Greenwald-Khanna sketch) — the mergeable
    // quantile sketch next to HLL (q06). The returned value is
    // sketch-specific, so the gated OUTPUT is the deterministic projection
    // (VERDICT r4): group sizes plus booleans asserting the approx
    // quantile's EXACT RANK lies within (q ± 2/accuracy)·n (+1 for
    // boundary ties) — the sketch runs in this plan, its value decides the
    // booleans via an exact rank recount. o_totalprice (near-unique
    // doubles) rather than a low-cardinality column: heavy ties would
    // stairstep the rank past any eps window and gate the wrong thing.
    // Companion q71 gates accuracy=1000 p50/p95 on lineitem.
    GQuery(
      "q69_approx_quantiles",
      (s, d) => {
        val eps = 2.0 / 500
        val o = Tables.orders(s, d)
        val appr = o.groupBy(col("o_orderstatus").as("status"))
          .agg(percentile_approx(col("o_totalprice"), lit(0.25), lit(500)).as("p25a"),
            percentile_approx(col("o_totalprice"), lit(0.75), lit(500)).as("p75a"))
        o.select(col("o_orderstatus").as("status"), col("o_totalprice").as("v"))
          .join(appr, "status")
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("v") <= col("p25a"), 1L).otherwise(0L)).as("rank25"),
            sum(when(col("v") <= col("p75a"), 1L).otherwise(0L)).as("rank75"))
          .select(col("status"), col("n"),
            (col("rank25") >= col("n") * (0.25 - eps) - 1 &&
              col("rank25") <= col("n") * (0.25 + eps) + 1).as("p25_ok"),
            (col("rank75") >= col("n") * (0.75 - eps) - 1 &&
              col("rank75") <= col("n") * (0.75 + eps) + 1).as("p75_ok"))
          .orderBy(col("status").asc)
      },
      Some("""SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
             |       true AS p25_ok, true AS p75_ok
             |FROM orders GROUP BY 1 ORDER BY status ASC""".stripMargin),
      "approximate quantiles (GK sketch, mergeable), rank-error gated"),

    // ------------------------------------------------------------------
    // q137: dynamic partition overwrite, gated end-to-end (upgrades the r2
    // spec-only BucketingSpec row). Seed a source-partitioned table from
    // documents, then overwrite JUST the src3 partition with its
    // quality-filtered subset using partitionOverwriteMode=dynamic — the
    // daily-recompute shape of a 100 TB curation pipeline (rewrite today's
    // partition in place, never touch the others). Under the default
    // STATIC mode the second write would have deleted every other
    // partition — the oracle's rows for all other sources make that
    // regression a red gate, not a silent data loss.
    // The rewritten subset is a top-k (20 longest docs of src3), not a
    // value filter: dynamic overwrite is a NO-OP for partitions absent
    // from the written data, so a filter that matched zero rows would
    // leave the old partition fully intact while the oracle dropped rows
    // — a red gate with a misleading cause. Top-k is non-empty whenever
    // the partition exists at all, closing that edge at every SF.
    GQuery(
      "q137_dynamic_overwrite",
      (s, d) => {
        val tmp = Graft.scratch("dpo")
        val docs = Tables.documents(s, d)
        docs.write.mode("overwrite").partitionBy("source").parquet(tmp)
        val wCap = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        docs.filter(col("source") === "src3")
          .withColumn("rn", row_number().over(wCap)).filter(col("rn") <= 20).drop("rn")
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("source").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("source").asc)
      },
      Some("""WITH kept AS (
             |  SELECT doc_id, source, n_chars FROM documents WHERE source <> 'src3'
             |  UNION ALL
             |  SELECT doc_id, source, n_chars FROM (
             |    SELECT doc_id, source, n_chars,
             |           row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
             |    FROM documents WHERE source = 'src3') WHERE rn <= 20)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM kept GROUP BY source ORDER BY source ASC""".stripMargin),
      "dynamic partition overwrite: rewrite one partition in place, others intact"),
  )
}
