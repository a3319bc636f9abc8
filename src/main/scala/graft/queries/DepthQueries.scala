package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{GQuery, Graft}
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** Engine-depth round-out gates: null-safe equality join, time-interval
  * trailing windows, bit-exact vector normalization, and deterministic
  * mixture sampling. Each fills a hole in the §2 surface that a user of a
  * full analytics engine would eventually hit.
  */
object DepthQueries {

  /** Shared fixed-point PageRank iteration (q115 uniform / q254
    * personalized — ONE authoritative copy of the loop shape): per
    * iteration one edges⋈ranks join (edges shuffle-partitioned by src,
    * ranks tiny and broadcast) + one groupBy(dst); lazy localCheckpoint
    * truncates the growing plan each step. `base` carries the per-node
    * teleport term (node, base_fp); `init` the starting ranks (node,
    * rank_fp). new_rank = base_fp + 85·Σ(in DIV degree) DIV 100, all
    * exact BIGINT micro-units (double PageRank is accumulation-order-
    * dependent and could never hash-match across engines).
    */
  private def pagerankIterate(
      edges: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame,
      init: org.apache.spark.sql.DataFrame,
      iters: Int): org.apache.spark.sql.DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .transform(Graft.checkpoint(eager = false))
    var ranks = init
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(broadcast(ranks), col("src") === col("node"))
        .join(broadcast(deg), Seq("src"))
        .select(col("dst"), expr("rank_fp div degree").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = base
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (col("base_fp") + expr("85 * coalesce(in_sum, 0L) div 100"))
            .as("rank_fp"))
        .transform(Graft.checkpoint(eager = false))
    }
    ranks
  }

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q109: null-safe equality join (<=> / IS NOT DISTINCT FROM) — the
    // join semantics where NULL matches NULL, needed when the join key is
    // legitimately absent on both sides (e.g. "same optional attribute").
    // Spark hashes NULL as an ordinary key value so the plan stays a hash
    // join (vs the null-aware machinery of NOT IN); the caveat at scale is
    // that every all-NULL row co-locates in one partition — if NULLs are a
    // large fraction, pre-split them (they all match each other anyway).
    // Keys are nullif-derived from the fixture so both sides really carry
    // NULLs.
    GQuery(
      "q109_nullsafe_join",
      (s, d) => {
        val n = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"),
            nullif(col("n_regionkey"), lit(2)).as("nk"))
        val r = Tables.region(s, d)
          .select(col("r_name"), nullif(col("r_regionkey"), lit(2)).as("rk"))
        n.join(r, col("nk") <=> col("rk"))
          .select(col("n_nationkey"), col("n_name"), col("nk"), col("r_name"))
          .orderBy(col("n_nationkey").asc, col("r_name").asc)
      },
      Some("""SELECT n_nationkey, n_name, nk, r_name
             |FROM (SELECT n_nationkey, n_name, nullif(n_regionkey, 2) AS nk FROM nation) n
             |JOIN (SELECT r_name, nullif(r_regionkey, 2) AS rk FROM region) r
             |  ON n.nk IS NOT DISTINCT FROM r.rk
             |ORDER BY n_nationkey ASC, r_name ASC""".stripMargin),
      "null-safe equality join: NULL keys match, plan stays a hash join"),

    // ------------------------------------------------------------------
    // q110: trailing time-interval window — each order's count and revenue
    // over ITS CUSTOMER's preceding 30 days (inclusive), the
    // "recent-activity feature" shape of feature engineering. RANGE frames
    // over epoch seconds; partitioned by customer, so the window
    // parallelizes per key — a single global time-ordered RANGE window
    // would serialize the corpus into one task, the classic scale trap.
    // Frame peers (same customer, same timestamp) are included either way,
    // so the result is order-independent and hash-exact.
    GQuery(
      "q110_trailing_window",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("ts"))
          .rangeBetween(-30L * 86400, 0)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            epochSec(col("o_orderdate")).as("ts"),
            col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
          .withColumn("n_trailing", count(lit(1)).over(w))
          // decimal window sum internally; DOUBLE at the output boundary
          // (OutputPolicy)
          .withColumn("rev_trailing", sum(col("price")).over(w).cast("double"))
          .drop("ts", "price")
          .orderBy(col("o_orderkey").asc)
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
             |       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_trailing
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey ASC""".stripMargin),
      "30-day trailing count/revenue per customer: partitioned RANGE window over epoch"),

    // ------------------------------------------------------------------
    // q111: L2 vector normalization — unit-norm embeddings via the array
    // higher-order functions (aggregate for Σx², transform for the
    // divide), all inside whole-stage codegen, no UDF. Bit-exact across
    // engines: float→double widening is exact, the fold is left-to-right
    // on both sides, and IEEE +,*,/ and sqrt are correctly rounded. Zero
    // vectors pass through unchanged (norm 0 would divide to NaN).
    //
    // The gate emits SCALAR proofs, not the vector (OutputPolicy: the
    // driver's comparator cannot sort an array column — r2 q111 ERR):
    // the norm, plus an md5 over the unit vector's components quantized
    // by floor(x·1e12 + 0.5) — one IEEE multiply + add + floor, so the
    // BIGINT digits (and hence the digest) are bit-identical on both
    // engines with no number-formatting semantics involved. The full
    // raw-vector equality stays asserted in DepthSpec.
    GQuery(
      "q111_l2_normalize",
      (s, d) => {
        val v = col("embedding").cast("array<double>")
        val norm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
        Tables.embeddings(s, d)
          .select(col("vec_id"), norm.as("norm"), v.as("v"))
          .select(col("vec_id"), col("norm"),
            when(col("norm") === 0.0, col("v"))
              .otherwise(transform(col("v"), x => x / col("norm"))).as("unit"))
          .select(col("vec_id"), col("norm"), size(col("unit")).as("dim"),
            md5(concat_ws(",",
              transform(col("unit"),
                x => floor(x * lit(1e12) + lit(0.5)).cast("long").cast("string")))
              .cast("binary")).as("unit_md5"))
          .orderBy(col("vec_id").asc)
      },
      Some("""WITH t AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |         sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x), 'sum')) AS norm
             |  FROM embeddings),
             |u AS (
             |  SELECT vec_id, norm,
             |         CASE WHEN norm = 0 THEN v
             |              ELSE list_transform(v, x -> x / norm) END AS unit
             |  FROM t)
             |SELECT vec_id, norm, CAST(len(unit) AS INT) AS dim,
             |       md5(array_to_string(list_transform(unit,
             |           x -> CAST(CAST(floor(x * 1e12 + 0.5) AS BIGINT) AS VARCHAR)), ',')) AS unit_md5
             |FROM u ORDER BY vec_id ASC""".stripMargin),
      "unit-norm embeddings via array HOFs; scalar digest proof at the gate"),

    // ------------------------------------------------------------------
    // q112: deterministic mixture sampling — per-source keep rates (the
    // LLM-training "data mixing" step: upweight rare/high-quality sources,
    // downsample the crawl). Membership is a pure row-local hash test
    // (keep iff h(doc) mod 1000 < rate·1000), so the sample is
    // reproducible, shuffle-free, and restart-safe at any scale — rand()
    // sampling is none of those. Rates derive from the source index
    // (src<i> → 20·(1+i mod 5)%), standing in for a real weight table.
    GQuery(
      "q112_mixture_sample",
      (s, d) => {
        val rate = (lit(1) + substring(col("source"), 4, 10).cast("int") % 5) * 200
        val h = pmod(TF.md5Hash60(concat(lit("mix:"), col("doc_id").cast("string"))),
          lit(1000L))
        Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            rate.as("rate_pm"), h.as("h"))
          .filter(col("h") < col("rate_pm"))
          .groupBy(col("source"), col("rate_pm"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("chars_kept"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("source").asc)
      },
      Some("""SELECT source, rate_pm, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
             |       MIN(doc_id) AS first_doc
             |FROM (
             |  SELECT doc_id, source, n_chars,
             |         (1 + CAST(substr(source, 4, 10) AS INT) % 5) * 200 AS rate_pm,
             |         CAST(('0x'||substr(md5('mix:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000 AS h
             |  FROM documents)
             |WHERE h < rate_pm
             |GROUP BY source, rate_pm
             |ORDER BY source ASC""".stripMargin),
      "mixture sampling: per-source hash-gated keep rates, reproducible, shuffle-free"),

    // ------------------------------------------------------------------
    // q113: custom DataSource V2 connector — the graft range source with
    // filter pushdown, column pruning, and partition skipping (see
    // GraftRangeSource). The id bounds are pushed into the connector and
    // narrow the generated range at plan time (30 of 32 slices are never
    // planned); the sq % 7 predicate is NOT pushable and stays a
    // Spark-side residual filter — exactly how a parquet scan splits
    // PushedFilters from post-scan filters. Oracle reproduces the
    // generator as DuckDB's range() table function.
    GQuery(
      "q113_custom_source",
      (s, d) => {
        s.read.format("graft.sources.GraftRangeSource")
          .option("start", 0).option("end", 200000).option("slices", 32)
          .load()
          .filter(col("id") >= 150000 && col("id") < 160000 && col("sq") % 7 === 0)
          .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
            sum(col("sq")).as("sum_sq"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(id) AS BIGINT) AS sum_id,
             |       CAST(SUM(id*id) AS BIGINT) AS sum_sq
             |FROM (SELECT range AS id FROM range(150000, 160000))
             |WHERE (id*id) % 7 = 0""".stripMargin),
      "custom DSv2 source: pushed id bounds skip 30/32 partitions, residual sq filter"),

    // ------------------------------------------------------------------
    // q258 (r8c): DSv2 AGGREGATE pushdown — the connector completes the
    // V2 pushdown triad (filters, columns, aggregates): COUNT(*)/MIN/
    // MAX/SUM(id) with no GROUP BY are answered by the source in CLOSED
    // FORM from the (already filter-narrowed) range bounds — the scan
    // emits ONE row and zero per-row work happens anywhere, the moral
    // equivalent of answering COUNT(*) from parquet footer statistics.
    // SUM is pushed only when the closed form provably fits BIGINT;
    // refusal falls back to Spark-side aggregation (always safe). The
    // plan lock asserts the scan description advertises the complete
    // pushdown and no per-row generation survives.
    GQuery(
      "q258_agg_pushdown",
      (s, d) => {
        s.read.format("graft.sources.GraftRangeSource")
          .option("start", 0).option("end", 5000000).option("slices", 32)
          .load()
          .filter(col("id") >= 1234567 && col("id") < 4000000)
          .agg(expr("count(*)").as("n"), min(col("id")).as("mn"),
            max(col("id")).as("mx"), sum(col("id")).as("sm"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |       MIN(id) AS mn, MAX(id) AS mx,
             |       CAST(SUM(id) AS BIGINT) AS sm
             |FROM (SELECT range AS id FROM range(1234567, 4000000))""".stripMargin),
      "DSv2 complete aggregate pushdown: closed-form COUNT/MIN/MAX/SUM from the filter-narrowed range, one row from the scan"),

    // ------------------------------------------------------------------
    // q114: Z-order clustering value — the Morton interleave of two
    // clustering keys, the layout primitive behind multi-dimensional data
    // skipping (sort/range-partition by zval at write time → every file
    // gets tight min/max on BOTH dimensions, so scans filtered on EITHER
    // key skip files; a single-key sort leaves the other dimension
    // spanning the full domain in every file — DepthSpec measures exactly
    // that difference). The load-bearing detail: each dimension must be
    // quantized to the SAME bit width before interleaving — measured here,
    // raw 6-bit p_size against 16-bit partkey left the wide dimension
    // dominating the sort and the size spans barely improved; stretched to
    // 16 bits ((p_size−1)·1337 < 2¹⁶) the interleave balances. Pure
    // integer shift/mask arithmetic, bit-identical in any engine.
    GQuery(
      "q114_zorder",
      (s, d) => {
        import graft.functions.ZOrder
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_size"),
            ZOrder.interleave16(
              (col("p_size").cast("long") - 1) * 1337,
              pmod(col("p_partkey"), lit(65536L))).as("zval"))
          .orderBy(col("p_partkey").asc)
      },
      Some(s"""SELECT p_partkey, p_size,
             |       ${graft.functions.ZOrder.interleave16Sql("zx", "zy")} AS zval
             |FROM (SELECT p_partkey, p_size,
             |             (CAST(p_size AS BIGINT) - 1) * 1337 AS zx,
             |             p_partkey % 65536 AS zy
             |      FROM part)
             |ORDER BY p_partkey ASC""".stripMargin),
      "Z-order (Morton) clustering value: equal-width quantize then bit-interleave"),

    // ------------------------------------------------------------------
    // q115: PageRank, fixed-point — 3 Jacobi iterations over a 100-node
    // multigraph derived from lineitem (part%100 → supp%100). All
    // arithmetic is integer micro-units (rank DIV degree per edge, exact
    // BIGINT sums, new = 150000 + 85·sum DIV 100): double PageRank is
    // accumulation-order-dependent and can never hash-match across
    // engines; fixed-point is bit-exact and the oracle unrolls the same
    // three iterations as CTEs. Per iteration: one edges⋈ranks join (the
    // scale shape: edges shuffle-partitioned by src, ranks tiny and
    // broadcast) + one groupBy(dst) — cost independent of iteration
    // count; lazy localCheckpoint truncates the growing plan.
    GQuery(
      "q115_pagerank",
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(pmod(col("l_partkey"), lit(100L)).as("src"),
            pmod(col("l_suppkey"), lit(100L)).as("dst"))
          .transform(Graft.checkpoint(eager = false))
        // tiny (≤100-row) results consumed every iteration — checkpoint
        // them or each ranks materialization re-scans the full edge set
        // to re-derive them (the NOTES "tiny results → localCheckpoint"
        // pattern)
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
          .transform(Graft.checkpoint(eager = false))
        pagerankIterate(edges,
          base = nodes.withColumn("base_fp", lit(150000L)),
          init = nodes.withColumn("rank_fp", lit(1000000L)),
          iters = 3)
          .orderBy(col("node").asc)
      },
      Some("""WITH edges AS (
             |  SELECT l_partkey % 100 AS src, l_suppkey % 100 AS dst FROM lineitem),
             |nodes AS (
             |  SELECT DISTINCT node FROM (
             |    SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
             |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src),
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM nodes),
             |s1 AS (SELECT e.dst, CAST(SUM(r.rank_fp // d.degree) AS BIGINT) AS in_sum
             |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY e.dst),
             |r1 AS (SELECT n.node, CAST(150000 + 85 * COALESCE(s.in_sum, 0) // 100 AS BIGINT) AS rank_fp
             |       FROM nodes n LEFT JOIN s1 s ON n.node = s.dst),
             |s2 AS (SELECT e.dst, CAST(SUM(r.rank_fp // d.degree) AS BIGINT) AS in_sum
             |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY e.dst),
             |r2 AS (SELECT n.node, CAST(150000 + 85 * COALESCE(s.in_sum, 0) // 100 AS BIGINT) AS rank_fp
             |       FROM nodes n LEFT JOIN s2 s ON n.node = s.dst),
             |s3 AS (SELECT e.dst, CAST(SUM(r.rank_fp // d.degree) AS BIGINT) AS in_sum
             |       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY e.dst),
             |r3 AS (SELECT n.node, CAST(150000 + 85 * COALESCE(s.in_sum, 0) // 100 AS BIGINT) AS rank_fp
             |       FROM nodes n LEFT JOIN s3 s ON n.node = s.dst)
             |SELECT node, rank_fp FROM r3 ORDER BY node ASC""".stripMargin),
      "fixed-point PageRank: 3 exact integer iterations, join+agg per step"),

    // ------------------------------------------------------------------
    // q254 (r8c): PERSONALIZED PageRank — q115's fixed-point machinery
    // with the teleport mass concentrated on a trusted SEED set (nodes
    // ≡ 0 mod 10) instead of spread uniformly: the seed-expansion
    // operator web-curation pipelines use to score pages by proximity
    // to a vetted whitelist (the TrustRank construction, Gyöngyi et al.
    // 2004). Teleport base per seed = (150000 · N) DIV |S| micro-units
    // (total teleport mass preserved), non-seeds get 0 — so rank mass
    // flows outward from seeds through real edges only. Same exact
    // integer arithmetic (double PPR would be accumulation-order-
    // dependent), same per-iteration cost shape: edges shuffled by src
    // once, ranks broadcast, one groupBy(dst).
    GQuery(
      "q254_personalized_pagerank",
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(pmod(col("l_partkey"), lit(100L)).as("src"),
            pmod(col("l_suppkey"), lit(100L)).as("dst"))
          .transform(Graft.checkpoint(eager = false))
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
          .transform(Graft.checkpoint(eager = false))
        val counts = nodes.agg(count(lit(1)).as("n_nodes"),
          sum(when(col("node") % 10 === 0, 1L).otherwise(0L)).as("n_seeds"))
        val base = nodes.crossJoin(broadcast(counts))
          .select(col("node"),
            when(col("node") % 10 === 0,
              expr("(150000 * n_nodes) DIV n_seeds")).otherwise(lit(0L)).as("base_fp"))
          .transform(Graft.checkpoint(eager = false))
        pagerankIterate(edges, base,
          init = base.select(col("node"), col("base_fp").as("rank_fp")),
          iters = 3)
          .withColumn("is_seed", col("node") % 10 === 0)
          .orderBy(col("node").asc)
      },
      Some("""WITH edges AS (
             |  SELECT l_partkey % 100 AS src, l_suppkey % 100 AS dst FROM lineitem),
             |nodes AS (
             |  SELECT DISTINCT node FROM (
             |    SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
             |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src),
             |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             |               CAST(SUM(CASE WHEN node % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
             |        FROM nodes),
             |base AS (
             |  SELECT n.node,
             |         CAST(CASE WHEN n.node % 10 = 0
             |              THEN (150000 * c.n_nodes) // c.n_seeds ELSE 0 END AS BIGINT) AS base_fp
             |  FROM nodes n CROSS JOIN cnt c),
             |r0 AS (SELECT node, base_fp AS rank_fp FROM base),
             |s1 AS (SELECT e.dst, CAST(SUM(r.rank_fp // d.degree) AS BIGINT) AS in_sum
             |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY e.dst),
             |r1 AS (SELECT b.node, CAST(b.base_fp + 85 * COALESCE(s.in_sum, 0) // 100 AS BIGINT) AS rank_fp
             |       FROM base b LEFT JOIN s1 s ON b.node = s.dst),
             |s2 AS (SELECT e.dst, CAST(SUM(r.rank_fp // d.degree) AS BIGINT) AS in_sum
             |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY e.dst),
             |r2 AS (SELECT b.node, CAST(b.base_fp + 85 * COALESCE(s.in_sum, 0) // 100 AS BIGINT) AS rank_fp
             |       FROM base b LEFT JOIN s2 s ON b.node = s.dst),
             |s3 AS (SELECT e.dst, CAST(SUM(r.rank_fp // d.degree) AS BIGINT) AS in_sum
             |       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
             |       GROUP BY e.dst),
             |r3 AS (SELECT b.node, CAST(b.base_fp + 85 * COALESCE(s.in_sum, 0) // 100 AS BIGINT) AS rank_fp
             |       FROM base b LEFT JOIN s3 s ON b.node = s.dst)
             |SELECT node, rank_fp, node % 10 = 0 AS is_seed
             |FROM r3 ORDER BY node ASC""".stripMargin),
      "personalized PageRank (TrustRank shape): teleport mass on a seed set, 3 exact integer iterations"),

    // ------------------------------------------------------------------
    // q116: feature hashing (the "hashing trick", HashingTF's shape) —
    // token counts bucketed by hash into a fixed 64-dim feature space, no
    // vocabulary to build or broadcast (THE property that matters at
    // 100 TB: a dictionary-based vectorizer needs a corpus-wide vocab
    // pass + a giant broadcast; the hash needs neither). Emitted as
    // (doc_id, bucket, cnt) sparse triples — the layout downstream
    // aggregations join on — one explode + one groupBy shuffle.
    GQuery(
      "q116_feature_hashing",
      (s, d) => {
        Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
          .select(col("doc_id"), pmod(TF.md5Hash60(col("tok")), lit(64L)).as("bucket"))
          .groupBy(col("doc_id"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("doc_id").asc, col("bucket").asc)
      },
      Some("""SELECT doc_id,
             |       CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 64 AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |GROUP BY 1, 2
             |ORDER BY doc_id ASC, bucket ASC""".stripMargin),
      "feature hashing: fixed-dim sparse vectors with no vocabulary pass"),

    // ------------------------------------------------------------------
    // q117: connected components on a LONG-CHAIN graph via
    // large-star/small-star (Components.connectedComponentsStar) — the
    // O(log² n)-round scale path that q81's min-label propagation
    // (O(diameter) rounds, fine for near-dup cliques) cannot walk: a
    // million-link reference chain is a million propagation rounds but
    // ~40 star rounds. The fixture graph is adversarially deep on
    // purpose: doc_id→doc_id+1 chains (broken every 50 ids) plus
    // doc_id→doc_id+7 shortcut cycles, so components are ~50-node paths
    // with cycles — propagation would need ~50 rounds here (spec-pinned),
    // the star alternation converges in ≤6. Oracle = recursive-CTE
    // reachability closure with min-label aggregation (exactly q81's
    // oracle pattern, on an explicit deep graph).
    GQuery(
      "q117_chain_components",
      (s, d) => {
        import graft.functions.Components
        val ids = Tables.documents(s, d).select(col("doc_id"))
        val e1 = ids.filter(pmod(col("doc_id"), lit(50L)) =!= 49)
          .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
        val e7 = ids.filter(pmod(col("doc_id"), lit(50L)) < 43)
          .select(col("doc_id").as("src"), (col("doc_id") + 7).as("dst"))
        // keep only edges whose endpoint exists (tolerates doc_id gaps)
        val edges = e1.union(e7)
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"))
        Components.connectedComponentsStar(edges, "src", "dst")
          .orderBy(col("id").asc)
      },
      Some("""WITH RECURSIVE
             |ids AS (SELECT doc_id FROM documents),
             |edges AS (
             |  SELECT src, dst FROM (
             |    SELECT doc_id AS src, doc_id + 1 AS dst FROM ids WHERE doc_id % 50 <> 49
             |    UNION ALL
             |    SELECT doc_id AS src, doc_id + 7 AS dst FROM ids WHERE doc_id % 50 < 43) e
             |  WHERE dst IN (SELECT doc_id FROM ids)),
             |bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
             |reach(id, comp) AS (
             |  SELECT src, src FROM bi
             |  UNION
             |  SELECT b.dst, r.comp FROM reach r JOIN bi b ON b.src = r.id)
             |SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
             |ORDER BY id ASC""".stripMargin),
      "large-star/small-star components on a deep chain graph (log² rounds)"),

    // ------------------------------------------------------------------
    // q145: leakage-free train/val/test split — THE splitting rule for
    // training corpora with near-duplicate structure: a plain doc-hash
    // split leaks (near-copies of a training doc land in eval), so the
    // split key must be the DEDUP CLUSTER, every member inheriting its
    // cluster's split. Composition: q117's chain components → split =
    // md5-hash(component) % 10 → join back to docs (shuffle on comp id —
    // cluster table is corpus-scale, never broadcast). Gate: per-split
    // doc/cluster counts PLUS the leakage invariant recomputed blind by
    // the oracle (its own recursive closure + the same md5 split): a
    // cluster appearing in two splits would change n_clusters vs the
    // oracle's count. Singleton docs (no edges) form their own clusters
    // via the id fallback — the full corpus is split, not just the
    // clustered part.
    GQuery(
      "q145_leakage_free_split",
      (s, d) => {
        import graft.functions.Components
        val ids = Tables.documents(s, d).select(col("doc_id"))
        val e1 = ids.filter(pmod(col("doc_id"), lit(50L)) =!= 49)
          .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
        val e7 = ids.filter(pmod(col("doc_id"), lit(50L)) < 43)
          .select(col("doc_id").as("src"), (col("doc_id") + 7).as("dst"))
        val edges = e1.union(e7)
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"))
        val comp = Components.connectedComponentsStar(edges, "src", "dst")
        // singletons (docs with no edge) are their own cluster
        val clustered = ids
          .join(comp, col("doc_id") === col("id"), "left")
          .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
        val split = clustered.withColumn("split",
          pmod(graft.functions.TextFunctions.md5Hash60(
            concat(lit("split#"), col("cluster").cast("string"))), lit(10L)))
        split.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster")).as("n_clusters"))
          .orderBy(col("split").asc)
      },
      Some("""WITH RECURSIVE
             |ids AS (SELECT doc_id FROM documents),
             |edges AS (
             |  SELECT src, dst FROM (
             |    SELECT doc_id AS src, doc_id + 1 AS dst FROM ids WHERE doc_id % 50 <> 49
             |    UNION ALL
             |    SELECT doc_id AS src, doc_id + 7 AS dst FROM ids WHERE doc_id % 50 < 43) e
             |  WHERE dst IN (SELECT doc_id FROM ids)),
             |bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
             |reach(id, comp) AS (
             |  SELECT src, src FROM bi
             |  UNION
             |  SELECT b.dst, r.comp FROM reach r JOIN bi b ON b.src = r.id),
             |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
             |clustered AS (
             |  SELECT i.doc_id, COALESCE(c.comp, i.doc_id) AS cluster
             |  FROM ids i LEFT JOIN comp c ON c.id = i.doc_id),
             |sp AS (
             |  SELECT doc_id, cluster,
             |         CAST(('0x'||substr(md5('split#'||cluster),1,15)) AS BIGINT) % 10
             |           AS split
             |  FROM clustered)
             |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
             |FROM sp GROUP BY split ORDER BY split ASC""".stripMargin),
      "leakage-free split: dedup clusters inherit one split, never span two"),
  )
}
