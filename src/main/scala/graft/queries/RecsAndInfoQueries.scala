package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, Graft}
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** Round-4 (post-closing): item-based collaborative filtering (q170) and
  * cross-corpus KL divergence (q171).
  */
object RecsAndInfoQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q170: co-purchase recommendations — item-based CF (Sarwar WWW'01,
    // the Amazon item-item shape). The item-item graph is the
    // Apriori-bounded co-occurrence pair set (q157's candidate
    // discipline: per-basket expansion only, support ≥ 2 floor), NOT a
    // user-user similarity — at 100 TB the item graph is
    // vocabulary-sized and reusable while user-pair similarity is
    // quadratic in users. Scoring = one equi join of the target users'
    // owned items against the graph + a groupBy, already-owned items
    // removed by an anti join, per-user top-5 via a row_number window
    // partitioned BY USER (WindowGroupLimit pushes the rank bound into
    // the sort — never a global window). Every number is an exact count.
    GQuery(
      "q170_copurchase_recs",
      (s, d) => {
        // r10 rework (guide §2.3/§3 — the r9-verdict q170 item): scoring,
        // ownership, and the already-owned anti join only ever observe the
        // FIVE target users, so the corpus-wide purch relation (lineitem ⋈
        // orders, corpus-distinct, three consumers) is replaced by a
        // filter-first chain: topCust (one orders aggregate) → their orders
        // (broadcast semi of 5 keys) → their distinct items (broadcast join
        // against lineitem — the corpus side is never shuffled). Restricting
        // purch to c ∈ topCust is exact: both its join and the anti join
        // condition on scored.c ∈ topCust. The one remaining corpus-scale
        // job is the shared co-purchase pair core.
        val topCust = Tables.orders(s, d)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
          .orderBy(col("n_orders").desc, col("o_custkey").asc)
          .limit(5)
          .select(col("o_custkey").as("tc"))
        val topOrders = Tables.orders(s, d)
          .join(broadcast(topCust), col("o_custkey") === col("tc"))
          .select(col("o_orderkey").as("tok"), col("o_custkey").as("c"))
        val owned = Tables.spread(Tables.lineitem(s, d), col("l_orderkey"))
          .join(broadcast(topOrders), col("l_orderkey") === col("tok"))
          .select(col("c"), col("l_partkey").as("p"))
          .distinct()
        // the shared candidate core (q157/q162 — one implementation)
        val tri = MiningQueries.copurchasePairs(s, d, minSupport = 2)
          .select(col("p1").as("pa"), col("p2").as("pb"), col("support").as("w"))
        val graph = tri.select(col("pa"), col("pb"), col("w"))
          .unionByName(tri.select(col("pb").as("pa"), col("pa").as("pb"), col("w")))
        val scored = graph.join(broadcast(owned), col("p") === col("pa"))
          .groupBy(col("c"), col("pb"))
          .agg(sum(col("w")).as("score"))
        val fresh = scored.join(broadcast(owned.select(col("c").as("oc"), col("p").as("op"))),
            scored("c") === col("oc") && scored("pb") === col("op"), "left_anti")
        val rn = row_number().over(
          Window.partitionBy(col("c")).orderBy(col("score").desc, col("pb").asc))
        fresh.withColumn("rn", rn)
          .filter(col("rn") <= 5)
          .select(col("c").as("custkey"), col("pb").as("part"), col("score"),
            col("rn").cast("int").as("rn"))
          .orderBy(col("custkey").asc, col("rn").asc)
      },
      Some(s"""WITH purch AS (
             |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
             |${MiningQueries.pairCtes(2)},
             |tri AS (SELECT p1 AS pa, p2 AS pb, support AS w FROM pairs),
             |graph AS (
             |  SELECT pa, pb, w FROM tri
             |  UNION ALL
             |  SELECT pb AS pa, pa AS pb, w FROM tri),
             |topcust AS (
             |  SELECT o_custkey AS tc FROM orders
             |  GROUP BY o_custkey
             |  ORDER BY COUNT(*) DESC, o_custkey ASC LIMIT 5),
             |scored AS (
             |  SELECT pu.c, g.pb, SUM(g.w) AS score
             |  FROM purch pu JOIN topcust t ON pu.c = t.tc
             |  JOIN graph g ON pu.p = g.pa
             |  GROUP BY pu.c, g.pb),
             |fresh AS (
             |  SELECT s.c, s.pb, s.score
             |  FROM scored s
             |  WHERE NOT EXISTS (SELECT 1 FROM purch pu
             |                    WHERE pu.c = s.c AND pu.p = s.pb)),
             |ranked AS (
             |  SELECT c, pb, score,
             |         ROW_NUMBER() OVER (PARTITION BY c
             |           ORDER BY score DESC, pb ASC) AS rn
             |  FROM fresh)
             |SELECT c AS custkey, pb AS part, CAST(score AS BIGINT) AS score,
             |       CAST(rn AS INTEGER) AS rn
             |FROM ranked WHERE rn <= 5
             |ORDER BY custkey ASC, rn ASC""".stripMargin),
      doc = "item-based collaborative filtering over the Apriori-bounded co-purchase graph"),

    // ------------------------------------------------------------------
    // q171: KL divergence D(P‖Q) between the English and non-English
    // token distributions (the corpus-drift / domain-shift statistic;
    // Kullback & Leibler 1951) with add-1 smoothing on Q over the union
    // vocabulary. 100 TB shape: two token-count aggregates + one
    // full-outer merge on token — vocabulary-sized state, corpus-sized
    // scans, no broadcast of anything data-sized (the three scalars ride
    // a 1-row broadcast). Determinism: every ratio is a quotient of
    // exact BIGINTs, the per-token term is ONE identically-parenthesized
    // double chain floor-quantized to 1e9 (q148/q154 discipline —
    // RecsAndInfoSpec asserts the boundary margin), and the top-20 order
    // key is the quantized integer.
    GQuery(
      "q171_kl_divergence",
      (s, d) => {
        val toks = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
        val cp = toks.filter(col("lang") === "en")
          .groupBy(col("tok")).agg(count(lit(1)).as("cp"))
        val cq = toks.filter(col("lang") =!= "en")
          .groupBy(col("tok")).agg(count(lit(1)).as("cq"))
        val merged = cp.join(cq, Seq("tok"), "full_outer")
          .select(col("tok"),
            coalesce(col("cp"), lit(0L)).as("cp"),
            coalesce(col("cq"), lit(0L)).as("cq"))
          .transform(Graft.checkpoint(eager = false)) // consumed by the scalar aggregates AND scoring
        val scalars = merged.agg(
            sum(col("cp")).as("np"),
            sum(col("cq")).as("nq"),
            count(lit(1)).as("v"))
        merged.filter(col("cp") > 0)
          .crossJoin(broadcast(scalars)) // 1-row side
          .withColumn("term_fp",
            floor(
              (col("cp").cast("double") / col("np").cast("double")) *
                log2((col("cp") * (col("nq") + col("v"))).cast("double") /
                  ((col("cq") + 1) * col("np")).cast("double")) * lit(1e9))
              .cast("long"))
          .select(col("tok"), col("cp"), col("cq"), col("term_fp"))
          .orderBy(col("term_fp").desc, col("tok").asc)
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
             |cp AS (SELECT tok, COUNT(*) AS cp FROM toks WHERE lang = 'en' GROUP BY tok),
             |cq AS (SELECT tok, COUNT(*) AS cq FROM toks WHERE lang <> 'en' GROUP BY tok),
             |merged AS (
             |  SELECT COALESCE(cp.tok, cq.tok) AS tok,
             |         COALESCE(cp.cp, 0) AS cp, COALESCE(cq.cq, 0) AS cq
             |  FROM cp FULL OUTER JOIN cq ON cp.tok = cq.tok),
             |scalars AS (
             |  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq,
             |         CAST(COUNT(*) AS BIGINT) AS v
             |  FROM merged)
             |SELECT m.tok, CAST(m.cp AS BIGINT) AS cp, CAST(m.cq AS BIGINT) AS cq,
             |       CAST(floor(
             |         (CAST(m.cp AS DOUBLE) / CAST(s.np AS DOUBLE)) *
             |         log2(CAST(m.cp * (s.nq + s.v) AS DOUBLE) /
             |              CAST((m.cq + 1) * s.np AS DOUBLE)) * 1000000000.0)
             |         AS BIGINT) AS term_fp
             |FROM merged m CROSS JOIN scalars s
             |WHERE m.cp > 0
             |ORDER BY term_fp DESC, tok ASC
             |LIMIT 20""".stripMargin),
      doc = "cross-corpus KL divergence with add-1 smoothing, fixed-point quantized terms")
  )
}
