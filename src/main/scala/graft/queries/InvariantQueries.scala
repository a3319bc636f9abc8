package graft.queries

import org.apache.spark.sql.functions._
import graft.GQuery
import graft.sources.Tables
import graft.functions.{KMeans, Similarity}

/** Driver-checkable invariant oracles for the estimator-specific gates
  * (VERDICT r1 item 6). The estimator queries themselves (q06, q40, q54,
  * q68, q69) stay rows-only — their outputs are sketch-dependent and no
  * ANSI SQL reproduces them. These companions make their CONTRACTS
  * hash-checkable instead: each emits (a) exact quantities the DuckDB
  * oracle recomputes independently (distinct counts, group sizes, corpus
  * cardinalities, query ids) and (b) invariant booleans computed in Spark
  * by comparing the estimator output against an exact recomputation
  * (error bounds, rank bounds, membership/recall, self-consistency). The
  * oracle pins the booleans to TRUE: if a sketch or ANN regression breaks
  * a bound, the hash goes red at the driver, not just in ScalaTest.
  * Thresholds are fixture-measured with margin; specs assert the tighter
  * bounds.
  */
object InvariantQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q70: HLL++ estimates stay within 3·rsd of exact distinct counts
    // (rsd=0.02 → ±6%); exact counts are independently SQL-verified.
    GQuery(
      "q70_hll_bounds",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val approx = li.groupBy(col("l_returnflag").as("flag"))
          .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("a_orders"),
            approx_count_distinct(col("l_partkey"), 0.02).as("a_parts"))
        val exact = li.groupBy(col("l_returnflag").as("flag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
            countDistinct(col("l_partkey")).as("exact_parts"))
        approx.join(exact, "flag")
          .select(col("flag"), col("exact_orders"), col("exact_parts"),
            (abs(col("a_orders") - col("exact_orders")) <= col("exact_orders") * 0.06)
              .as("orders_ok"),
            (abs(col("a_parts") - col("exact_parts")) <= col("exact_parts") * 0.06)
              .as("parts_ok"))
          .orderBy(col("flag").asc)
      },
      Some("""SELECT l_returnflag AS flag,
             |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             |       true AS orders_ok, true AS parts_ok
             |FROM lineitem GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      "HLL++ error bound vs SQL-exact distinct counts"),

    // ------------------------------------------------------------------
    // q71: GK-sketch quantiles respect the rank-error contract: with
    // accuracy=1000 the returned value's exact rank must lie within
    // (q ± 2/1000)·n (+1 for boundary ties); n is SQL-verified.
    GQuery(
      "q71_quantile_rank_bounds",
      (s, d) => {
        val eps = 2.0 / 1000
        val li = Tables.lineitem(s, d)
        val appr = li.groupBy(col("l_returnflag").as("flag"))
          .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50a"),
            percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("p95a"))
        li.select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
          .join(appr, "flag")
          .groupBy(col("flag"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("v") <= col("p50a"), 1L).otherwise(0L)).as("rank50"),
            sum(when(col("v") <= col("p95a"), 1L).otherwise(0L)).as("rank95"))
          .select(col("flag"), col("n"),
            (col("rank50") >= col("n") * (0.5 - eps) - 1 &&
              col("rank50") <= col("n") * (0.5 + eps) + 1).as("p50_ok"),
            (col("rank95") >= col("n") * (0.95 - eps) - 1 &&
              col("rank95") <= col("n") * (0.95 + eps) + 1).as("p95_ok"))
          .orderBy(col("flag").asc)
      },
      Some("""SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
             |       true AS p50_ok, true AS p95_ok
             |FROM lineitem GROUP BY 1 ORDER BY flag ASC""".stripMargin),
      "approx-quantile rank-error bound vs SQL-exact group sizes"),

    // ------------------------------------------------------------------
    // q72: LSH ANN output contract, per query: sims bit-equal to the exact
    // cosine recomputed from the raw vectors, ranks contiguous from 1 with
    // no self-matches, and ≥3/5 of the exact top-5 recovered (fixture
    // floor is higher; OpsSpec asserts aggregate recall ≥ 0.9). The oracle
    // independently pins WHICH query ids must appear — a query silently
    // dropping to zero candidates fails the row compare.
    GQuery(
      "q72_lsh_invariants",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        val lsh = Similarity.lshTopK(emb, queries, "vec_id",
          "embedding", dims = 64, k = 5, planes = 4, tables = 8, probeRadius = 1)
        val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        val vecs = emb.select(col("vec_id"), col("embedding"))
        val checked = lsh
          .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
          .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
          .withColumn("exact_sim", Similarity.cosine(col("qv"), col("nv")))
        val perQuery = checked.groupBy(col("query_id"))
          .agg(count(lit(1)).as("m"),
            max(abs(col("sim") - col("exact_sim"))).as("maxdiff"),
            min(col("rank")).as("rmin"), max(col("rank")).as("rmax"),
            sum(when(col("neighbor_id") === col("query_id"), 1L).otherwise(0L)).as("selfhits"))
        val hits = lsh.select(col("query_id"), col("neighbor_id"))
          .join(exact.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        perQuery.join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            (col("maxdiff") === 0.0).as("sims_exact"),
            (col("rmin") === 1 && col("rmax") === col("m") && col("m") <= 5).as("ranks_ok"),
            (col("selfhits") === 0).as("no_self"),
            (coalesce(col("hits"), lit(0L)) >= 3).as("recall_ok"))
          .orderBy(col("query_id").asc)
      },
      Some("""SELECT vec_id AS query_id, true AS sims_exact, true AS ranks_ok,
             |       true AS no_self, true AS recall_ok
             |FROM embeddings WHERE vec_id < 10 ORDER BY query_id ASC""".stripMargin),
      "LSH ANN: sim exactness, rank shape, membership, per-query recall floor"),

    // ------------------------------------------------------------------
    // q73: IVF ANN output contract (q54 configuration): sims bit-equal to
    // exact cosine, exactly k ranks 1..5 per query (the 3 probed cells
    // hold ≥ 5 vectors at every fixture SF), and no self-matches. Recall
    // floors for IVF are asserted in BuilderAndAggregatorSpec (nprobe=3 of
    // 10 random-label cells is deliberately partial).
    GQuery(
      "q73_ivf_invariants",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label",
          Similarity.cellCentroids(emb, "label", "embedding", dims = 64), k = 5, nprobe = 3)
        val vecs = emb.select(col("vec_id"), col("embedding"))
        ivf
          .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
          .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
          .withColumn("exact_sim", Similarity.cosine(col("qv"), col("nv")))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("m"),
            max(abs(col("sim") - col("exact_sim"))).as("maxdiff"),
            min(col("rank")).as("rmin"), max(col("rank")).as("rmax"),
            sum(when(col("neighbor_id") === col("query_id"), 1L).otherwise(0L)).as("selfhits"))
          .select(col("query_id"),
            (col("maxdiff") === 0.0).as("sims_exact"),
            (col("rmin") === 1 && col("rmax") === col("m") && col("m") === 5).as("ranks_ok"),
            (col("selfhits") === 0).as("no_self"))
          .orderBy(col("query_id").asc)
      },
      Some("""SELECT vec_id AS query_id, true AS sims_exact, true AS ranks_ok,
             |       true AS no_self
             |FROM embeddings WHERE vec_id < 10 ORDER BY query_id ASC""".stripMargin),
      "IVF ANN: sim exactness, exact-k rank shape, no self-matches"),

    // ------------------------------------------------------------------
    // q74: learned-quantizer (k-means) contract: every corpus vector is
    // assigned (count SQL-verified), the assignment is the argmax-cosine
    // of the FINAL centroids (fit returns only those, so both sides of
    // the self-consistency join assign against them), and all 8 clusters
    // are populated on the fixture.
    GQuery(
      "q74_kmeans_invariants",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = KMeans.fit(emb, "vec_id", "embedding", k = 8, dims = 64, iterations = 3)
        val assigned = KMeans.assign(emb, "vec_id", "embedding", centroids)
        val re = KMeans.assign(emb, "vec_id", "embedding", centroids)
          .withColumnRenamed("cluster", "re_cluster")
        assigned.join(re, "vec_id")
          .agg(count(lit(1)).as("n_assigned"),
            sum(when(col("cluster") === col("re_cluster"), 0L).otherwise(1L)).as("n_drift"),
            countDistinct(col("cluster")).as("n_clusters"))
          .select(col("n_assigned"),
            (col("n_drift") === 0).as("stable"),
            (col("n_clusters") === 8).as("k_full"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_assigned,
             |       true AS stable, true AS k_full
             |FROM embeddings""".stripMargin),
      "k-means: full assignment, argmax self-consistency, no empty clusters"),
  )
}
