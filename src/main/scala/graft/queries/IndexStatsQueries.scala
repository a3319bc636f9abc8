package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.sources.Tables
import graft.functions.{Packing, TextFunctions => TF}

/** Round-4 index/statistics operators: Johnson-Lindenstrauss random
  * projection (q151), exact equi-depth histogram without a global window
  * (q152), bitmap-index predicate intersection (q153), and token-entropy
  * quality scoring (q154).
  *
  * Determinism notes shared by the family: double SUMS are never shipped
  * across an aggregate (order-dependent); instead either the fold order is
  * pinned row-locally (q151: one expression tree, left-associated the same
  * way in both engines) or per-item terms are floor-quantized to integers
  * BEFORE the sum (q154, the q148 discipline).
  */
object IndexStatsQueries {

  /** Deterministic ±1 sign for JL projection cell (i, j), derived from md5
    * so it is reproducible from the spec alone (no engine RNG anywhere).
    * Baked into BOTH the Spark plan and the generated oracle text as
    * literals — the two engines never compute the hash at runtime.
    */
  private[graft] def jlSign(i: Int, j: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl#$i#$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    if ((java.lang.Long.parseLong(hex, 16) % 2) == 0) 1 else -1
  }

  private val dIn = 64
  private val dOut = 16

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q151: Johnson-Lindenstrauss random projection (Achlioptas, JCSS
    // 2003: ±1 signs suffice) — 64-dim float embeddings down to 16 dims
    // for cheap pre-filtering in front of the exact rerank (q39's
    // two-level top-k). Entirely row-local map work: the sign matrix is
    // 64×16 literals compiled into ONE codegen'd expression per output
    // dim, so the projection runs inside WholeStageCodegen with zero
    // shuffle at any corpus size. Exactness: float→double is exact, ±1
    // multiplies are exact, the 64-term sum is left-associated
    // IDENTICALLY in both engines (one fixed expression tree — never a
    // distributed double sum), and the 1/√16 = 0.25 scale is a power of
    // two; outputs match bit-for-bit.
    GQuery(
      "q151_jl_projection",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val ys = (0 until dOut).map { j =>
          (0 until dIn).map { i =>
            element_at(col("embedding"), i + 1).cast("double") *
              lit(jlSign(i, j).toDouble)
          }.reduce(_ + _).*(lit(0.25)).as(f"y$j%02d")
        }
        e.select(col("vec_id") +: ys: _*).orderBy(col("vec_id").asc)
      },
      Some {
        val cols = (0 until dOut).map { j =>
          val terms = (0 until dIn).map { i =>
            s"CAST(embedding[${i + 1}] AS DOUBLE)*(${jlSign(i, j)}.0)"
          }.mkString(" + ")
          f"($terms) * 0.25 AS y$j%02d"
        }.mkString(",\n       ")
        s"""SELECT vec_id,
           |       $cols
           |FROM embeddings ORDER BY vec_id ASC""".stripMargin
      },
      "JL ±1 random projection 64→16, bit-exact row-local codegen"),

    // ------------------------------------------------------------------
    // q152: exact equi-depth histogram (B=16) over order totals — the
    // complement of q90's equi-WIDTH bins and q69's APPROX quantiles.
    // The naive spelling is ntile(16) over a global ORDER BY: a
    // one-partition window, the #1 scale killer. Here the global rank
    // comes from Packing.prefixSum (two-level distributed prefix sum,
    // q86/q120's proven machinery) over a composite orderable key
    // cents·2³⁰+orderkey (unique, monotone in (price, key)), so the
    // corpus-sized pass stays fully partitioned; bucket = (rank−1)·16
    // div n. The oracle IS the naive global window — equality proves the
    // distributed rank exact.
    GQuery(
      "q152_equidepth_histogram",
      (s, d) => {
        // composite key: the 2^30 multiplier dominates o_orderkey up to
        // ~1e9 keys (sf100-scale fixtures), so okey is unique AND strictly
        // monotone in (cents, key) — a multiplier below max(o_orderkey)
        // would rank rows out of price order and overlap bucket ranges.
        // cents_max·2^30 ≈ 5.4e16 stays far under Long.MaxValue.
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("okey",
            col("cents") * lit(1073741824L) + col("o_orderkey"))
          .withColumn("one", lit(1L))
        // n is invariant under ranking — count the INPUT, never a second
        // evaluation of the prefix-sum pass
        val n = o.agg(count(lit(1)).as("n"))
        // bucketWidth 2^43: okey spans cents·2^30 ≈ 5.4e16 → ~6e3 level-2
        // offset rows (metadata-sized) independent of SF
        val ranked = Packing.prefixSum(o, "okey", "one", 1L << 43, out = "rank")
        ranked.crossJoin(broadcast(n)) // 1-row side
          .withColumn("bucket", expr("CAST(((rank - 1) * 16) div n AS BIGINT)"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("lo_cents"),
            max(col("cents")).as("hi_cents"))
          .orderBy(col("bucket").asc)
      },
      Some("""WITH ranked AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |         row_number() OVER (
             |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) * 1073741824
             |                    + o_orderkey ASC) AS rank
             |  FROM orders),
             |n AS (SELECT COUNT(*) AS n FROM ranked)
             |SELECT ((rank - 1) * 16) // n.n AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       MIN(cents) AS lo_cents,
             |       MAX(cents) AS hi_cents
             |FROM ranked CROSS JOIN n
             |GROUP BY 1 ORDER BY bucket ASC""".stripMargin),
      "equi-depth 16-bucket histogram via distributed prefix-sum rank"),

    // ------------------------------------------------------------------
    // q153: bitmap index + bitwise predicate intersection — the
    // set-representation dual of the Bloom filter (q146): one bitmap per
    // predicate over the key domain (word w = keys [32w, 32w+32)), built
    // as groupBy-bit_or exactly like a roaring/bitmap index's container
    // level; a conjunctive COUNT is then popcount(AND) over the word
    // join — bounded work per word, no row-level re-scan, and the
    // bitmaps are mergeable artifacts (partition bitmaps OR together at
    // 100 TB). The gate cross-checks popcount(AND) against the direct
    // row-level count — representation and scan must agree exactly —
    // and compares every word of both bitmaps.
    GQuery(
      "q153_bitmap_index",
      (s, d) => {
        val o = Tables.orders(s, d)
        def bitmap(pred: Column, name: String): DataFrame =
          o.filter(pred)
            .select((col("o_orderkey") / 32).cast("long").as("word_id"),
              expr("shiftleft(1L, CAST(o_orderkey % 32 AS INT))").as("contrib"))
            .groupBy(col("word_id"))
            .agg(expr("bit_or(contrib)").as(name))
        val b1 = bitmap(col("o_orderstatus") === "F", "w_status")
        val b2 = bitmap(col("o_orderpriority") === "1-URGENT", "w_prio")
        val words = b1.join(b2, Seq("word_id"), "full")
          .select(col("word_id"),
            coalesce(col("w_status"), lit(0L)).as("w_status"),
            coalesce(col("w_prio"), lit(0L)).as("w_prio"))
          .withColumn("and_pop",
            expr("CAST(bit_count(w_status & w_prio) AS BIGINT)"))
        val popTotal = words.agg(sum(col("and_pop")).as("bitmap_count"))
        val direct = o.filter(col("o_orderstatus") === "F" &&
          col("o_orderpriority") === "1-URGENT")
          .agg(count(lit(1)).as("direct_count"))
        words
          .crossJoin(broadcast(popTotal)) // 1-row side
          .crossJoin(broadcast(direct)) // 1-row side
          .orderBy(col("word_id").asc)
      },
      Some("""WITH b1 AS (
             |  SELECT o_orderkey // 32 AS word_id,
             |         bit_or(1::BIGINT << CAST(o_orderkey % 32 AS INTEGER)) AS w_status
             |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
             |b2 AS (
             |  SELECT o_orderkey // 32 AS word_id,
             |         bit_or(1::BIGINT << CAST(o_orderkey % 32 AS INTEGER)) AS w_prio
             |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
             |words AS (
             |  SELECT COALESCE(b1.word_id, b2.word_id) AS word_id,
             |         COALESCE(w_status, 0) AS w_status,
             |         COALESCE(w_prio, 0) AS w_prio,
             |         CAST(bit_count(COALESCE(w_status, 0) & COALESCE(w_prio, 0))
             |              AS BIGINT) AS and_pop
             |  FROM b1 FULL JOIN b2 USING (word_id))
             |SELECT word_id, w_status, w_prio, and_pop,
             |       CAST((SELECT SUM(and_pop) FROM words) AS BIGINT) AS bitmap_count,
             |       (SELECT COUNT(*) FROM orders
             |        WHERE o_orderstatus = 'F'
             |          AND o_orderpriority = '1-URGENT') AS direct_count
             |FROM words ORDER BY word_id ASC""".stripMargin),
      "bitmap index: per-predicate bit words, popcount(AND) == direct count"),

    // ------------------------------------------------------------------
    // q154: token-entropy quality scoring — Shannon entropy of each
    // document's token distribution, the information-theoretic quality
    // filter next to the repetition ratio (q91) and feature block (q43):
    // low entropy = repetitive/boilerplate, high = diverse. One
    // tokenize+groupBy pass (doc_id,tok), then H = Σ p·log2(1/p) with
    // each term floor-quantized to 1e-9 BEFORE the per-doc sum (q148's
    // discipline: the distributed agg adds integers, order-free; raw
    // double sums are order-dependent and would flap run to run).
    // Filter: keep docs with H ≥ 4 bits (entropy_fp ≥ 4e9).
    GQuery(
      "q154_entropy_quality",
      (s, d) => {
        val toks = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        val counts = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val perDoc = counts.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
        val term = floor(lit(1000000000.0) *
          (col("c").cast("double") / col("n")) *
          log2(col("n").cast("double") / col("c"))).cast("long")
        counts.join(perDoc, Seq("doc_id"))
          .select(col("doc_id"), col("n"), col("n_distinct"), term.as("term_fp"))
          .groupBy(col("doc_id"), col("n"), col("n_distinct"))
          .agg(sum(col("term_fp")).as("entropy_fp"))
          .withColumn("kept", col("entropy_fp") >= 4000000000L)
          .select(col("doc_id"), col("n").as("n_tokens"),
            col("n_distinct"), col("entropy_fp"), col("kept"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH counts AS (
             |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |        FROM documents)
             |  GROUP BY doc_id, tok),
             |per_doc AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             |         CAST(COUNT(*) AS BIGINT) AS n_distinct
             |  FROM counts GROUP BY doc_id)
             |SELECT c.doc_id, p.n AS n_tokens, p.n_distinct,
             |       CAST(SUM(CAST(floor(1000000000.0 *
             |         (CAST(c.c AS DOUBLE) / p.n) *
             |         log2(CAST(p.n AS DOUBLE) / c.c)) AS BIGINT)) AS BIGINT)
             |         AS entropy_fp,
             |       CAST(SUM(CAST(floor(1000000000.0 *
             |         (CAST(c.c AS DOUBLE) / p.n) *
             |         log2(CAST(p.n AS DOUBLE) / c.c)) AS BIGINT)) AS BIGINT)
             |         >= 4000000000 AS kept
             |FROM counts c JOIN per_doc p ON p.doc_id = c.doc_id
             |GROUP BY c.doc_id, p.n, p.n_distinct
             |ORDER BY c.doc_id ASC""".stripMargin),
      "Shannon token entropy per doc, 1e-9 fixed-point, >=4-bit keep filter"),
  )
}
