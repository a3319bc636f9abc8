package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.expressions.GramAggregate
import graft.sources.Tables

/** Round-4 (post-closing) linear-algebra operators over the embedding
  * corpus: the exact quantized Gram matrix XᵀX as one mergeable aggregate
  * (q160) and PCA's dominant eigenvector by fixed-point power iteration on
  * that artifact (q161).
  *
  * Scale shapes: q160's shuffle carries one d(d+1)/2-long buffer per
  * partition regardless of N (TypedImperativeAggregate with map-side
  * combine — the naive spelling ships d²/2 × N exploded rows); q161 runs
  * entirely on the d×d ARTIFACT (dictionary-sized joins), so its cost is
  * independent of corpus size once the Gram pass is done.
  *
  * Determinism: embeddings are quantized to integers (⌊1000·v⌋) before any
  * arithmetic, so every sum/product is exact 64-bit integer math in both
  * engines; the power-iteration normalization divides with `div` / `//`,
  * which BOTH truncate toward zero on integer types (the ADVICE-r3 floor
  * divergence is specific to the double `/` + floor()/CAST path — integer
  * division is already cross-engine-exact).
  */
object MatrixQueries {

  private val D = 64
  private val Rounds = 6

  /** Quantized upper-triangular Gram cells (i, j, gram, n) via
    * [[GramAggregate]] + a broadcast (t → i, j) spine.
    */
  private def gramTri(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long")).as("qv"))
    val agg = q.agg(GramAggregate(col("qv"), D).as("g"), count(lit(1)).as("n"))
    val spine = s.range(D).select(col("id").cast("int").as("i"))
      .crossJoin(s.range(D).select(col("id").cast("int").as("j")))
      .filter(col("j") >= col("i"))
      // i(i−1) is always even, so the double division is exact
      .withColumn("t", expr(s"CAST(i * $D - CAST(i * (i - 1) / 2 AS INT) + (j - i) AS INT)"))
    agg.select(col("n"), posexplode(col("g")).as(Seq("t2", "gram")))
      .join(broadcast(spine), col("t2") === col("t"))
      .select(col("i"), col("j"), col("gram"), col("n"))
  }

  /** Shared oracle prefix: quantized Gram upper triangle as DuckDB CTEs
    * (`q`, `idx`, `tri`). Same math as [[gramTri]], recomputed blind.
    */
  private val gramCtes: String =
    s"""q AS (
       |  SELECT list_transform(embedding,
       |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |idx AS (
       |  SELECT i.i, j.j
       |  FROM (SELECT unnest(range($D)) AS i) i,
       |       (SELECT unnest(range($D)) AS j) j
       |  WHERE j.j >= i.i),
       |tri AS (
       |  SELECT idx.i, idx.j, CAST(SUM(q.qv[idx.i + 1] * q.qv[idx.j + 1]) AS BIGINT) AS gram
       |  FROM q CROSS JOIN idx GROUP BY idx.i, idx.j)""".stripMargin

  /** q161 oracle: replay the identical fixed-point rounds as stacked CTEs
    * (the q150 BPE discipline — the trace, not just the endpoint, is the
    * contract). Integer `//` (DuckDB) and `div` (Spark) both truncate
    * toward zero, so the rounds normalize identically.
    */
  private def powerOracle: String = {
    val rounds = (1 to Rounds).map { r =>
      s"""w$r AS (
         |  SELECT g.gi AS dim, CAST(SUM(g.gram * v.v) AS BIGINT) AS w
         |  FROM sym g JOIN v${r - 1} v ON g.gj = v.dim GROUP BY g.gi),
         |v$r AS (
         |  SELECT dim,
         |         CAST(CAST(w AS HUGEINT) * 1000 // (SELECT MAX(ABS(w)) FROM w$r)
         |           AS BIGINT) AS v
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gramCtes,
       |sym AS (
       |  SELECT i AS gi, j AS gj, gram FROM tri
       |  UNION ALL
       |  SELECT j AS gi, i AS gj, gram FROM tri WHERE i <> j),
       |v0 AS (
       |  SELECT CAST(unnest(range($D)) AS INTEGER) AS dim, CAST(1000 AS BIGINT) AS v),
       |$rounds
       |SELECT CAST(dim AS INTEGER) AS dim, v FROM v$Rounds ORDER BY dim ASC""".stripMargin
  }

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q160: exact Gram matrix XᵀX over ⌊1000·v⌋-quantized embeddings —
    // the one-pass statistic under covariance, correlation, linear
    // probes, and PCA. The whole matrix is ONE TypedImperativeAggregate
    // (buffer = 2080 longs, map-side combine): shuffle volume is a
    // buffer per partition at any corpus size, where the relational
    // spelling (explode i × explode j) ships d²/2 rows per INPUT row.
    // The oracle computes the same cells blind from unnest+SUM.
    GQuery(
      "q160_gram_matrix",
      (s, d) => gramTri(s, d).orderBy(col("i").asc, col("j").asc),
      Some(s"""WITH $gramCtes
             |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, gram,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n
             |FROM tri ORDER BY i ASC, j ASC""".stripMargin),
      doc = "exact quantized Gram matrix as one mergeable TypedImperativeAggregate"),

    // ------------------------------------------------------------------
    // q161: dominant eigenvector by power iteration (Mises & Geiringer
    // 1929; the PCA/PageRank workhorse) in exact fixed point. After the
    // q160 Gram pass, every round is a d²-row join + d-row aggregate —
    // ARTIFACT-sized, corpus-independent, constant plan depth via
    // localCheckpoint. Normalization is L∞ at
    // scale 1000: v′ = trunc(1000·w / max|w|) — integer div truncates
    // identically in both engines (max|w| > 0 always: the Gram matrix
    // is PSD with positive diagonal and v₀ > 0). The w·1000 multiply
    // runs in DECIMAL(38,0) (HUGEINT in DuckDB), so the post-aggregate
    // ×1000 can never overflow at any SF and `div` still truncates to
    // BIGINT. w's own BIGINT accumulation is bounded by d·max|gram|·1000
    // (measured ~2·10¹³ at sf1; the bound grows linearly with corpus
    // size toward the 9·10¹⁸ limit around ~10⁹ input rows) — if a corpus
    // ever crosses it, Spark ANSI and DuckDB both fail LOUDLY and the
    // gram terms move to DECIMAL the same way.
    GQuery(
      "q161_pca_power",
      (s, d) => {
        val tri = gramTri(s, d)
        val sym = tri.select(col("i").as("gi"), col("j").as("gj"), col("gram"))
          .unionByName(tri.filter(col("i") =!= col("j"))
            .select(col("j").as("gi"), col("i").as("gj"), col("gram")))
          .localCheckpoint(false) // consumed once per round
        var v = s.range(D).select(col("id").cast("int").as("dim"), lit(1000L).as("v"))
        // The 6 power rounds run on the d×d ARTIFACT (≤ d² = 4096 rows by
        // construction, corpus-independent), so their per-round shuffles
        // are sized to the artifact, not the session default (r10, guide
        // §2.2 — the r9-verdict iterative-loop item). Checkpoints are
        // EAGER inside the scope: the lazy cascade would otherwise plan
        // (and size) every round's shuffle at final-action time, after
        // the conf is restored; round count and job count are unchanged
        // (each lazy checkpoint materialized as its own job anyway). The
        // corpus-sized Gram pass materializes inside round 1's job with
        // its map-side parallelism governed by the scan, not this conf.
        graft.functions.IterLoop.withShufflePartitions(s,
          graft.functions.IterLoop.partitionsFor(s, D.toLong * D)) {
          for (_ <- 1 to Rounds) {
            val w = sym.join(v, col("gj") === col("dim"))
              .groupBy(col("gi"))
              .agg(sum(col("gram") * col("v")).as("w"))
            val mx = w.agg(max(abs(col("w"))).as("mx"))
            v = w.crossJoin(broadcast(mx)) // 1-row side
              .select(col("gi").as("dim"),
                // INTEGER division truncates toward zero in BOTH engines
                // (Spark `div`, DuckDB `//` on BIGINT/HUGEINT — verified:
                // -7//2 = -3; DuckDB only floors on the double `/`+floor
                // path), so plain div is the cross-engine-exact spelling.
                expr("(CAST(w AS DECIMAL(38,0)) * 1000) div mx").cast("long").as("v"))
              .localCheckpoint() // eager: plans THIS round inside the scope
          }
        }
        v.orderBy(col("dim").asc)
      },
      Some(powerOracle),
      doc = "PCA dominant eigenvector: fixed-point power iteration on the Gram artifact")
  )
}
