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
  * combine — the naive spelling ships d²/2 × N exploded rows); q161
  * collects that one d(d+1)/2-long buffer and iterates on the driver, so
  * its cost is independent of corpus size once the Gram pass is done.
  *
  * Determinism: embeddings are quantized to integers (⌊1000·v⌋) before any
  * arithmetic, so every sum/product is exact 64-bit integer math in both
  * engines; the power-iteration normalization divides with BigInt `/`
  * (q161) and `//` (its oracle), which BOTH truncate toward zero on
  * integers (the ADVICE-r3 floor divergence is specific to the double `/`
  * + floor()/CAST path — integer division is already cross-engine-exact).
  */
object MatrixQueries {

  private val D = 64
  private val Rounds = 6

  /** The one-row Gram aggregate: `g`, the quantized upper triangle row by
    * row (cell (i, j ≥ i) at i·D − i(i−1)/2 + (j − i)), and the row count.
    */
  private def gramAgg(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long")).as("qv"))
      .agg(GramAggregate(col("qv"), D).as("g"), count(lit(1)).as("n"))

  /** Quantized upper-triangular Gram cells (i, j, gram, n) via
    * [[GramAggregate]] + a broadcast (t → i, j) spine.
    */
  private def gramTri(s: SparkSession, d: String): DataFrame = {
    val spine = s.range(D).select(col("id").cast("int").as("i"))
      .crossJoin(s.range(D).select(col("id").cast("int").as("j")))
      .filter(col("j") >= col("i"))
      // i(i−1) is always even, so the double division is exact
      .withColumn("t", expr(s"CAST(i * $D - CAST(i * (i - 1) / 2 AS INT) + (j - i) AS INT)"))
    gramAgg(s, d).select(col("n"), posexplode(col("g")).as(Seq("t2", "gram")))
      .join(broadcast(spine), col("t2") === col("t"))
      .select(col("i"), col("j"), col("gram"), col("n"))
  }

  /** q161: [[Rounds]] power rounds on the collected Gram buffer, in exact
    * Long arithmetic on the driver (`multiplyExact`/`addExact` fail loudly
    * on overflow, as Spark ANSI does), as (dim, v) in dim order.
    */
  private def powerIteration(s: SparkSession, d: String): DataFrame = {
    val g = gramAgg(s, d).head().getSeq[Long](0).toIndexedSeq
    def cell(i: Int, j: Int): Long =
      if (i <= j) g(i * D - i * (i - 1) / 2 + (j - i)) else cell(j, i)
    val v = (1 to Rounds).foldLeft(IndexedSeq.fill(D)(1000L)) { (v, _) =>
      val w = (0 until D).map(i => (0 until D).foldLeft(0L)((acc, j) =>
        Math.addExact(acc, Math.multiplyExact(cell(i, j), v(j)))))
      val mx = BigInt(w.map(x => Math.absExact(x)).max)
      w.map(x => (BigInt(x) * 1000 / mx).toLong)
    }
    s.createDataFrame(v.zipWithIndex.map { case (x, dim) => (dim, x) }).toDF("dim", "v")
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
    // q160 Gram pass, the state is a d-vector over a d(d+1)/2-cell buffer
    // — ARTIFACT-sized and corpus-independent — so the one Gram row is
    // collected and the rounds run on the driver with no job
    // ([[powerIteration]]). Normalization is L∞ at scale 1000:
    // v′ = trunc(1000·w / max|w|) — integer division truncates identically
    // in both engines (max|w| > 0 always: the Gram matrix is PSD with
    // positive diagonal and v₀ > 0). The w·1000 multiply runs in BigInt
    // (HUGEINT in DuckDB), so the ×1000 can never overflow at any SF.
    // w's own Long accumulation is bounded by d·max|gram|·1000 (measured
    // ~2·10¹³ at sf1; the bound grows linearly with corpus size toward the
    // 9·10¹⁸ limit around ~10⁹ input rows) — if a corpus ever crosses it,
    // the driver's exact arithmetic and DuckDB both fail LOUDLY and the
    // gram terms move to BigInt/HUGEINT the same way.
    GQuery(
      "q161_pca_power",
      powerIteration,
      Some(powerOracle),
      doc = "PCA dominant eigenvector: fixed-point power iteration on the Gram artifact")
  )
}
