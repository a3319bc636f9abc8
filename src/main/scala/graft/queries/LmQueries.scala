package graft.queries

import org.apache.spark.sql.functions._

import graft.{GQuery, Graft}
import graft.sources.Tables
import graft.functions.{TextFunctions => TF}

/** Round-4: n-gram language-model document scoring — the CCNet-style
  * "perplexity filter" (Wenzek et al., LREC 2020): score every document
  * under a bigram LM trained on the corpus itself and keep the
  * high-likelihood ones. Completes the arc the KN continuation counts
  * (q121) started: q121 computed the smoothing statistics, q155 assembles
  * them into interpolated Kneser-Ney probabilities and actually scores.
  */
object LmQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q155: interpolated Kneser-Ney bigram scoring (Kneser & Ney, ICASSP
    // 1995; Chen & Goodman, 1999), discount D=0.75:
    //   P(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/T
    // with T = distinct bigram types. The 100 TB shape: the MODEL is
    // vocab²-bounded (distinct bigram types), built with two small aggs
    // over the bigram-type relation and then BROADCAST — the corpus
    // shuffles exactly twice (bigram-type counts; per-doc aggregation),
    // and scoring is a map-side broadcast join. Determinism: per-type
    // log2-probability is floor-quantized to 1e-6 once in the model
    // (q148's discipline), so the per-doc sum is integer addition;
    // every pair seen in a doc exists in the model by construction
    // (trained on the same corpus), so the join never drops mass.
    GQuery(
      "q155_kn_doc_score",
      (s, d) => {
        val pairs = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(TF.bigramPairs(col("text"))).as("pr"))
          .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
          .transform(Graft.checkpoint(eager = false)) // model build + doc scoring share it
        val big = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
          .transform(Graft.checkpoint(eager = false)) // c1/nr/t/model all derive from it
        val c1 = big.groupBy(col("w1"))
          .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_l"))
        val nr = big.groupBy(col("w2")).agg(count(lit(1)).as("n1p_r"))
        val t = big.agg(count(lit(1)).as("t"))
        val p = greatest(col("c12").cast("double") - lit(0.75), lit(0.0)) / col("c1") +
          ((lit(0.75) * col("n1p_l")) / col("c1")) *
            (col("n1p_r").cast("double") / col("t"))
        val model = big.join(c1, Seq("w1")).join(nr, Seq("w2"))
          .crossJoin(broadcast(t)) // 1-row side
          .select(col("w1"), col("w2"),
            floor(lit(1000000.0) * log2(p)).cast("long").as("p_fp"))
        val docagg = pairs.join(broadcast(model), Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("p_fp")).as("ll_fp"))
        // docs with <2 tokens have no pairs: score 0 over 0 pairs, kept
        Tables.documents(s, d).select(col("doc_id"))
          .join(docagg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("ll_fp"), lit(0L)).as("ll_fp"))
          .withColumn("kept", col("ll_fp") >= lit(-5000000L) * col("n_pairs"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH pairs AS (
             |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |       LATERAL (SELECT unnest(range(1, len(toks))) AS i) t),
             |big AS (
             |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             |  FROM pairs GROUP BY 1, 2),
             |c1 AS (
             |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             |         CAST(COUNT(*) AS BIGINT) AS n1p_l
             |  FROM big GROUP BY w1),
             |nr AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_r FROM big GROUP BY w2),
             |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM big),
             |model AS (
             |  SELECT b.w1, b.w2,
             |         CAST(floor(1000000.0 * log2(
             |           GREATEST(CAST(b.c12 AS DOUBLE) - 0.75, 0.0) / c.c1 +
             |           ((0.75 * c.n1p_l) / c.c1) *
             |             (CAST(n.n1p_r AS DOUBLE) / tt.t))) AS BIGINT) AS p_fp
             |  FROM big b JOIN c1 c USING (w1) JOIN nr n USING (w2) CROSS JOIN tt),
             |docagg AS (
             |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |         CAST(SUM(m.p_fp) AS BIGINT) AS ll_fp
             |  FROM pairs p JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
             |  GROUP BY p.doc_id)
             |SELECT d.doc_id,
             |       COALESCE(a.n_pairs, 0) AS n_pairs,
             |       COALESCE(a.ll_fp, 0) AS ll_fp,
             |       COALESCE(a.ll_fp, 0) >= -5000000 * COALESCE(a.n_pairs, 0) AS kept
             |FROM documents d LEFT JOIN docagg a USING (doc_id)
             |ORDER BY doc_id ASC""".stripMargin),
      "interpolated KN bigram doc log-likelihood, 1e-6 fixed-point, keep filter"),
  )
}
