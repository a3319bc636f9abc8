package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** EXACT substring deduplication — the suffix-array dedup tier of a
  * training-data pipeline (Lee et al., "Deduplicating Training Data Makes
  * Language Models Better", ACL 2022), re-expressed relationally so Spark
  * can run it without an external suffix-array build.
  *
  * The suite already covers whole-document exact dedup (q34/q35),
  * approximate span overlap (q125 winnowing — SAMPLED fingerprints, may
  * miss span boundaries), and set-similarity (q36 LSH / q126 AllPairs).
  * What was missing is the exact-span tier: find every maximal run of
  * ≥ T tokens shared verbatim between two documents, with exact
  * positions and lengths — the artifact a span-cut dedup pass consumes.
  *
  * Relational suffix-array analog: a run of ≥ T shared tokens exists iff
  * the two documents share a positional T-gram, and the run's exact
  * extent is recoverable by merging CONSECUTIVE shared T-grams along the
  * pair's alignment diagonal (pos_a − pos_b). So:
  *
  *   1. explode every positional T-gram hash — corpus-linear, map-side;
  *   2. equi-join on the gram hash (docs only meet inside a gram bucket —
  *      the same bucketed-meeting shape as LSH/winnowing, never a
  *      quadratic block), with the q36-style hot-bucket cap + observe()
  *      telemetry for boilerplate grams;
  *   3. merge runs: window by (id_a, id_b, diagonal) ordered by pos_a,
  *      break where the previous shared gram is not pos_a − 1, running-sum
  *      the breaks into island ids, aggregate islands to maximal spans
  *      (span_words = shared_grams + T − 1).
  *
  * 100 TB shape: one corpus-sized shuffle (gram hash), then pair-sized
  * shuffles; the diagonal-merge window partitions by document PAIR — no
  * global sort anywhere. The T-gram explode is the linear-scan price the
  * suffix-array build would also pay (its sort is super-linear; this
  * shuffle is the lighter half of it).
  */
object SpanDedupQueries {

  /** Maximal shared token spans (≥ t tokens, verbatim) between document
    * pairs: (id_a, id_b, pos_a, pos_b, span_words), 1-based positions,
    * id_a < id_b. `maxBucket` caps the per-gram bucket exactly like
    * q36/q125 (boilerplate grams shared by k docs would otherwise emit
    * k² join rows per position); telemetry rides the same pass so
    * dropped volume is visible, never silent.
    */
  def exactSpans(docs: DataFrame, t: Int = 8, maxBucket: Int = 1000): DataFrame = {
    val grams = Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(TF.wordShingleHashesAll(col("text"), t))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
      // both sides of the self-join read grams: they share the corpus
      // shuffle (a ReusedExchange) and each runs the generator, which at
      // sf0.1 costs less than materializing grams (q175: 0.37 s against
      // 0.42 s)
    val capped = graft.ops.Skew.capHotBuckets(grams, Seq(col("h")), maxBucket,
      "spans_cap", "dropped_gram_rows", "gram_rows")
    // merge-hinted: grams is corpus-sized — this join must NEVER broadcast
    val pairs = capped.as("a").hint("merge").join(grams.as("b").hint("merge"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"),
        (col("a.pos") - col("b.pos")).as("diag"))
    // consecutive shared grams along a diagonal are one run; `<=>` keeps
    // the first row of each partition (lag NULL) a break without a
    // separate IS NULL arm (oracle spells IS DISTINCT FROM)
    val byDiag = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a").asc)
    pairs
      .withColumn("brk",
        when(not(lag(col("pos_a"), 1).over(byDiag) <=> (col("pos_a") - 1)), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byDiag))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg(min(col("pos_a")).as("pos_a"), min(col("pos_b")).as("pos_b"),
        (count(lit(1)) + (t - 1)).cast("int").as("span_words"))
      .select(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"), col("span_words"))
  }

  /** Span-cut dedup over [[exactSpans]]' output: every span is cut from
    * the LATER document of its pair (id_b side; the earlier doc stays
    * canonical — a deterministic version of Lee et al.'s remove-one-
    * occurrence rule). A doc's cut spans can overlap (several earlier
    * docs sharing different alignments), so per-doc coverage is a
    * sweep-line interval merge — running max-end, break where a span
    * starts past it (the q120 machinery, partitioned per doc, never
    * global). Output per affected doc: tokens before / cut / after.
    */
  def spanCut(docs: DataFrame, t: Int = 8, maxBucket: Int = 1000): DataFrame = {
    val spans = exactSpans(docs, t, maxBucket)
    val ivals = spans.select(col("id_b").as("doc_id"), col("pos_b").as("s"),
      (col("pos_b") + col("span_words")).as("e"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s").asc, col("e").asc)
    val covered = ivals
      .withColumn("prev_max",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("g",
        sum(when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("doc_id"))
      .agg(sum(col("me") - col("ms")).cast("int").as("n_cut"))
    covered.join(docs.select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens")),
        "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_cut"),
        (col("n_tokens") - col("n_cut")).as("n_after"))
      .orderBy(col("doc_id").asc)
  }

  /** The T-gram ladder of the q175/q176 oracles: positional 8-gram hashes
    * → diagonal runs → maximal spans, as DuckDB CTEs (md5-derived hashes
    * are bit-identical cross-engine, so the gate is exact, not
    * approximate). Shared so the two oracles cannot drift.
    */
  private def spanCtes(docWhere: String = ""): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents$docWhere),
      |grams AS (
      |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
      |      i -> struct_pack(pos := i,
      |        h := CAST(('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]),1,15)) AS BIGINT)))) AS u
      |    FROM toks WHERE len(ws) >= 8)),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      |  FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT *, CASE WHEN lag(pos_a) OVER (PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a)
      |                 IS DISTINCT FROM pos_a - 1 THEN 1 ELSE 0 END AS brk
      |  FROM pairs),
      |isl2 AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS island
      |  FROM isl),
      |spans AS (
      |  SELECT id_a, id_b, MIN(pos_a) AS pos_a, MIN(pos_b) AS pos_b, COUNT(*) + 7 AS span_words
      |  FROM isl2 GROUP BY id_a, id_b, pos_a - pos_b, island)""".stripMargin

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q175: exact maximal shared spans. On the fixture the planted
    // near-dup pairs surface as single long spans anchored at pos 1
    // (that is how the generator plants them); the gate's value is the
    // exact POSITIONS and LENGTHS — the winnowing tier (q125) can only
    // say "these two docs share something ≥ 8 words", this says
    // "tokens 14..96 of doc A are tokens 1..83 of doc B", which is the
    // input a span-cut pass needs. maxBucket=1000 never fires on the
    // fixtures (max gram bucket = planted-dup group size), keeping the
    // oracle exact; SpanDedupSpec plants a boilerplate corpus and
    // asserts the cap fires with telemetry without losing disjoint
    // planted spans.
    //
    // Gated on the doc_id % 3 = 0 CORPUS SUBSET (r7 VERDICT #3, the
    // q176 precedent — same CTE ladder both engines): the pair join's
    // volume is quadratic in the planted-dup group size, so the subset
    // cuts the suite's heaviest fixed cost ~9x while exercising every
    // operator in the span path. Full-corpus evidence (the hot-gram
    // shape and the sf1 scaling runs, slope 0.42) is recorded in
    // BASELINE.md, not in the per-round gate.
    GQuery(
      "q175_exact_spans",
      (s, d) => exactSpans(Tables.documents(s, d).filter(col("doc_id") % 3 === 0), t = 8)
        .orderBy(col("id_a").asc, col("id_b").asc, col("pos_a").asc, col("pos_b").asc),
      Some(spanCtes(" WHERE doc_id % 3 = 0") +
        """
          |SELECT id_a, id_b, CAST(pos_a AS INT) AS pos_a, CAST(pos_b AS INT) AS pos_b,
          |       CAST(span_words AS INT) AS span_words
          |FROM spans ORDER BY id_a ASC, id_b ASC, pos_a ASC, pos_b ASC""".stripMargin),
      "exact maximal shared token spans (suffix-array dedup tier, diagonal gram merge)"),

    // ------------------------------------------------------------------
    // q176: span-cut dedup — apply q175's spans (see [[spanCut]]).
    // Gated on the doc_id % 3 = 0 CORPUS SUBSET (both engines, same CTE
    // ladder): q176 must recompute [[exactSpans]] internally (queries
    // cannot share results across gate executions), so at full size the
    // bench paid the suite's heaviest pipeline twice per pass (VERDICT r5).
    // The subset cuts the self-join's pair volume ~9× while still
    // exercising every operator in the cut path — q175 remains the
    // full-corpus gate for the span pipeline itself.
    GQuery(
      "q176_span_cut",
      (s, d) => spanCut(Tables.documents(s, d).filter(col("doc_id") % 3 === 0), t = 8),
      Some(spanCtes(" WHERE doc_id % 3 = 0") +
        """,
          |ivals AS (SELECT id_b AS doc_id, pos_b AS s, pos_b + span_words AS e FROM spans),
          |swept AS (
          |  SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
          |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |  FROM ivals),
          |grp AS (
          |  SELECT *, SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
          |              OVER (PARTITION BY doc_id ORDER BY s, e) AS g
          |  FROM swept),
          |merged AS (SELECT doc_id, MIN(s) AS ms, MAX(e) AS me FROM grp GROUP BY doc_id, g),
          |cut AS (SELECT doc_id, SUM(me - ms) AS n_cut FROM merged GROUP BY doc_id)
          |SELECT c.doc_id, CAST(len(t.ws) AS INT) AS n_tokens, CAST(c.n_cut AS INT) AS n_cut,
          |       CAST(len(t.ws) - c.n_cut AS INT) AS n_after
          |FROM cut c JOIN toks t ON c.doc_id = t.doc_id
          |ORDER BY c.doc_id ASC""".stripMargin),
      "span-cut dedup: sweep-line merge of cut intervals, canonical earlier doc kept"),
  )
}
