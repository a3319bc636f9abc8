package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{GQuery, Graft}
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables
import graft.sql.GraftSql

/** Graph / temporal / corpus-statistics round-out (round 3): triangle
  * counting, SCD2 merge, sweep-line concurrency, Kneser-Ney continuation
  * counts, integer-exact collocation ranking, and MAD robust outliers.
  * Every gate is integer- or boundary-double-exact per OutputPolicy.
  */
object GraphTemporalQueries {

  /** Winnowing fingerprint overlap (q125's engine, callable from specs
    * with a small `maxBucket`): hash every word k-gram, take the min of
    * each sliding window of w positional hashes, dedupe minima per doc,
    * self-join on fingerprint.
    *
    * `maxBucket` bounds the quadratic hot-fingerprint risk exactly as
    * [[graft.functions.MinHash.nearDuplicatePairs]] bounds hot band
    * buckets (VERDICT r4): a fingerprint shared by m docs — one
    * boilerplate header fingerprinted identically corpus-wide — produces
    * m(m-1)/2 join rows. The bucket size is a window count over the SAME
    * `fp` partitioning the self-join shuffles on, filtering ONE join side
    * (a pair needs the key on both sides, so one side suppresses the
    * bucket), with observe() telemetry riding the same pass BEFORE the
    * filter so dropped volume is visible, never silent.
    */
  def winnowPairs(docs: org.apache.spark.sql.DataFrame, k: Int = 5, w: Int = 4,
      maxBucket: Int = 1000): org.apache.spark.sql.DataFrame = {
    val grams = Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(TF.wordShingleHashesAll(col("text"), k))
          .as(Seq("pos", "h")))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos").asc).rowsBetween(0, w - 1)
    val fps = grams
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("fp", min(col("h")).over(win))
      // windows that extend past the last gram are not full-width —
      // the paper's guarantee only holds for complete windows
      .filter(col("pos") <= col("n_grams") - w)
      .select(col("doc_id"), col("fp")).distinct()
      // the self-join references fps on BOTH sides: un-checkpointed,
      // the whole corpus pipeline executes twice inside one job
      // (measured 2× the stage cost — the q81 lesson)
      .transform(Graft.checkpoint(eager = false))
    val capped = graft.ops.Skew.capHotBuckets(fps, Seq(col("fp")), maxBucket,
      "winnow_cap", "dropped_fp_rows", "fp_rows")
    // merge-hinted: fps is corpus-sized — at scale this join must NEVER
    // broadcast, and pinning the strategy also stops AQE from racing a
    // speculative broadcast-exchange job whose post-execution completions
    // spam "non-existent accumulator" against the torn-down metrics
    capped.as("a").hint("merge").join(fps.as("b").hint("merge"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // NO n_shared floor: a pair sharing exactly one ≥8-word span is
      // guaranteed only ONE shared fingerprint — a ≥2 floor would
      // silently break the winnowing detection guarantee
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("id_a").asc, col("id_b").asc)
  }

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q118: triangle counting — the link-graph curation signal (dense
    // triangle neighborhoods flag link farms / mutual-citation rings the
    // way repetition flags boilerplate text). Relational edge-iterator
    // form: canonical a<b edges self-joined twice with a<b<c, so each
    // triangle is produced exactly once. At web scale the standard
    // refinement is degree ordering (orient each edge low-degree →
    // high-degree before the join) which bounds the candidate wedges per
    // node by d_max of the smaller endpoint — same plan shape, one extra
    // degree join; the id-ordered variant here keeps the oracle exact.
    // Output: per-node triangle participation (every node, ordered).
    GQuery(
      "q118_triangle_count",
      (s, d) => {
        val e = Tables.lineitem(s, d)
          .select(pmod(col("l_partkey"), lit(100L)).as("x"),
            pmod(col("l_suppkey"), lit(100L)).as("y"))
          .filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct()
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.b") === col("e2.a"))
          .join(e.as("e3"),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .select(col("e1.a").as("n1"), col("e1.b").as("n2"), col("e2.b").as("n3"))
        tri.select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("node").asc)
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b FROM (
             |    SELECT l_partkey % 100 AS x, l_suppkey % 100 AS y FROM lineitem)
             |  WHERE x <> y),
             |tri AS (
             |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
             |  FROM e e1
             |  JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
             |FROM (SELECT unnest([n1, n2, n3]) AS node FROM tri)
             |GROUP BY node ORDER BY node ASC""".stripMargin),
      "triangle counting: canonical a<b<c edge-iterator, per-node participation"),

    // ------------------------------------------------------------------
    // q119: SCD2 merge (slowly-changing dimension, type 2) — the
    // warehouse upsert: an update batch closes the matched current rows
    // (valid_to = effective date) and appends new versions, unmatched
    // rows pass through. Spark has no MERGE INTO without a table format;
    // the relational shape IS the operator: ONE left join of dimension to
    // updates (updates are the small side → broadcast) and ONE scan
    // emitting 1-or-2 rows per key via explode(array(...)) — never two
    // passes over the dimension. The update batch (customers' H2-1997
    // order volume) reuses exact decimal arithmetic internally; balances
    // leave as DOUBLE per OutputPolicy.
    GQuery(
      "q119_scd2_merge",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("custkey"),
            col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
        val upd = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ntzLit("1997-07-01 00:00:00"))
          .groupBy(col("o_custkey").as("custkey"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("delta"))
        // versions carry TIMESTAMP_NTZ bounds — the fixture's native
        // temporal type (o_orderdate), proven driver-stable by q102
        val eff = ntzLit("1998-01-01 00:00:00")
        val origin = ntzLit("1990-01-01 00:00:00")
        val nullTs = lit(null).cast(org.apache.spark.sql.types.TimestampNTZType)
        dim.join(broadcast(upd), Seq("custkey"), "left")
          .select(col("custkey"), explode(when(col("delta").isNull,
            array(struct(col("bal").cast("double").as("bal"),
              origin.as("valid_from"), nullTs.as("valid_to"),
              lit(true).as("is_current"))))
            .otherwise(array(
              struct(col("bal").cast("double").as("bal"),
                origin.as("valid_from"), eff.as("valid_to"),
                lit(false).as("is_current")),
              struct((col("bal") + col("delta")).cast("double").as("bal"),
                eff.as("valid_from"), nullTs.as("valid_to"),
                lit(true).as("is_current"))))).as("v"))
          .select(col("custkey"), col("v.bal"), col("v.valid_from"),
            col("v.valid_to"), col("v.is_current"))
          .orderBy(col("custkey").asc, col("valid_from").asc)
      },
      Some("""WITH upd AS (
             |  SELECT o_custkey AS custkey,
             |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
             |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
             |  GROUP BY 1)
             |SELECT custkey, bal, valid_from, valid_to, is_current FROM (
             |  SELECT c.c_custkey AS custkey,
             |         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal,
             |         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             |         CASE WHEN u.custkey IS NULL THEN NULL
             |              ELSE TIMESTAMP '1998-01-01 00:00:00' END AS valid_to,
             |         (u.custkey IS NULL) AS is_current
             |  FROM customer c LEFT JOIN upd u ON c.c_custkey = u.custkey
             |  UNION ALL
             |  SELECT c.c_custkey,
             |         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) + u.delta AS DOUBLE),
             |         TIMESTAMP '1998-01-01 00:00:00', NULL, true
             |  FROM customer c JOIN upd u ON c.c_custkey = u.custkey)
             |ORDER BY custkey ASC, valid_from ASC""".stripMargin),
      "SCD2 merge: close matched versions + append new, one join one scan"),

    // ------------------------------------------------------------------
    // q120: interval max-concurrency (sweep line) — "how many sessions
    // were open at once", the capacity-planning / abuse-detection shape.
    // Each event opens a [sec, sec+600) interval; the timeline compresses
    // to (instant, Σdelta) points (ends sort before starts at the same
    // instant via the 2·sec+{0,1} key, so half-open intervals never
    // overlap at the boundary), and the running concurrency is
    // Packing.prefixSum — the two-level distributed prefix sum — NOT a
    // one-partition global window over the corpus-sized timeline (the
    // classic scale trap; only the per-bucket TOTALS ever meet a global
    // window). Gate: the 10 most concurrent instants.
    GQuery(
      "q120_max_concurrency",
      (s, d) => {
        // ONE scan: each event explodes to its (+1 at start, −1 at end)
        // timeline points — a union of two selects would read the source
        // twice, 2× the dominant cost at corpus scale
        val points = Tables.events(s, d).select(epochSec(col("ts")).as("sec"))
          .select(explode(array(
            struct((col("sec") * 2 + 1).as("k"), lit(1L).as("delta")),
            struct((col("sec") * 2 + 1200).as("k"), lit(-1L).as("delta")))).as("p"))
          .groupBy(col("p.k").as("k")).agg(sum(col("p.delta")).as("delta"))
        graft.functions.Packing.prefixSum(points, "k", "delta", 100000L, "concurrency")
          // floor(k/2), not `k div 2`: DuckDB's // floors, Spark's div
          // truncates — they disagree on negative instants (ADVICE r3)
          .select(expr("CAST(floor(k / 2.0) AS BIGINT)").as("t_sec"), col("concurrency"))
          .orderBy(col("concurrency").desc, col("t_sec").asc)
          .limit(10)
      },
      Some("""WITH ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             |pts AS (
             |  SELECT k, CAST(SUM(delta) AS BIGINT) AS delta FROM (
             |    SELECT sec * 2 + 1 AS k, 1 AS delta FROM ev
             |    UNION ALL
             |    SELECT sec * 2 + 1200 AS k, -1 AS delta FROM ev)
             |  GROUP BY k),
             |run AS (
             |  SELECT k, CAST(SUM(delta) OVER (ORDER BY k ASC
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrency
             |  FROM pts)
             |SELECT CAST(k // 2 AS BIGINT) AS t_sec, concurrency
             |FROM run ORDER BY concurrency DESC, t_sec ASC LIMIT 10""".stripMargin),
      "sweep-line max concurrency: delta points + distributed prefix sum"),

    // ------------------------------------------------------------------
    // q121: Kneser-Ney continuation counts — the n-gram LM smoothing
    // statistics (Kneser & Ney 1995): how many DISTINCT left contexts a
    // word follows (N1+(•w), the KN unigram numerator) and how many
    // distinct continuations it opens (N1+(w•)). Two count-distinct
    // aggregations over the bigram relation — Spark plans each as
    // expand + two-phase aggregate, so the shuffle carries (word,
    // context) pairs pre-deduplicated map-side, never raw occurrences.
    // Pure integer counting ⇒ hash-exact.
    GQuery(
      "q121_kn_continuation",
      (s, d) => {
        // two consumers (left-type and right-type aggregations) —
        // checkpoint the bigram relation so the scan+explode runs once
        // (the q88 funnel pattern)
        val bi = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(explode(TF.bigramPairs(col("text"))).as("b"))
          .select(col("b.w1"), col("b.w2"))
          .transform(Graft.checkpoint(eager = false))
        val left = bi.groupBy(col("w2").as("w"))
          .agg(countDistinct(col("w1")).as("n_left_types"),
            count(lit(1)).as("n_tokens_right"))
        val right = bi.groupBy(col("w1").as("w"))
          .agg(countDistinct(col("w2")).as("n_right_types"))
        left.join(right, Seq("w"), "full")
          .select(col("w"),
            coalesce(col("n_left_types"), lit(0L)).as("n_left_types"),
            coalesce(col("n_right_types"), lit(0L)).as("n_right_types"),
            coalesce(col("n_tokens_right"), lit(0L)).as("n_bigrams"))
          .orderBy(col("n_left_types").desc, col("w").asc)
          .limit(30)
      },
      Some("""WITH bi AS (
             |  SELECT ws[i] AS w1, ws[i+1] AS w2
             |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
             |  WHERE len(ws) >= 2),
             |l AS (SELECT w2 AS w, CAST(COUNT(DISTINCT w1) AS BIGINT) AS n_left_types,
             |             CAST(COUNT(*) AS BIGINT) AS n_bigrams
             |      FROM bi GROUP BY 1),
             |r AS (SELECT w1 AS w, CAST(COUNT(DISTINCT w2) AS BIGINT) AS n_right_types
             |      FROM bi GROUP BY 1)
             |SELECT COALESCE(l.w, r.w) AS w,
             |       COALESCE(l.n_left_types, 0) AS n_left_types,
             |       COALESCE(r.n_right_types, 0) AS n_right_types,
             |       COALESCE(l.n_bigrams, 0) AS n_bigrams
             |FROM l FULL JOIN r ON l.w = r.w
             |ORDER BY n_left_types DESC, w ASC LIMIT 30""".stripMargin),
      "Kneser-Ney continuation counts: distinct-context statistics per word"),

    // ------------------------------------------------------------------
    // q122: collocation ranking — PMI-ordered adjacent pairs WITHOUT
    // floating log: PMI(x,y) = log(N·c(xy) / (c(x)·c(y))) is monotone in
    // the integer ratio, so ranking by the fixed-point quotient
    // c(xy)·N·10⁶ div (c(x)·c(y)) is PMI-monotone up to quotient ties —
    // integer truncation can collapse pairs whose true PMIs differ below
    // the 10⁻⁶ fixed-point resolution; such ties break lexically on
    // (w1,w2), identically in both engines, so the gate stays bit-stable
    // (libm log would be rank-equivalent but value-fuzzy).
    // Shape: one bigram pass + two broadcast unigram joins; the c(xy)≥5
    // floor cuts hapax noise. The standard vocabulary-induction /
    // multi-word-expression signal over a training corpus.
    GQuery(
      "q122_collocations",
      (s, d) => {
        val toks = TF.tokens(col("text"))
        val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
        val uni = docs
          .select(explode(toks).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c1"))
        // total token mass from the unigram aggregate — NOT a third scan
        // of the corpus
        val n = uni.agg(sum(col("c1")).as("n"))
        val bi = docs
          .select(explode(TF.bigramPairs(col("text"))).as("b"))
          .select(col("b.w1"), col("b.w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5)
        // the c12·N·10⁶ product overflows BIGINT once c12·N > ~9.2e12
        // (any real corpus), and Spark-4 ANSI makes that a hard error —
        // widen the product to DECIMAL(38,0) on both engines (HUGEINT in
        // DuckDB); the QUOTIENT is bounded by N·10⁶/min_count, which fits
        // BIGINT through N ≈ 4.6e13 tokens (shrink the multiplier beyond)
        bi.join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "cx")), "w1")
          .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "cy")), "w2")
          .crossJoin(broadcast(n))
          .select(col("w1"), col("w2"), col("c12"),
            expr("CAST(CAST(c12 AS DECIMAL(38,0)) * n * 1000000 div (cx * cy) AS BIGINT)")
              .as("pmi_fp"))
          .orderBy(col("pmi_fp").desc, col("w1").asc, col("w2").asc)
          .limit(25)
      },
      Some("""WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
             |uni AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
             |  FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY 1),
             |n AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS n FROM ws),
             |bi AS (
             |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
             |    SELECT ws[i] AS w1, ws[i+1] AS w2
             |    FROM ws, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
             |    WHERE len(ws) >= 2)
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT bi.w1, bi.w2, bi.c12,
             |       CAST(CAST(bi.c12 AS HUGEINT) * n.n * 1000000 // (x.c1 * y.c1) AS BIGINT) AS pmi_fp
             |FROM bi JOIN uni x ON bi.w1 = x.w
             |        JOIN uni y ON bi.w2 = y.w
             |        CROSS JOIN n
             |ORDER BY pmi_fp DESC, w1 ASC, w2 ASC LIMIT 25""".stripMargin),
      "collocations: integer fixed-point PMI rank, no libm in the gate"),

    // ------------------------------------------------------------------
    // q123: MAD robust outliers — median absolute deviation, the robust
    // complement to q103's ±2σ (one corrupt value moves a mean/stddev
    // arbitrarily but not a median). Two exact-percentile aggregations
    // (median of x per group, then median of |x − med|) + a broadcast
    // join back; l_quantity is integral so every median is k or k+0.5 —
    // exact in binary — and the 3·MAD comparison is exact arithmetic,
    // never an epsilon. Output: the outlier rows per return flag.
    GQuery(
      "q123_mad_outliers",
      (s, d) => GraftSql.run(s, d, """WITH med AS (
                |  SELECT l_returnflag AS flag, percentile(l_quantity, 0.5) AS med
                |  FROM lineitem GROUP BY 1),
                |dev AS (
                |  SELECT m.flag, m.med,
                |         percentile(abs(l.l_quantity - m.med), 0.5) AS mad
                |  FROM lineitem l JOIN med m ON l.l_returnflag = m.flag
                |  GROUP BY m.flag, m.med)
                |SELECT d.flag, d.med, d.mad,
                |       CAST(COUNT(*) AS BIGINT) AS n_rows,
                |       CAST(SUM(CASE WHEN abs(l.l_quantity - d.med) > 3 * d.mad
                |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
                |FROM lineitem l JOIN dev d ON l.l_returnflag = d.flag
                |GROUP BY d.flag, d.med, d.mad
                |ORDER BY flag ASC""".stripMargin),
      Some("""WITH med AS (
             |  SELECT l_returnflag AS flag, quantile_cont(l_quantity, 0.5) AS med
             |  FROM lineitem GROUP BY 1),
             |dev AS (
             |  SELECT m.flag, m.med,
             |         quantile_cont(abs(l.l_quantity - m.med), 0.5) AS mad
             |  FROM lineitem l JOIN med m ON l.l_returnflag = m.flag
             |  GROUP BY m.flag, m.med)
             |SELECT d.flag, d.med, d.mad,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(SUM(CASE WHEN abs(l.l_quantity - d.med) > 3 * d.mad
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM lineitem l JOIN dev d ON l.l_returnflag = d.flag
             |GROUP BY d.flag, d.med, d.mad
             |ORDER BY flag ASC""".stripMargin),
      "MAD robust outliers: exact medians, 3*MAD flag, no epsilon"),

    // ------------------------------------------------------------------
    // q124: cohort retention — the product-analytics staple: users
    // cohorted by first-activity period, retention = distinct active
    // users per (cohort, periods-since). Two shuffles total: one user_id
    // aggregation for the cohort assignment, one join back + distinct
    // count (the join is shuffle-on-user_id; the cohort table is
    // user-cardinality so never broadcast at scale). DAILY periods via
    // integer epoch-day — the fixture's events span weeks, not months,
    // and epoch-day arithmetic has no calendar ambiguity cross-engine.
    GQuery(
      "q124_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
          // floor(), not cast-int truncation: the two agree only for
          // non-negative epochs; a pre-1970 timestamp would silently
          // diverge from DuckDB's floor(epoch/86400) (ADVICE r3)
          .select(col("user_id"),
            floor(epochSec(col("ts")) / 86400).cast("int").as("day"))
        val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        ev.join(cohort, Seq("user_id"))
          .select(col("user_id"), col("cohort_day"),
            (col("day") - col("cohort_day")).as("days_since"))
          .groupBy(col("cohort_day"), col("days_since"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_day").asc, col("days_since").asc)
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS INT) AS day
             |  FROM events),
             |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
             |SELECT c.cohort_day, e.day - c.cohort_day AS days_since,
             |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
             |FROM ev e JOIN cohort c ON e.user_id = c.user_id
             |GROUP BY 1, 2 ORDER BY cohort_day ASC, days_since ASC""".stripMargin),
      "cohort retention matrix: first-activity daily cohorts x days-since"),

    // ------------------------------------------------------------------
    // q125: winnowing fingerprints + cross-document overlap (Schleimer,
    // Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    // Fingerprinting", SIGMOD 2003 — the MOSS algorithm, and the standard
    // exact-span contamination/plagiarism detector): hash every word
    // 5-gram, take the MIN of each sliding window of 4 positional hashes
    // (guarantees any shared run of ≥8 words yields a shared
    // fingerprint), dedupe minima per doc, then self-join on fingerprint.
    // Whole-doc hashing (q35) misses partial overlap; all-pairs Jaccard
    // (q38) is quadratic — winnowing is the linear-scan middle ground:
    // corpus-sized work is one explode + one windowed min partitioned by
    // doc; only docs sharing a fingerprint ever meet in the join (same
    // bucketed-meeting shape as LSH). The window min is a per-doc
    // ROWS-frame window, never a global sort.
    GQuery(
      "q125_winnow_overlap",
      // k=5 gram size (words), w=4 winnow window (fingerprint every
      // ≥ k+w-1 = 8-word run). maxBucket=1000 never fires on the fixtures
      // (max fp bucket ≈ planted-dup group size), keeping the oracle
      // exact; the cap + telemetry exist for the boilerplate-corpus case
      // GraphTemporalSpec plants (VERDICT r4: same skew bomb q36 was
      // capped for).
      (s, d) => winnowPairs(Tables.documents(s, d), k = 5, w = 4),
      Some("""WITH grams AS (
             |  SELECT doc_id,
             |         list_transform(range(1, len(ws) - 3),
             |           i -> CAST(('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]),1,15)) AS BIGINT)) AS hs
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
             |  WHERE len(ws) >= 5),
             |fps AS (
             |  SELECT DISTINCT doc_id, fp FROM (
             |    SELECT doc_id,
             |           unnest(list_transform(range(1, len(hs) - 2),
             |             j -> list_min(hs[j:j+3]))) AS fp
             |    FROM grams WHERE len(hs) >= 4))
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_shared
             |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "winnowing fingerprints (MOSS): shared >=8-word spans meet in a fingerprint join"),

    // ------------------------------------------------------------------
    // q126: exact set-similarity join via PREFIX FILTERING (AllPairs/
    // PPJoin family — Bayardo, Ma & Srikant, "Scaling Up All Pairs
    // Similarity Search", WWW 2007): the EXACT complement to LSH (q36
    // trades recall for scale; this keeps exactness and still avoids
    // all-pairs). Order each doc's distinct tokens by global rarity
    // (df asc, token asc); for Jaccard ≥ t only the first
    // n − ⌈t·n⌉ + 1 tokens (the prefix) can witness a qualifying pair —
    // if J(a,b) ≥ t, the globally-smallest shared token provably sits in
    // BOTH prefixes — so candidates come from an equi-join on prefix
    // tokens (rare tokens → tiny buckets), never a quadratic block.
    // Verification recomputes exact overlap; the ≥ t test is exact
    // integer arithmetic (10·∩ ≥ 6·∪), not a float threshold. Oracle =
    // the naive exact all-pairs join; equality IS the completeness proof.
    // Element universe: 3-gram shingle HASHES, not words — the fixture's
    // ~31-word vocabulary makes word-set Jaccard degenerate (every doc
    // pair ≥ 0.6); shingles are diverse. Intersection cardinalities are
    // identical in hash space and string space, and the oracle (naive
    // all-pairs over shingle strings) is order-agnostic, so the
    // engine-internal df ordering never needs oracle replication.
    GQuery(
      "q126_prefix_simjoin",
      (s, d) => {
        // per-doc distinct shingle-hash SET as one native-kernel array
        // (r9): the verifier reads candidate pairs' sets via two
        // candidate-sized joins against this 1-row-per-doc relation,
        // where the pre-r9 form exploded the corpus and paid two
        // corpus-sized (doc, tok)-row joins plus a groupBy to count the
        // intersection (guide §2.3: shuffle keys + set payloads once,
        // not one row per set element). Intersection cardinality over
        // distinct-hash arrays equals the exploded row-match count.
        val tokset = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .filter(size(TF.tokens(col("text"))) >= 3)
          .select(col("doc_id"), TF.wordShingleHashes(col("text"), 3).as("ts"))
          .select(col("doc_id"), col("ts"), size(col("ts")).as("sz"))
          .transform(Graft.checkpoint(eager = false)) // 2 consumers: prefix build, verify
        val toks = tokset.select(col("doc_id"), col("sz"), explode(col("ts")).as("tok"))
        val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val ranked = toks.join(df, "tok")
          .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("df").asc, col("tok").asc)))
        // prefix length n − ⌈0.6n⌉ + 1, in integers: ⌈3n/5⌉ = (3n+4) div 5
        val prefix = ranked.filter(col("rn") <= col("sz") - expr("(3*sz + 4) div 5") + 1)
          .select(col("doc_id"), col("tok"))
        val cand = prefix.as("pa").join(prefix.as("pb"),
            col("pa.tok") === col("pb.tok") && col("pa.doc_id") < col("pb.doc_id"))
          .select(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
          .distinct()
        cand
          .join(tokset.select(col("doc_id").as("id_a"), col("ts").as("tsa"),
            col("sz").as("na")), "id_a")
          .join(tokset.select(col("doc_id").as("id_b"), col("ts").as("tsb"),
            col("sz").as("nb")), "id_b")
          .withColumn("i", size(array_intersect(col("tsa"), col("tsb"))).cast("long"))
          .withColumn("u", col("na").cast("long") + col("nb") - col("i"))
          .filter(col("i") * 10 >= col("u") * 6)
          .select(col("id_a"), col("id_b"),
            (col("i").cast("double") / col("u")).as("jaccard"))
          .orderBy(col("id_a").asc, col("id_b").asc)
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_distinct(list_transform(range(1, len(ws)-1),
             |           i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS ts
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
             |  WHERE len(ws) >= 3)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
             |       len(list_distinct(list_concat(a.ts, b.ts))) AS jaccard
             |FROM t a JOIN t b ON a.doc_id < b.doc_id
             |WHERE 10 * len(list_intersect(a.ts, b.ts))
             |      >= 6 * len(list_distinct(list_concat(a.ts, b.ts)))
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "prefix-filtering exact similarity join (AllPairs): rare-token equi-join, no quadratic block"),

    // ------------------------------------------------------------------
    // q127: interval-overlap join via BINNING — Spark plans a raw
    // `a.start < b.end AND b.start < a.end` theta join as a
    // BroadcastNestedLoopJoin (O(n²), the 100 TB killer; no native range
    // join optimization in OSS Spark). The standard fix: explode each
    // interval to the fixed-width bins it touches (width = max interval
    // length ⇒ ≤2 bins here), equi-join on bin, refine with the exact
    // overlap predicate, dedupe pairs that met in both bins. PlanShapeSpec
    // asserts the binned plan is a hash join. Fixture: 10-minute event
    // windows of a user subset; output = overlap counts per user pair.
    GQuery(
      "q127_interval_join",
      (s, d) => {
        val iv = Tables.events(s, d)
          .filter(col("user_id") < 5)
          .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("s0"),
            (epochSec(col("ts")) + 600).as("s1"))
          .transform(Graft.checkpoint(eager = false)) // both join sides
        // floor division, not `div` (truncation): the bin invariant
        // "overlapping intervals share ≥1 bin" must hold for pre-1970
        // (negative-epoch) timestamps too, where truncation and floor
        // disagree (ADVICE r3). Doubles are exact here (|s| < 2^53).
        val binned = iv.select(col("user_id"), col("event_id"), col("s0"), col("s1"),
          explode(array_distinct(array(
            expr("CAST(floor(s0 / 600.0) AS BIGINT)"),
            expr("CAST(floor((s1 - 1) / 600.0) AS BIGINT)"))))
            .as("bin"))
        // user_a < user_b alone orients each cross-user pair exactly once —
        // an event_id conjunct on top would silently drop the pairs whose
        // id order disagrees with the user order (~half the real overlaps)
        binned.as("a").join(binned.as("b"),
            col("a.bin") === col("b.bin") &&
              col("a.user_id") < col("b.user_id") &&
              col("a.s0") < col("b.s1") && col("b.s0") < col("a.s1"))
          .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
            col("a.event_id").as("ea"), col("b.event_id").as("eb"))
          .distinct() // a pair can meet in two bins
          .groupBy(col("user_a"), col("user_b"))
          .agg(count(lit(1)).as("n_overlaps"))
          .orderBy(col("user_a").asc, col("user_b").asc)
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id,
             |         CAST(floor(epoch(ts)) AS BIGINT) AS s0,
             |         CAST(floor(epoch(ts)) AS BIGINT) + 600 AS s1
             |  FROM events WHERE user_id < 5)
             |SELECT a.user_id AS user_a, b.user_id AS user_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_overlaps
             |FROM iv a JOIN iv b
             |  ON a.user_id < b.user_id
             | AND a.s0 < b.s1 AND b.s0 < a.s1
             |GROUP BY 1, 2 ORDER BY user_a ASC, user_b ASC""".stripMargin),
      "interval-overlap join via binning: equi-join + refine, never a nested loop"),

    // ------------------------------------------------------------------
    // q128: snapshot diff / reconciliation — "what changed between
    // yesterday's table and today's": full outer join on the key, rows
    // classified added / removed / changed / unchanged by comparing a
    // content hash (md5 of the canonicalized value tuple — comparing ONE
    // hash, not N columns, keeps the diff predicate O(1) per row and the
    // shuffle narrow). Snapshot B is snapshot A with deterministic
    // mutations (every 7th order's priority bumped, every 13th dropped,
    // synthetic keys appended) so both engines derive identical inputs.
    GQuery(
      "q128_snapshot_diff",
      (s, d) => {
        val a = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"),
            col("o_orderstatus").as("status"), col("o_orderpriority").as("prio"))
        val b0 = a.filter(pmod(col("k"), lit(13L)) =!= 0)
          .select(col("k"),
            col("status"),
            when(pmod(col("k"), lit(7L)) === 0, lit("0-BUMPED")).otherwise(col("prio")).as("prio"))
        val b = b0.union(
          a.select((col("k") + 10000000L).as("k"), col("status"), col("prio"))
            .filter(pmod(col("k"), lit(101L)) === 0))
        def h(df: org.apache.spark.sql.DataFrame) = df.select(col("k"),
          md5(concat_ws("|", col("status"), col("prio"))).as("h"))
        h(a).as("a").join(h(b).as("b"), col("a.k") === col("b.k"), "full")
          .select(coalesce(col("a.k"), col("b.k")).as("k"),
            when(col("a.k").isNull, "added")
              .when(col("b.k").isNull, "removed")
              .when(col("a.h") =!= col("b.h"), "changed")
              .otherwise("unchanged").as("change"))
          .groupBy(col("change")).agg(count(lit(1)).as("n"), min(col("k")).as("first_key"))
          .orderBy(col("change").asc)
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey AS k, o_orderstatus AS status, o_orderpriority AS prio
             |  FROM orders),
             |b AS (
             |  SELECT k, status,
             |         CASE WHEN k % 7 = 0 THEN '0-BUMPED' ELSE prio END AS prio
             |  FROM a WHERE k % 13 <> 0
             |  UNION ALL
             |  SELECT k + 10000000, status, prio FROM a WHERE (k + 10000000) % 101 = 0),
             |ah AS (SELECT k, md5(status||'|'||prio) AS h FROM a),
             |bh AS (SELECT k, md5(status||'|'||prio) AS h FROM b)
             |SELECT change, CAST(COUNT(*) AS BIGINT) AS n, MIN(k) AS first_key FROM (
             |  SELECT COALESCE(ah.k, bh.k) AS k,
             |         CASE WHEN ah.k IS NULL THEN 'added'
             |              WHEN bh.k IS NULL THEN 'removed'
             |              WHEN ah.h <> bh.h THEN 'changed'
             |              ELSE 'unchanged' END AS change
             |  FROM ah FULL JOIN bh ON ah.k = bh.k)
             |GROUP BY change ORDER BY change ASC""".stripMargin),
      "snapshot diff: full outer join on key + one content hash per row"),

    // ------------------------------------------------------------------
    // q129: survivorship merge — multi-source entity resolution's last
    // step: the same key arrives from several sources with a precedence
    // order; keep the best-precedence row per key (ties broken
    // deterministically). ONE window pass over the union — the naive
    // per-source anti-join cascade reads the union once per source.
    // Sources derived from customer: "crm" (all rows), "web" (every 2nd,
    // marked), "import" (every 3rd, marked) with precedence crm < web <
    // import reversed — import wins — so ~1/3 of keys resolve to
    // import, ~1/6 more to web, rest crm.
    GQuery(
      "q129_survivorship",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("k"), col("c_name").as("name"))
        val union = c.withColumn("src", lit("crm")).withColumn("rank", lit(3))
          .union(c.filter(pmod(col("k"), lit(2L)) === 0)
            .select(col("k"), concat(col("name"), lit("#web")).as("name"))
            .withColumn("src", lit("web")).withColumn("rank", lit(2)))
          .union(c.filter(pmod(col("k"), lit(3L)) === 0)
            .select(col("k"), concat(col("name"), lit("#imp")).as("name"))
            .withColumn("src", lit("import")).withColumn("rank", lit(1)))
        union
          .withColumn("rn", row_number().over(Window.partitionBy(col("k"))
            .orderBy(col("rank").asc, col("src").asc)))
          .filter(col("rn") === 1)
          .select(col("k"), col("name"), col("src"))
          .orderBy(col("k").asc)
      },
      Some("""WITH u AS (
             |  SELECT c_custkey AS k, c_name AS name, 'crm' AS src, 3 AS rank FROM customer
             |  UNION ALL
             |  SELECT c_custkey, c_name||'#web', 'web', 2 FROM customer WHERE c_custkey % 2 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_name||'#imp', 'import', 1 FROM customer WHERE c_custkey % 3 = 0)
             |SELECT k, name, src FROM (
             |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY rank ASC, src ASC) AS rn
             |  FROM u)
             |WHERE rn = 1 ORDER BY k ASC""".stripMargin),
      "survivorship merge: precedence-ranked best row per key, one window pass"),

    // ------------------------------------------------------------------
    // q130: event transition counts — the first-order Markov statistics
    // of user journeys (page-path analysis, funnel discovery): within
    // each user's time-ordered stream, count (event_type → next
    // event_type) transitions. One lead() window partitioned by user —
    // the same single-shuffle shape as sessionization (q83); transition
    // mass per source state is pinned by the spec (Σ transitions from x
    // = occurrences of x that are not stream-final).
    GQuery(
      "q130_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("from_type").asc, col("to_type").asc)
      },
      Some("""WITH o AS (
             |  SELECT event_type,
             |         lead(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts ASC, event_id ASC) AS next_type
             |  FROM events)
             |SELECT event_type AS from_type, next_type AS to_type,
             |       CAST(COUNT(*) AS BIGINT) AS n
             |FROM o WHERE next_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY from_type ASC, to_type ASC""".stripMargin),
      "event transition matrix: lead() per user stream, single shuffle"),
  )
}
