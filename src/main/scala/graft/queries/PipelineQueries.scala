package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{GQuery, Graft}
import graft.expressions.MisraGriesAggregate
import graft.functions.{Packing, TextFunctions => TF}
import graft.sources.Tables

/** Training-data pipeline operators beyond dedup/ANN (SURVEY.md §2.11 r2
  * batch): sessionization, stratified sampling, TF-IDF, token packing,
  * heavy-hitters sketching, and funnel analysis. All oracle-gated.
  */
object PipelineQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q83: gap-based sessionization — the batch form of session assignment
    // (vs q33's session_window aggregate): lag to detect >1h gaps, running
    // sum of the gap flags to number sessions per user, then per-session
    // stats. Both windows use the same (user_id) partitioning, so this is
    // ONE shuffle on user_id at any scale; seconds-granularity timestamps
    // (epochSec == DuckDB floor(epoch)) keep the gap test cross-engine.
    GQuery(
      "q83_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value").cast(DecimalType(18, 6)).as("v"),
            epochSec(col("ts")).as("sec"))
          .withColumn("prev_sec", lag(col("sec"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 3600, 1L)
              .otherwise(0L))
          .withColumn("sess_idx", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("sess_idx"))
          .agg(count(lit(1)).as("n_events"),
            min(col("sec")).as("t_start_sec"),
            (max(col("sec")) - min(col("sec"))).as("dur_sec"),
            // decimal sum internally; DOUBLE at the output boundary
            // (OutputPolicy)
            sum(col("v")).cast("double").as("sum_value"))
          .orderBy(col("user_id").asc, col("sess_idx").asc)
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,6)) AS v,
             |         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
             |           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_sec
             |  FROM events),
             |f AS (
             |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 3600
             |                 THEN 1 ELSE 0 END AS new_sess FROM o),
             |g AS (
             |  SELECT *, CAST(SUM(new_sess) OVER
             |    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx FROM f)
             |SELECT user_id, sess_idx, COUNT(*) AS n_events,
             |       MIN(sec) AS t_start_sec,
             |       MAX(sec) - MIN(sec) AS dur_sec,
             |       CAST(SUM(v) AS DOUBLE) AS sum_value
             |FROM g GROUP BY 1, 2
             |ORDER BY user_id ASC, sess_idx ASC""".stripMargin),
      "gap-based sessionization: lag + running-sum session ids + per-session stats"),

    // ------------------------------------------------------------------
    // q84: stratified deterministic sampling — per-stratum keep rates via
    // the cross-engine md5 hash (q80's split machinery generalised from
    // global to per-group rates: downsample the over-represented language,
    // keep more of the rest). Pure map-side; the 'strat:' salt decorrelates
    // this hash from q80's split assignment.
    GQuery(
      "q84_stratified_sample",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            pmod(TF.md5Hash60(concat(lit("strat:"), col("doc_id").cast("string"))),
              lit(1000L)).as("bucket"))
          .filter(col("bucket") <
            when(col("lang") === "en", 250L).otherwise(600L))
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id, lang,
             |       CAST(('0x'||substr(md5('strat:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000 AS bucket
             |FROM documents
             |WHERE CAST(('0x'||substr(md5('strat:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
             |      < CASE WHEN lang = 'en' THEN 250 ELSE 600 END
             |ORDER BY doc_id ASC""".stripMargin),
      "per-language deterministic hash sampling (rebalance strata, never rand())"),

    // ------------------------------------------------------------------
    // q85: TF-IDF top terms per document, in ONE tokenize pass: tf from
    // explode→agg, then df as count() over a term-partitioned window on
    // tf's (doc,term) rows — at web-corpus scale the vocabulary is
    // billions of terms, so neither a broadcast of df nor a second
    // tokenize pass would survive; the window is one shuffle of the
    // already-aggregated tf rows. Score is tf/df via ONE double
    // division — IEEE division is correctly rounded, so
    // Spark and DuckDB agree bit-for-bit (a log-based idf would be at the
    // mercy of each engine's libm and could not be hash-gated; rankings
    // are identical either way since log(N/df) is monotone in 1/df).
    GQuery(
      "q85_tfidf_topterms",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)
        tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
          .withColumn("score", col("tf").cast("double") / col("df"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"),
            col("tf"), col("df"), col("score"))
          .orderBy(col("doc_id").asc, col("rnk").asc)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (
             |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (
             |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |r AS (
             |  SELECT t.doc_id, t.term, t.tf, f.df,
             |         CAST(t.tf AS DOUBLE) / f.df AS score,
             |         CAST(row_number() OVER (PARTITION BY t.doc_id
             |           ORDER BY CAST(t.tf AS DOUBLE) / f.df DESC, t.term ASC) AS INT) AS rnk
             |  FROM tf t JOIN dfreq f USING (term))
             |SELECT doc_id, rnk, term, tf, df, score
             |FROM r WHERE rnk <= 3
             |ORDER BY doc_id ASC, rnk ASC""".stripMargin),
      "TF-IDF top-3 terms per doc (broadcast doc-freq, division-only score)"),

    // ------------------------------------------------------------------
    // q86: token packing — concat-and-chunk sequence assignment for LLM
    // training: a running token total in doc_id order maps every document
    // to its first/last 2048-token training sequence. The running total is
    // Packing.prefixSum's two-level shape, NOT a global one-partition
    // window (see Packing.scala), so the corpus-sized stages stay parallel;
    // the oracle uses the naive global window, proving the distributed
    // prefix sum exactly equals it.
    GQuery(
      "q86_token_packing",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("n_tok"))
        Packing.prefixSum(docs, "doc_id", "n_tok", bucketWidth = 128L)
          .select(col("doc_id"), col("n_tok"), col("cum"),
            floor((col("cum") - col("n_tok")) / 2048.0).as("bin_first"),
            floor((col("cum") - 1) / 2048.0).as("bin_last"))
          .withColumn("n_bins", col("bin_last") - col("bin_first") + 1)
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n_tok,
             |         CAST(SUM(n_tok) OVER (ORDER BY doc_id ASC
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM t)
             |SELECT doc_id, n_tok, cum,
             |       CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin_first,
             |       CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS bin_last,
             |       CAST(floor((cum - 1) / 2048.0) - floor((cum - n_tok) / 2048.0) + 1 AS BIGINT) AS n_bins
             |FROM c ORDER BY doc_id ASC""".stripMargin),
      "token packing: distributed prefix sum == naive global window (oracle-proven)"),

    // ------------------------------------------------------------------
    // q87: heavy hitters via the Misra–Gries sketch — one mergeable
    // aggregate pass (map-side partials, k-counter merge) instead of a
    // full-vocabulary shuffle. k=512 exceeds the corpus vocabulary at
    // every rotated SF (31 words in the fixtures; ~310 at sf1, where
    // GenScale's alternate-token suffixing multiplies the vocab by the
    // replica count — k=64 fell into the lossy regime there and broke
    // the est=cnt pin, found in the r7 sf1 rotation), so the sketch
    // estimates are provably EXACT and the oracle pins est = cnt; the
    // lossy k<distinct regime is covered by MisraGriesSpec. n_tok/513.0
    // is the sketch's N/(k+1) error bound.
    GQuery(
      "q87_heavy_hitters",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(explode(TF.tokens(col("text"))).as("term"))
        val sk = tok.agg(MisraGriesAggregate(col("term"), 512).as("sketch"),
          count(lit(1)).as("n_tok"))
        tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(10)
          .crossJoin(broadcast(sk))
          .select(col("term"), col("cnt"),
            try_element_at(col("sketch"), col("term")).as("est"),
            col("n_tok"))
          .select(col("term"), col("cnt"), col("est"),
            col("est").isNotNull.as("present"),
            (col("est").isNotNull && col("est") <= col("cnt") &&
              (col("cnt") - col("est")).cast("double") <=
                col("n_tok").cast("double") / 513.0).as("err_ok"))
          .orderBy(col("cnt").desc, col("term").asc)
      },
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
             |exact AS (
             |  SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1
             |  ORDER BY cnt DESC, term ASC LIMIT 10)
             |SELECT term, cnt, cnt AS est, TRUE AS present, TRUE AS err_ok
             |FROM exact ORDER BY cnt DESC, term ASC""".stripMargin),
      "Misra-Gries heavy hitters: k >= vocab makes the sketch exact (oracle-pinned)"),

    // ------------------------------------------------------------------
    // q88: funnel analysis — first view → first later click → first later
    // purchase per user. Each stage is a groupBy(user_id) aggregate joined
    // back on user_id. Stage outputs are |users|-sized, not |events|-sized,
    // and each is consumed twice (next stage + final join): both reads
    // share the stage's exchange (ReusedExchange in the plan), so no stage
    // is materialized and no job runs before the write.
    GQuery(
      "q88_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        val c = ev.filter(col("event_type") === "click").as("e")
          .join(v.as("v"),
            col("e.user_id") === col("v.user_id") && col("e.ts") > col("v.t_view"))
          .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t_click"))
        val p = ev.filter(col("event_type") === "purchase").as("e")
          .join(c.as("c"),
            col("e.user_id") === col("c.user_id") && col("e.ts") > col("c.t_click"))
          .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t_purchase"))
        v.join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select(col("user_id"),
            epochSec(col("t_view")).as("t_view_sec"),
            col("t_click").isNotNull.as("reached_click"),
            col("t_purchase").isNotNull.as("reached_purchase"),
            (epochSec(col("t_purchase")) - epochSec(col("t_view"))).as("secs_to_purchase"))
          .orderBy(col("user_id").asc)
      },
      Some("""WITH v AS (
             |  SELECT user_id, MIN(ts) AS t_view FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
             |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
             |  WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
             |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
             |  WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT v.user_id,
             |       CAST(floor(epoch(v.t_view)) AS BIGINT) AS t_view_sec,
             |       c.user_id IS NOT NULL AS reached_click,
             |       p.user_id IS NOT NULL AS reached_purchase,
             |       CAST(floor(epoch(p.t_purchase)) - floor(epoch(v.t_view)) AS BIGINT) AS secs_to_purchase
             |FROM v LEFT JOIN c ON v.user_id = c.user_id
             |       LEFT JOIN p ON v.user_id = p.user_id
             |ORDER BY v.user_id ASC""".stripMargin),
      "view->click->purchase funnel: per-user stage times + conversion flags"),

    // ------------------------------------------------------------------
    // q89: text source/sink round-trip (completes the §2.1 file-format
    // family: parquet/CSV/JSON/ORC/text). One doc per line, tab-separated
    // id — safe because the corpus is single-space word text. The strict
    // element_at (not try_element_at) makes a malformed line FAIL the
    // query rather than silently dropping into a null-ignoring sum; the
    // decimal content signature (sum of 60-bit md5 hashes — 19-digit
    // values, so a long sum could overflow but DECIMAL(29,0) cannot)
    // proves byte-level content fidelity, not just row counts.
    GQuery(
      "q89_text_roundtrip",
      (s, d) => {
        val tmp = Graft.scratch("text")
        Tables.documents(s, d)
          .select(concat_ws("\t", col("doc_id").cast("string"), col("text")).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(split(col("value"), "\t", 2).as("p"))
          .select(element_at(col("p"), 1).cast("long").as("doc_id"),
            element_at(col("p"), 2).as("text"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_ids"),
            sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"),
            // 21-digit exact sum exceeds double precision → leave the
            // boundary as STRING on both engines (OutputPolicy); scale-0
            // decimal stringifies as bare digits identically cross-engine
            sum(TF.md5Hash60(col("text")).cast(DecimalType(19, 0)))
              .cast("string").as("content_sig"))
      },
      Some("""SELECT COUNT(*) AS n_docs,
             |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             |       CAST(CAST(SUM(CAST(CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS DECIMAL(19,0))) AS DECIMAL(29,0)) AS VARCHAR) AS content_sig
             |FROM documents""".stripMargin),
      "text sink + source round-trip: content-hash signature == original corpus"),

    // ------------------------------------------------------------------
    // q90: equi-width histogram — one aggregation pass with a computed
    // bucket key (no per-bucket filters, no second scan for data-dependent
    // bounds). DuckDB 1.0 has no width_bucket, so both sides use the same
    // explicit floor(x / width) capped at the last bucket: double divide
    // and floor are IEEE-correctly-rounded, hence bit-identical
    // cross-engine.
    GQuery(
      "q90_histogram",
      (s, d) => {
        Tables.orders(s, d)
          .select(least(floor(col("o_totalprice") / 25000.0), lit(19L)).as("bucket"),
            col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("sum_price"))
          .orderBy(col("bucket").asc)
      },
      Some("""SELECT LEAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 19) AS bucket,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1 ORDER BY bucket ASC""".stripMargin),
      "equi-width histogram: computed bucket key, single aggregation pass"),

    // ------------------------------------------------------------------
    // q91: within-document repetition ratio — the standard boilerplate /
    // degenerate-text quality filter (1 - distinct/total 3-grams). Pure
    // map-side row-local work, no shuffle except the output sort. The
    // score is one division and one subtraction, both IEEE-correctly-
    // rounded, so the flag threshold compares identically cross-engine.
    GQuery(
      "q91_repetition_ratio",
      (s, d) => {
        Tables.documents(s, d)
          .filter(size(TF.tokens(col("text"))) >= 3)
          .select(col("doc_id"),
            (size(TF.tokens(col("text"))) - 2).cast("long").as("n_ngrams"),
            size(TF.wordShingles(col("text"), 3)).cast("long").as("n_distinct"))
          .withColumn("rep_ratio",
            lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))
          .withColumn("flag_repetitive", col("rep_ratio") > 0.2)
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(len(ws) - 2 AS BIGINT) AS n_ngrams,
             |         CAST(len(list_distinct(list_transform(range(1, len(ws) - 1),
             |           i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))) AS BIGINT) AS n_distinct
             |  FROM t WHERE len(ws) >= 3)
             |SELECT doc_id, n_ngrams, n_distinct,
             |       1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams AS rep_ratio,
             |       (1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams) > 0.2 AS flag_repetitive
             |FROM g ORDER BY doc_id ASC""".stripMargin),
      "within-doc 3-gram repetition ratio: map-side quality filter"),

    // ------------------------------------------------------------------
    // q92: incremental dedup — the daily-ingest shape: drop new-batch docs
    // whose fingerprint already exists in the corpus. One anti-join
    // shuffled on the fingerprint (the corpus side is the big one — never
    // broadcast it; at 100 TB the fingerprint index is exactly what you'd
    // persist bucketed on fp to make this a zero-shuffle daily job). The
    // 8-token prefix fingerprint is deliberately weaker than full-text
    // md5 so the fixture's near-dup groups (shared 200-char prefixes)
    // actually collide across the corpus/new split.
    GQuery(
      "q92_incremental_dedup",
      (s, d) => {
        val withFp = Tables.documents(s, d)
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(TF.tokens(col("text")), 1, 8))).as("fp"),
            substring(col("source"), 4, 10).cast("int").as("src_no"))
        val corpus = withFp.filter(col("src_no") < 10).select(col("fp"))
        withFp.filter(col("src_no") >= 10)
          .join(corpus, Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
             |         CAST(substr(source, 4) AS INT) AS src_no
             |  FROM documents)
             |SELECT n.doc_id, n.fp FROM d n
             |WHERE n.src_no >= 10
             |  AND NOT EXISTS (SELECT 1 FROM d c WHERE c.src_no < 10 AND c.fp = n.fp)
             |ORDER BY doc_id ASC""".stripMargin),
      "incremental dedup: anti-join new batch vs corpus fingerprint index"),

    // ------------------------------------------------------------------
    // q93: ignore-nulls window navigation + ntile — the remaining §2.5
    // window-function semantics: lag(... IGNORE NULLS) (last prior
    // non-null), a running last_value(... IGNORE NULLS) frame (the
    // gap-fill primitive behind q64's forward fill), and ntile bucketing.
    // Nulls are constructed via CASE (the fixtures have none); values pass
    // through un-arithmetic'd, so doubles stay bit-identical.
    GQuery(
      "q93_window_ignore_nulls",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("sec"),
            col("ts"),
            when(col("event_type") =!= "error", col("value")).as("v"))
          .select(col("user_id"), col("event_id"), col("sec"),
            lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"),
            last(col("v"), ignoreNulls = true).over(wRun).as("run_v"),
            ntile(4).over(w).as("tile"))
          .orderBy(col("user_id").asc, col("sec").asc, col("event_id").asc)
      },
      Some("""SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             |       lag(v IGNORE NULLS) OVER w AS prev_v,
             |       last_value(v IGNORE NULLS) OVER
             |         (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_v,
             |       CAST(ntile(4) OVER w AS INT) AS tile
             |FROM (SELECT user_id, event_id, ts,
             |             CASE WHEN event_type <> 'error' THEN value END AS v
             |      FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
             |ORDER BY user_id ASC, sec ASC, event_id ASC""".stripMargin),
      "ignore-nulls lag / running last_value / ntile (§2.5 completeness)"),

    // ------------------------------------------------------------------
    // q94: overlapping token chunking — the RAG / embedding-prep shape:
    // split each document into 50-token windows with stride 25. Chunks
    // are produced by a generator (explode over a computed index range) so
    // the work is row-local and the optimizer cannot re-inline the token
    // array per chunk; emitting the md5 of each chunk (not the text)
    // keeps the gate content-exact without megabyte rows.
    GQuery(
      "q94_token_chunks",
      (s, d) => {
        val width = 50
        val stride = 25
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TF.tokens(col("text")).as("ws"))
          .withColumn("n_tok", size(col("ws")))
        // chunk starts: 0, 25, 50, ... — last chunk may be short; a doc
        // shorter than one stride still yields exactly one chunk
        docs
          .select(col("doc_id"), col("ws"), col("n_tok"),
            // floor((n_tok-1)/25) = last chunk index (n_tok >= 1 always);
            // Column./ is double division, so floor+cast back to int
            explode(sequence(lit(0),
              floor(greatest(col("n_tok") - 1, lit(0)) / (stride * 1.0)).cast("int"))).as("ci"))
          .filter(col("ci") * stride < col("n_tok"))
          .select(col("doc_id"), col("ci").cast("int").as("chunk_idx"),
            slice(col("ws"), col("ci") * stride + 1, lit(width)).as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("chunk_tokens"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
          .orderBy(col("doc_id").asc, col("chunk_idx").asc)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws,
             |         len(string_split(text, ' ')) AS n_tok
             |  FROM documents),
             |e AS (
             |  SELECT doc_id, ws, n_tok,
             |         unnest(range(0, CAST(ceil(n_tok / 25.0) AS BIGINT))) AS ci
             |  FROM t),
             |c AS (
             |  SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
             |         ws[ci*25 + 1 : least(ci*25 + 50, n_tok)] AS chunk
             |  FROM e WHERE ci * 25 < n_tok)
             |SELECT doc_id, chunk_idx,
             |       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
             |       md5(array_to_string(chunk, ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin),
      "overlapping token chunking (width 50, stride 25): RAG/embedding prep"),

    // ------------------------------------------------------------------
    // q95: edit-distance verification of fuzzy-dedup candidates — the
    // character-level complement to token-level Jaccard (q38): block on
    // the 8-token prefix fingerprint (never all-pairs; a boilerplate-heavy
    // corpus would need the MinHash-style hot-bucket cap on this key
    // too), then exact Levenshtein inside blocks only. levenshtein is an
    // integer metric with identical semantics in both engines, so the
    // gate is hash-exact; the normalized similarity is one division off
    // integers (IEEE-exact cross-engine).
    GQuery(
      "q95_edit_distance",
      (s, d) => {
        val withFp = Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            md5(concat_ws(" ", slice(TF.tokens(col("text")), 1, 8))).as("fp"))
        val a = withFp.select(col("fp"), col("doc_id").as("id_a"), col("text").as("ta"))
        val b = withFp.select(col("fp"), col("doc_id").as("id_b"), col("text").as("tb"))
        a.join(b, "fp").filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
            length(col("ta")).cast("long").as("len_a"),
            length(col("tb")).cast("long").as("len_b"))
          .withColumn("edit_sim",
            lit(1.0) - col("edit_dist").cast("double") /
              greatest(col("len_a"), col("len_b")))
          .orderBy(col("id_a").asc, col("id_b").asc)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
             |       CAST(length(a.text) AS BIGINT) AS len_a,
             |       CAST(length(b.text) AS BIGINT) AS len_b,
             |       1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
             |             greatest(length(a.text), length(b.text)) AS edit_sim
             |FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "blocked Levenshtein verification: char-level fuzzy-dedup metric, hash-exact"),

    // ------------------------------------------------------------------
    // q96: BPE-ish tokenization estimate — the regex-pretokenizer
    // complement to q42's whitespace counts: GPT-2-style pretokens
    // (letter runs | digit runs | punctuation singles) plus a subword
    // estimate of ceil(len/4) per pretoken (the ~4-chars-per-BPE-token
    // heuristic). The character classes behave identically in Java regex
    // and RE2; all arithmetic is integer. Map-side row-local.
    GQuery(
      "q96_bpeish_tokens",
      (s, d) => {
        val toks = regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_pretokens"),
            aggregate(transform(toks, t => ceil(length(t) / 4.0)),
              lit(0L), (a, x) => a + x).as("n_subwords_est"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_pretokens,
             |       CAST(COALESCE(list_sum(list_transform(
             |         regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'),
             |         t -> CAST(ceil(length(t)/4.0) AS BIGINT))), 0) AS BIGINT) AS n_subwords_est
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "BPE-ish pretokenizer counts + ceil(len/4) subword estimate"),

    // ------------------------------------------------------------------
    // q144: Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
    // — the bounded-memory frequency estimator next to Misra-Gries (q87):
    // d=4 rows × w=256 cells of counters, est(x) = min over rows of the
    // cell x hashes into; never undercounts, overcounts by colliding
    // mass. Built RELATIONALLY in two phases, the 100 TB spelling:
    // (1) exact per-token counts (one map-side-combinable shuffle over
    // occurrences), (2) the sketch as a groupBy over (row, cell) of the
    // DISTINCT-token relation weighted by count — identical cells to
    // sketching raw occurrences at a fraction of the shuffle. The whole
    // sketch is 1024 rows regardless of corpus size — the artifact a
    // planner ships to executors as a broadcast frequency oracle. Hashes
    // are md5-derived 60-bit (TF.md5Hash60), bit-identical in DuckDB via
    // '0x'||substr(md5(...)), so sketch cells, estimates, AND the
    // no-undercount invariant all gate exactly. Probes: the top-20 tokens
    // (ties broken lexically — deterministic in both engines).
    GQuery(
      "q144_countmin_sketch",
      (s, d) => {
        val depth = 4
        val width = 256L
        def cell(tok: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
          pmod(TF.md5Hash60(concat(tok, lit("#"), r.cast("string"))), lit(width))
        val counts = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(explode(TF.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
        val rs = explode(array((0 until depth).map(lit(_)): _*)).as("r")
        val sketch = counts.select(rs, col("tok"), col("true_cnt"))
          .select(col("r"), cell(col("tok"), col("r")).as("cell"), col("true_cnt"))
          .groupBy(col("r"), col("cell")).agg(sum(col("true_cnt")).as("cnt"))
        val probes = counts.orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
        probes.select(rs, col("tok"), col("true_cnt"))
          .select(col("tok"), col("true_cnt"), col("r"),
            cell(col("tok"), col("r")).as("cell"))
          .join(sketch, Seq("r", "cell"))
          .groupBy(col("tok"), col("true_cnt"))
          .agg(min(col("cnt")).as("cm_est"))
          .select(col("tok"), col("true_cnt"), col("cm_est"),
            (col("cm_est") >= col("true_cnt")).as("no_undercount"))
          .orderBy(col("tok").asc)
      },
      Some("""WITH counts AS (
             |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok),
             |rs AS (SELECT 0 AS r UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3),
             |sketch AS (
             |  SELECT rs.r,
             |         CAST(('0x'||substr(md5(c.tok||'#'||rs.r),1,15)) AS BIGINT) % 256 AS cell,
             |         CAST(SUM(c.true_cnt) AS BIGINT) AS cnt
             |  FROM counts c CROSS JOIN rs GROUP BY 1, 2),
             |probes AS (
             |  SELECT tok, true_cnt FROM counts
             |  ORDER BY true_cnt DESC, tok ASC LIMIT 20)
             |SELECT p.tok, p.true_cnt, MIN(s.cnt) AS cm_est,
             |       MIN(s.cnt) >= p.true_cnt AS no_undercount
             |FROM probes p CROSS JOIN rs
             |JOIN sketch s
             |  ON s.r = rs.r
             | AND s.cell = CAST(('0x'||substr(md5(p.tok||'#'||rs.r),1,15)) AS BIGINT) % 256
             |GROUP BY p.tok, p.true_cnt
             |ORDER BY tok ASC""".stripMargin),
      "Count-Min sketch: 1024-cell frequency oracle, exact cross-engine cells"),
  )
}
