package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{GQuery, Graft}
import graft.sources.Tables
import graft.functions.{Bpe, TextFunctions => TF}
import graft.sql.GraftSql

/** Round-4 additions past the VERDICT list: membership/cardinality sketches
  * (Bloom, KMV bottom-k) completing the sketch family (q06 HLL, q69 GK,
  * q87 Misra-Gries, q144 Count-Min), fixed-point BM25 retrieval, and the
  * SQL front-end gate (the reference's last unchecked roadmap item).
  *
  * Sketch gates here follow q144's discipline: md5-derived hashes are
  * bit-identical in DuckDB, so the sketch ARTIFACT itself (not just a
  * behavioural invariant) is compared exactly across engines.
  */
object RetrievalQueries {

  /** 60-bit md5 hash as DuckDB SQL, mirroring [[TF.md5Hash60]]. */
  private def duckHash(expr: String): String =
    s"CAST(('0x'||substr(md5($expr),1,15)) AS BIGINT)"

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q146: Bloom filter (Bloom, CACM 1970) — the membership sketch next
    // to the frequency sketches (q87/q144) and cardinality sketches
    // (q06/q70, q147): m=1024 bits, k=4 hashes, built RELATIONALLY as a
    // groupBy-bit_or over the DISTINCT-token relation — one shuffle of
    // ≤4·|vocab| tiny rows, and the artifact is ≤32 words regardless of
    // corpus size (the broadcastable membership oracle a planner ships to
    // executors to pre-filter a semi join — Spark's own runtime
    // InSubqueryExec/bloom pushdown does exactly this shape). Bits live
    // in 32 words × 32 bits so no engine touches the BIGINT sign bit
    // (DuckDB's `<<` hard-errors on 1<<63). Probes: the top-20 corpus
    // tokens must ALL hit (no false negatives — the Bloom guarantee), and
    // 50 synthetic non-members measure the false-positive count; both
    // scalars and all 32 filter words gate exactly cross-engine.
    GQuery(
      "q146_bloom_filter",
      (s, d) => {
        val m = 1024L // bits
        val depth = 4
        def bitIdx(tok: Column, r: Column): Column =
          pmod(TF.md5Hash60(concat(tok, lit("#b"), r.cast("string"))), lit(m))
        val rs = explode(array((0 until depth).map(lit(_)): _*)).as("r")
        val counts = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(explode(TF.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val cells = counts.select(col("tok")).select(col("tok"), rs)
          .select(col("tok"), bitIdx(col("tok"), col("r")).as("idx"))
          .select((col("idx") / 32).cast("long").as("word_id"),
            expr("shiftleft(1L, CAST(idx % 32 AS INT))").as("contrib"))
        val words = cells.groupBy(col("word_id"))
          .agg(expr("bit_or(contrib)").as("word_val"))
        // dense 0..31 spine so unset words appear as explicit zeros
        val spine = s.range(32).select(col("id").as("word_id"))
        val filterWords = spine.join(words, Seq("word_id"), "left")
          .select(col("word_id"), coalesce(col("word_val"), lit(0L)).as("word_val"))
        def probe(probes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          probes.select(col("tok"), rs)
            .select(col("tok"), bitIdx(col("tok"), col("r")).as("idx"))
            .select(col("tok"), (col("idx") / 32).cast("long").as("word_id"),
              (col("idx") % 32).cast("int").as("bit"))
            .join(broadcast(filterWords), Seq("word_id"))
            .groupBy(col("tok"))
            .agg(min(expr("shiftright(word_val, bit) & 1L")).as("all_set"))
        val members = counts.orderBy(col("cnt").desc, col("tok").asc).limit(20)
          .select(col("tok"))
        val nonMembers = s.range(50)
          .select(concat(lit("absent#"), col("id").cast("string")).as("tok"))
        val memberHits = probe(members)
          .agg(sum(col("all_set")).as("n_member_hits"))
        val fp = probe(nonMembers)
          .agg(sum(col("all_set")).as("n_nonmember_fp"))
        filterWords
          .crossJoin(broadcast(memberHits)) // 1-row side
          .crossJoin(broadcast(fp)) // 1-row side
          .orderBy(col("word_id").asc)
      },
      Some(s"""WITH toks AS (
             |  SELECT tok, COUNT(*) AS cnt
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok),
             |rs AS (SELECT unnest(range(4)) AS r),
             |cells AS (
             |  SELECT ${duckHash("t.tok||'#b'||rs.r")} % 1024 AS idx
             |  FROM toks t CROSS JOIN rs),
             |words AS (
             |  SELECT idx // 32 AS word_id,
             |         bit_or(1::BIGINT << CAST(idx % 32 AS INTEGER)) AS word_val
             |  FROM cells GROUP BY 1),
             |filter_words AS (
             |  SELECT s.word_id, COALESCE(w.word_val, 0) AS word_val
             |  FROM (SELECT unnest(range(32)) AS word_id) s
             |  LEFT JOIN words w USING (word_id)),
             |member_probe AS (
             |  SELECT p.tok,
             |         MIN((fw.word_val >> CAST(c.idx % 32 AS INTEGER)) & 1) AS all_set
             |  FROM (SELECT tok FROM toks ORDER BY cnt DESC, tok ASC LIMIT 20) p
             |  CROSS JOIN rs
             |  JOIN LATERAL (SELECT ${duckHash("p.tok||'#b'||rs.r")} % 1024 AS idx) c ON true
             |  JOIN filter_words fw ON fw.word_id = c.idx // 32
             |  GROUP BY p.tok),
             |nonmember_probe AS (
             |  SELECT p.tok,
             |         MIN((fw.word_val >> CAST(c.idx % 32 AS INTEGER)) & 1) AS all_set
             |  FROM (SELECT 'absent#'||unnest(range(50)) AS tok) p
             |  CROSS JOIN rs
             |  JOIN LATERAL (SELECT ${duckHash("p.tok||'#b'||rs.r")} % 1024 AS idx) c ON true
             |  JOIN filter_words fw ON fw.word_id = c.idx // 32
             |  GROUP BY p.tok)
             |SELECT fw.word_id, fw.word_val,
             |       CAST((SELECT SUM(all_set) FROM member_probe) AS BIGINT) AS n_member_hits,
             |       CAST((SELECT SUM(all_set) FROM nonmember_probe) AS BIGINT) AS n_nonmember_fp
             |FROM filter_words fw
             |ORDER BY fw.word_id ASC""".stripMargin),
      "Bloom filter: 1024-bit membership sketch, exact cross-engine words + probes"),

    // ------------------------------------------------------------------
    // q147: KMV / bottom-k sketch (Bar-Yossef et al., RANDOM 2002) — ONE
    // artifact that is simultaneously (a) a deterministic uniform sample
    // of the keyspace (hash order is sampling order — reservoir sampling
    // without randomness, reproducible across runs AND engines) and
    // (b) a distinct-count estimator: est = (k−1)·2⁶⁰ div h_k from the
    // k-th smallest 60-bit hash. The 100 TB spelling is Spark's own
    // TakeOrderedAndProject: per-partition bounded heap of k, merged at
    // the driver — no global sort, no full shuffle; the artifact is k
    // rows at any scale. All integer math (decimal div → floor on
    // positives in both engines), so sample, h_k, and the estimate gate
    // exactly; true distinct count rides along for the error story.
    GQuery(
      "q147_bottomk_sample",
      (s, d) => {
        val k = 64
        val vals = Tables.orders(s, d).select(col("o_custkey")).distinct()
        val hashed = vals.select(col("o_custkey"),
          TF.md5Hash60(concat(lit("ck#"), col("o_custkey").cast("string"))).as("h"))
        // TakeOrderedAndProject: per-partition heap of k, merge — never a
        // global sort. The window below runs over the k survivors only.
        val bot = hashed.orderBy(col("h").asc, col("o_custkey").asc).limit(k)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("h").asc, col("o_custkey").asc)).cast("long"))
        // under-filled sketch (fewer than k distinct keys): the k-th-hash
        // formula does not apply — the sketch holds the WHOLE keyspace and
        // reports the exact count instead
        val est = bot.agg(max(col("h")).as("hk"), count(lit(1)).as("nbot"))
          .select((lit(k - 1).cast(DecimalType(38, 0)) *
            lit(1152921504606846976L).cast(DecimalType(38, 0)))
            .as("num"), col("hk"), col("nbot"))
          .select(when(col("nbot") < k, col("nbot"))
            .otherwise(expr("CAST(num div hk AS BIGINT)")).as("est_distinct"))
        val truth = vals.agg(count(lit(1)).as("true_distinct"))
        bot.select(col("rank"), col("o_custkey").as("sample_key"), col("h"))
          .crossJoin(broadcast(est)) // 1-row side
          .crossJoin(broadcast(truth)) // 1-row side
          .orderBy(col("rank").asc)
      },
      Some(s"""WITH vals AS (SELECT DISTINCT o_custkey FROM orders),
             |hashed AS (
             |  SELECT o_custkey, ${duckHash("'ck#'||o_custkey")} AS h FROM vals),
             |bot AS (
             |  SELECT o_custkey, h,
             |         row_number() OVER (ORDER BY h ASC, o_custkey ASC) AS rank
             |  FROM hashed ORDER BY h ASC, o_custkey ASC LIMIT 64)
             |SELECT rank, o_custkey AS sample_key, h,
             |       CASE WHEN (SELECT COUNT(*) FROM bot) < 64
             |            THEN (SELECT COUNT(*) FROM bot)
             |            ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT)
             |                      // (SELECT MAX(h) FROM bot) AS BIGINT) END
             |         AS est_distinct,
             |       (SELECT COUNT(*) FROM vals) AS true_distinct
             |FROM bot ORDER BY rank ASC""".stripMargin),
      "KMV bottom-k: deterministic uniform sample + distinct estimate, exact"),

    // ------------------------------------------------------------------
    // q148: BM25 ranked retrieval (Robertson & Zaragoza, FnTIR 2009;
    // Lucene's idf = ln(1 + (N−df+0.5)/(df+0.5)) so weights stay
    // positive) — THE missing piece between TF-IDF scoring (q85) and the
    // embedding retrieval family (q39/q40/q54): lexical top-k search over
    // an inverted-postings shape. Plan: the query set is broadcast into
    // the df relation (tiny), postings (doc,term,tf) join the surviving
    // query terms map-side, doc lengths join on doc_id, and per-query
    // top-10 runs as a rank window per query_id (WindowGroupLimit: a
    // bounded heap per query, never a global sort). At 100 TB the corpus
    // shuffles ONCE to build tf; everything query-side is broadcast.
    // Determinism: per-term weights are floor-quantized to 1e-6 BEFORE
    // the sum, so the aggregate is integer addition (order-free —
    // summing raw doubles in a distributed agg is order-DEPENDENT and
    // non-deterministic run to run); ln/double products are identical
    // IEEE expressions on both engines and the quantizer margin is
    // checked in RetrievalSpec.
    GQuery(
      "q148_bm25_topk",
      (s, d) => {
        import s.implicits._
        val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
          .transform(Graft.checkpoint(eager = false)) // stats + per-doc join share it
        val tf = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
          .transform(Graft.checkpoint(eager = false)) // df + postings share it
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        val dfRel = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val queries = Seq(
          ("ql1", "customer"), ("ql1", "join"),
          ("ql2", "slow"), ("ql2", "merge"),
          ("ql3", "spark"), ("ql3", "window")).toDF("query_id", "tok")
        val qterms = dfRel.join(broadcast(queries), Seq("tok"))
        val idf = log(lit(1.0) +
          (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        // literals spelled EXACTLY as the oracle text spells them — a
        // Scala-side k1+1.0 can round to a different double than the
        // parsed literal 2.2 (the exact sum lands halfway between
        // neighboring doubles)
        val tfnorm = (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * ((col("dl").cast("double") * col("n_docs")) / col("sum_dl"))))
        val termFp = floor(lit(1000000.0) * idf * tfnorm).cast("long")
        val scored = tf.join(broadcast(qterms), Seq("tok"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats)) // 1-row side
          .select(col("query_id"), col("doc_id"), termFp.as("term_fp"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("term_fp")).as("score_fp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score_fp").desc, col("doc_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("doc_id"), col("score_fp"))
          .orderBy(col("query_id").asc, col("rank").asc)
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
             |tf AS (
             |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
             |  GROUP BY doc_id, tok),
             |stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
             |dfrel AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
             |queries(query_id, tok) AS (VALUES
             |  ('ql1','customer'),('ql1','join'),
             |  ('ql2','slow'),('ql2','merge'),
             |  ('ql3','spark'),('ql3','window')),
             |scored AS (
             |  SELECT q.query_id, t.doc_id,
             |         CAST(SUM(CAST(floor(1000000.0 *
             |           ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5)) *
             |           ((t.tf * 2.2) /
             |            (t.tf + 1.2 * (0.25 +
             |              0.75 * ((CAST(l.dl AS DOUBLE) * s.n_docs) / s.sum_dl))))
             |         ) AS BIGINT)) AS BIGINT) AS score_fp
             |  FROM tf t
             |  JOIN queries q ON q.tok = t.tok
             |  JOIN dfrel d ON d.tok = t.tok
             |  JOIN dl l ON l.doc_id = t.doc_id
             |  CROSS JOIN stats s
             |  GROUP BY q.query_id, t.doc_id)
             |SELECT query_id, rank, doc_id, score_fp FROM (
             |  SELECT query_id, doc_id, score_fp,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY score_fp DESC, doc_id ASC) AS rank
             |  FROM scored)
             |WHERE rank <= 10
             |ORDER BY query_id ASC, rank ASC""".stripMargin),
      "BM25 top-10 per query: inverted-postings retrieval, 1e-6 fixed-point"),

    // ------------------------------------------------------------------
    // q149: SQL front-end (reference README.md:33, the last unchecked
    // roadmap item). The gated artifact is a query that enters the engine
    // as TEXT — graft.sql.GraftSql binds the table catalog and Catalyst
    // parses/analyzes/optimizes it into the same physical plan the typed
    // API would produce (broadcast dims, pushed filters, exact-cents
    // money math per the q104/q131 discipline). The oracle is the same
    // ANSI text in DuckDB's dialect — two independent SQL engines parsing
    // equivalent SQL to identical results.
    GQuery(
      "q149_sql_frontend",
      (s, d) => GraftSql.run(s, d,
        """SELECT n.n_name,
          |       COUNT(*) AS n_items,
          |       SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
          |           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
          |         AS revenue_microcents
          |FROM lineitem l
          |JOIN orders o   ON l.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN nation n   ON c.c_nationkey = n.n_nationkey
          |WHERE o.o_orderstatus = 'F'
          |GROUP BY n.n_name
          |HAVING COUNT(*) > 10
          |ORDER BY revenue_microcents DESC, n_name ASC""".stripMargin),
      Some("""SELECT n.n_name,
             |       COUNT(*) AS n_items,
             |       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             |           * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             |         AS revenue_microcents
             |FROM lineitem l
             |JOIN orders o   ON l.l_orderkey = o.o_orderkey
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n   ON c.c_nationkey = n.n_nationkey
             |WHERE o.o_orderstatus = 'F'
             |GROUP BY n.n_name
             |HAVING COUNT(*) > 10
             |ORDER BY revenue_microcents DESC, n_name ASC""".stripMargin),
      "SQL front-end: textual query through Catalyst vs the same text in DuckDB"),

    // ------------------------------------------------------------------
    // q150: BPE merge training (Sennrich et al., ACL 2016) — learn the
    // first 5 byte-pair merges over the corpus word-frequency dictionary.
    // Each round: (1) adjacent-symbol pair counts weighted by word
    // frequency, (2) argmax pair (count desc, pair lexical — deterministic
    // both engines), (3) greedy LEFT-TO-RIGHT non-overlapping replacement
    // (a taken match consumes its second symbol, so the 2nd of two
    // adjacent matches must not fire — the "aaa"→("aa","a") case). The
    // 100 TB story: BPE trains on the DICTIONARY (|vocab| rows), not the
    // corpus — the single corpus-sized shuffle is the word-count agg; each
    // round is one pair-count aggregate over the dictionary's symbol
    // arrays, and the merge list it grows stays on the driver
    // ([[Bpe.train]]). The oracle replays the 5 rounds as stacked window
    // CTEs (lead, island detection, renumbering) — merges AND their
    // counts gate exactly.
    GQuery(
      "q150_bpe_merges",
      (s, d) => {
        Bpe.train(RetrievalQueries.bpeWords(s, d), 5).merges // in round order
      },
      Some {
        val out = (1 to 5)
          .map(r => s"SELECT CAST($r AS BIGINT) AS round, a, b, c FROM best$r")
          .mkString("\nUNION ALL\n")
        s"""${Bpe.oracle.withPrefix(5)}
           |$out
           |ORDER BY round ASC""".stripMargin
      },
      "BPE trainer: 5 merge rounds over the word-frequency dict, merge list on the driver"),

    // ------------------------------------------------------------------
    // q156: BPE ENCODING with the q150-trained merges — the apply half of
    // the tokenizer pair. BPE merges are word-internal, so encoding the
    // corpus reduces to encoding the DICTIONARY (each word type once) and
    // weighting by word frequency: per-word subword counts after the 5
    // merges, plus the corpus totals Σ cnt·|syms(word)| vs Σ cnt·len(word)
    // — the compression the learned merges actually buy. The oracle
    // replays training through syms5 (same shared template as q150) and
    // aggregates identically; gates exactly.
    GQuery(
      "q156_bpe_encode",
      (s, d) => {
        val words = RetrievalQueries.bpeWords(s, d)
        val trained = Bpe.train(words, 5)
        val perWord = trained.syms.groupBy(col("word"))
          .agg(count(lit(1)).as("n_syms"))
          .join(words, Seq("word"))
          .select(col("word"), col("n_syms"), col("cnt"),
            length(col("word")).cast("long").as("n_chars"))
        val totals = perWord.agg(
          sum(col("cnt") * col("n_syms")).as("total_subwords"),
          sum(col("cnt") * col("n_chars")).as("total_chars"))
        perWord.crossJoin(broadcast(totals)) // 1-row side
          .orderBy(col("word").asc)
      },
      Some {
        s"""${Bpe.oracle.withPrefix(5)},
           |per_word AS (
           |  SELECT w.word, CAST(COUNT(*) AS BIGINT) AS n_syms, w.cnt,
           |         CAST(len(w.word) AS BIGINT) AS n_chars
           |  FROM syms5 s JOIN words w USING (word)
           |  GROUP BY w.word, w.cnt)
           |SELECT word, n_syms, cnt, n_chars,
           |       CAST((SELECT SUM(cnt * n_syms) FROM per_word) AS BIGINT)
           |         AS total_subwords,
           |       CAST((SELECT SUM(cnt * n_chars) FROM per_word) AS BIGINT)
           |         AS total_chars
           |FROM per_word ORDER BY word ASC""".stripMargin
      },
      "BPE encode: per-word subword counts + corpus compression totals"),

    // ------------------------------------------------------------------
    // q197: join-SIZE estimation via Count-Min inner product (Cormode &
    // Muthukrishnan, J. Algorithms 2005 §4.2 — the CBO statistic q144's
    // point-query sketch composes into): |A ⋈ B| on a key is estimated as
    // min over rows r of Σ_cell cmsA(r,cell)·cmsB(r,cell); like the point
    // estimate it NEVER undercounts (colliding mass only adds), so a
    // planner probing "is this join safe to broadcast / how many shuffle
    // partitions" gets a one-sided bound from two ≤4×16384-cell artifacts
    // WITHOUT running the join. Width rule: the collision floor is
    // (Σ cntA)(Σ cntB)/w, so w is sized to put that floor BELOW the true
    // join size at the target scale (here 60k·3k/16384 ≈ 11k ≈ the true
    // 11.8k — the estimate lands ~2×, a usable bound; at 512 the floor
    // was 30× the truth and the bound was vacuous). Everything
    // md5-deterministic → the oracle reproduces sketch cells, dot
    // products, est AND the invariant exactly. 100 TB: each sketch build
    // is one map-side-combinable shuffle of its own side; the estimate
    // joins sketch artifacts — broadcastable statistics, not data.
    GQuery(
      "q197_join_size_cms",
      (s, d) => {
        val depth = 4
        val width = 16384L
        def cell(key: Column, r: Column): Column =
          pmod(TF.md5Hash60(concat(lit("js#"), key.cast("string"),
            lit("#"), r.cast("string"))), lit(width))
        val rs = explode(array((0 until depth).map(lit(_)): _*)).as("r")
        def cms(counts: DataFrame, cntName: String): DataFrame = counts
          .select(rs, col("key"), col("cnt"))
          .select(col("r"), cell(col("key"), col("r")).as("cell"), col("cnt"))
          .groupBy(col("r"), col("cell")).agg(sum(col("cnt")).as(cntName))
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
        val aCms = cms(Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("cnt")), "cnt_a")
        val bCms = cms(urgent
          .groupBy(col("o_orderkey").as("key")).agg(count(lit(1)).as("cnt")), "cnt_b")
        val est = aCms.join(bCms, Seq("r", "cell"))
          .groupBy(col("r")).agg(sum(col("cnt_a") * col("cnt_b")).as("dot"))
          .agg(min(col("dot")).as("est_join_size"))
        val truth = Tables.lineitem(s, d)
          .join(urgent, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("true_join_size"))
        est.crossJoin(broadcast(truth)) // 1-row side
          .select(col("est_join_size"), col("true_join_size"),
            (col("est_join_size") >= col("true_join_size")).as("no_undercount"))
          .orderBy(col("est_join_size").asc)
      },
      Some(s"""WITH ac AS (
             |  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM lineitem GROUP BY 1),
             |bc AS (
             |  SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
             |rs AS (SELECT 0 AS r UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3),
             |acell AS (
             |  SELECT rs.r, ${duckHash("'js#'||ac.key||'#'||rs.r")} % 16384 AS cell,
             |         CAST(SUM(ac.cnt) AS BIGINT) AS cnt_a
             |  FROM ac CROSS JOIN rs GROUP BY 1, 2),
             |bcell AS (
             |  SELECT rs.r, ${duckHash("'js#'||bc.key||'#'||rs.r")} % 16384 AS cell,
             |         CAST(SUM(bc.cnt) AS BIGINT) AS cnt_b
             |  FROM bc CROSS JOIN rs GROUP BY 1, 2),
             |dots AS (
             |  SELECT a.r, CAST(SUM(a.cnt_a * b.cnt_b) AS BIGINT) AS dot
             |  FROM acell a JOIN bcell b ON a.r = b.r AND a.cell = b.cell
             |  GROUP BY 1),
             |est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots),
             |tr AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS true_join_size
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE o_orderpriority = '1-URGENT')
             |SELECT est_join_size, true_join_size,
             |       est_join_size >= true_join_size AS no_undercount
             |FROM est CROSS JOIN tr ORDER BY est_join_size ASC""".stripMargin),
      "CMS inner-product join-size estimate: one-sided bound, exact cross-engine"),

    // ------------------------------------------------------------------
    // q198: set-intersection cardinality from MERGED KMV sketches
    // (Beyer et al., SIGMOD 2007 — the composition that makes q147's
    // bottom-k MERGEABLE, the property HLL/KMV exist for): two key sets
    // never co-shuffled; each contributes membership flags, the union's
    // bottom-64 (by the shared md5 order) is the combined sketch,
    // est(∩) = (|both flags in sketch| · est(∪)) / k. Under-filled
    // sketch (union < k) degrades to EXACT counts — the estimator never
    // does worse than enumeration on small inputs. All integer md5 math
    // → the oracle reproduces the sketch, both estimates, and the truth
    // bit-for-bit. 100 TB: per-set work is a distinct-shuffle of ITS OWN
    // side; the merge touches 64 rows — audience-overlap / join-key
    // overlap analytics from broadcastable artifacts.
    GQuery(
      "q198_kmv_intersection",
      (s, d) => {
        val k = 64
        val flags = Tables.orders(s, d)
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .groupBy(col("o_custkey"))
          .agg(
            max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("in_a"),
            max(when(col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("in_b"))
        val hashed = flags.select(col("o_custkey"), col("in_a"), col("in_b"),
          TF.md5Hash60(concat(lit("ku#"), col("o_custkey").cast("string"))).as("h"))
        // TakeOrderedAndProject: per-partition heap of k, no global sort
        val bot = hashed.orderBy(col("h").asc, col("o_custkey").asc).limit(k)
        val agg1 = bot.agg(max(col("h")).as("hk"), count(lit(1)).as("nbot"),
          sum(col("in_a") * col("in_b")).as("n_both"))
        val est = agg1
          .select(col("hk"), col("nbot"), col("n_both"),
            (lit(k - 1).cast(DecimalType(38, 0)) *
              lit(1152921504606846976L).cast(DecimalType(38, 0))).as("num"))
          .select(col("nbot"), col("n_both"),
            when(col("nbot") < k, col("nbot"))
              .otherwise(expr("CAST(num div hk AS BIGINT)")).as("est_union"))
          .select(col("n_both"), col("est_union"),
            when(col("nbot") < k, col("n_both"))
              .otherwise(expr(
                s"CAST((CAST(n_both AS DECIMAL(38,0)) * CAST(est_union AS DECIMAL(38,0))) div $k AS BIGINT)"))
              .as("est_intersection"))
        val truth = flags.filter(col("in_a") === 1L && col("in_b") === 1L)
          .agg(count(lit(1)).as("true_intersection"))
        est.crossJoin(broadcast(truth)) // 1-row side
          .select(col("est_union"), col("n_both"),
            col("est_intersection"), col("true_intersection"))
          .orderBy(col("est_union").asc)
      },
      Some(s"""WITH flags AS (
             |  SELECT o_custkey,
             |         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
             |         MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS in_b
             |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |  GROUP BY 1),
             |hashed AS (
             |  SELECT o_custkey, in_a, in_b, ${duckHash("'ku#'||o_custkey")} AS h
             |  FROM flags),
             |bot AS (SELECT * FROM hashed ORDER BY h ASC, o_custkey ASC LIMIT 64),
             |agg1 AS (
             |  SELECT MAX(h) AS hk, COUNT(*) AS nbot,
             |         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
             |  FROM bot),
             |est AS (
             |  SELECT n_both, nbot,
             |         CASE WHEN nbot < 64 THEN nbot
             |              ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT) // hk
             |                   AS BIGINT) END AS est_union
             |  FROM agg1),
             |tr AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS true_intersection
             |  FROM flags WHERE in_a = 1 AND in_b = 1)
             |SELECT est_union, n_both,
             |       CASE WHEN nbot < 64 THEN n_both
             |            ELSE CAST((n_both::HUGEINT * est_union::HUGEINT) // 64 AS BIGINT)
             |            END AS est_intersection,
             |       true_intersection
             |FROM est CROSS JOIN tr ORDER BY est_union ASC""".stripMargin),
      "merged KMV sketches: union + intersection cardinality, exact cross-engine"),

    // ------------------------------------------------------------------
    // q228: BPE corpus TOKENIZATION — the artifact a training pipeline
    // actually ships: per-document token-ID sequences under the
    // q150-trained merges. Token ids are the lexicographic rank of the
    // learned subword vocabulary (deterministic, no side-channel model
    // file); because BPE merges are word-internal, the corpus encode is
    // the DICTIONARY encode (each word type once — the q156 insight)
    // joined back to the token stream: one corpus-sized shuffle on the
    // word key, dictionary-sized everything else, NEVER a per-token
    // merge loop over the corpus. Output per doc: word count, BPE token
    // count, and the md5 of the exact comma-joined token-ID sequence in
    // token order (content-exact — a one-id drift anywhere in any
    // document flips the hash). The oracle replays training through
    // syms5 (the shared q150/q156 template) and the identical encode.
    // 100 TB: encode cost is |dict| + one token-stream join; the
    // per-doc sequence reassembly shuffles (doc_id, word-seq) pairs.
    GQuery(
      "q228_bpe_tokenize",
      (s, d) => {
        val words = bpeWords(s, d)
        val trained = Bpe.train(words, 5)
        // vocab rank over the (artifact-sized) learned symbol set — the
        // single-partition window is |vocab| rows, never corpus
        val vocab = trained.syms.select(col("sym")).distinct()
          .withColumn("tid", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("sym"))).cast("long"))
        val wseq = trained.syms.join(vocab, Seq("sym"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_syms"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("tid")))),
              x => x.getField("tid").cast("string")), ",").as("seq"))
        val dt = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("i", "word")))
          .filter(length(col("word")) >= 1)
        val agg = dt.join(wseq, Seq("word"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_syms")).as("n_bpe_tokens"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("i"), col("seq")))),
              x => x.getField("seq")), ",")).as("sig"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
            coalesce(col("sig"), md5(lit(""))).as("sig"))
          .orderBy(col("doc_id").asc)
      },
      Some {
        s"""${Bpe.oracle.withPrefix(5)},
           |vocab AS (
           |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS tid
           |  FROM (SELECT DISTINCT sym FROM syms5)),
           |wseq AS (
           |  SELECT s.word, CAST(COUNT(*) AS BIGINT) AS n_syms,
           |         string_agg(CAST(v.tid AS VARCHAR), ',' ORDER BY s.pos) AS seq
           |  FROM syms5 s JOIN vocab v USING (sym)
           |  GROUP BY s.word),
           |dt AS (
           |  SELECT doc_id, i, ws[i] AS word
           |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
           |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
           |  WHERE len(ws[i]) >= 1),
           |agg AS (
           |  SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           |         CAST(SUM(w.n_syms) AS BIGINT) AS n_bpe_tokens,
           |         md5(string_agg(w.seq, ',' ORDER BY dt.i)) AS sig
           |  FROM dt JOIN wseq w USING (word)
           |  GROUP BY dt.doc_id)
           |SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
           |       COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
           |       COALESCE(a.sig, md5('')) AS sig
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY d.doc_id ASC""".stripMargin
      },
      "BPE tokenize: per-doc token-ID sequences (dictionary encode + stream join), content-exact sig == DuckDB replay"),
  )

  /** Word-frequency dictionary for the BPE gates. An empty token (a
    * double space) is no word: filtered here and identically in
    * [[Bpe.oracle.baseCtes]].
    */
  private def bpeWords(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(explode(TF.tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .transform(Graft.checkpoint(eager = false)) // pair weights reuse it every round
}
