package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, Graft}
import graft.functions.{Similarity, TextFunctions => TF}
import graft.sources.Tables

/** Round-8 additions: the COMPLETE web-curation DAG as ONE gated query
  * (q229) — URL-canonical dedup → deny-list → HTML extract → quality
  * classifier → chunk dedup → SemDeDup → quality buckets — proving the
  * individually-gated operators (q219, q215, q214, q217, q179, q220,
  * q221) COMPOSE without per-stage materialization: each stage's filter
  * applies before the next stage's shuffle, so data only shrinks down
  * the pipeline (the q108 monotone-shrink shape at the LLM tier). Plus
  * the streaming half of the URL tier (q230: canonicalize + dedup a
  * live crawl frontier through the real micro-batch engine) and the
  * deflate compression-ratio quality signal (q231).
  */
object CurationDagQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q229: end-to-end curation DAG. Execution shape (the 100 TB story):
    //  - the CHEAP per-doc signals (canonical URL key, deny-suffix chain)
    //    are computed in ONE map-side projection over the corpus; the
    //    EXPENSIVE ones (HTML→text extraction, hashed-linear quality
    //    score, type-token score) are deferred past the stage-1 election
    //    join and guarded by the stage flags, so each runs only on the
    //    rows whose stage can observe it (r9);
    //  - the only corpus-sized shuffles are the irreducible per-stage
    //    ones: the canonical-key election groupBy + verdict join
    //    (stage 1), the chunk-hash election + verdict join over stage-3
    //    survivors (stage 4), the SemDeDup assignment + cell pair join
    //    over stage-4 survivors (stage 5, the q220 hierarchical
    //    quantizer — no O(n) broadcast), and the per-lang bucket window
    //    over the final survivors;
    //  - the deny-list is a literal array filter (map-side, the q215
    //    broadcast shape collapsed to a predicate), HTML extract and
    //    both scores are projected expressions — no shuffle at all;
    //  - LATER stages run on EARLIER survivors only (chunk canonical
    //    election and SemDeDup cells see the filtered corpus — the
    //    composition property under test; a per-stage materialization
    //    pipeline would compute them on supersets).
    // Per-stage survivor counts ride the output AND an observe() metric
    // (telemetry without a second pass). The narrow flag relation is
    // checkpointed where two stages consume it: the consumers exchange on
    // different keys, so no exchange is shared and the costly signal
    // projection would run once per consumer (r8 verdict: one eviction of
    // a MEMORY_ONLY copy re-ran it for the whole corpus, a 13 s → 100 s
    // bench storm; checkpoint blocks spill to disk instead; at sf0.1 the
    // query takes 2.1 s with checkpoints, 6.5 s with persists);
    // clean_text is carried only into the chunk stage's explode.
    //
    // GATE SUBSET (r8 verdict #1, the q175/q176 precedent): the sf0.1
    // gate runs the DAG on doc_id % 120 < 40 — whole 40-id blocks, so
    // stage 1's two-ids-per-(source,path) pair structure is preserved
    // intact (a doc_id % 3 = 0 subset would break the pairs: the two ids
    // in a group differ by 20 ≡ 2 (mod 3), so at most one would survive
    // the FILTER and the dedup election would stop shrinking anything).
    // Same predicate in the oracle's three documents scans; the FULL
    // corpus DAG's sf1 numbers are recorded in BASELINE.md.
    //
    // Quantizer width K is sized from the embeddings table's parquet
    // FOOTER row count (metadata-only, no scan job) — the r8 verdict
    // flagged the previous `embFull.count()` as a full-corpus driver
    // action run solely to pick a constant. The oracle's COUNT(*) equals
    // the footer sum by parquet's own contract.
    //
    // The DuckDB oracle replays every stage from the generating formulas
    // (canonical key from the messy-URL construction, deny CASE, q217
    // md5 score, q179 chunk CTEs on the survivor subset, the q220
    // two-level quantizer CTEs on the survivor embeddings, q221 NTILE)
    // — the HTML escape∘embed∘extract identity makes the oracle's
    // `text` the pipeline's `clean_text`, so any extraction divergence
    // anywhere in the chain is a hash mismatch.
    GQuery(
      "q229_curation_dag",
      (s, d) => {
        // gate subset (see header comment)
        val docs = Tables.documents(s, d).filter(col("doc_id") % 120 < 40)
        val embFull = Tables.embeddings(s, d)
        val nEmb = Tables.parquetRowCount(s, s"$d/embeddings.parquet")
        val k = math.max(4, math.ceil(nEmb / 256.0).toInt)

        // ---- map-side signal projection (no shuffle) ----
        val messy = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("www.")),
          col("source"), lit(".Example.COM"),
          when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
          // sources cycle mod 20 in the fixture, so DIV 40 puts EXACTLY
          // two ids (40m+r, 40m+20+r) into each (source, path) group —
          // the dedup election halves the corpus, a real stage-1 shrink
          lit("/a/"), expr("doc_id DIV 40").cast("string"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&utm_campaign=x"),
          when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
        val host = concat(col("source"), lit("."),
          when(col("doc_id") % 3 === 0, "example.com")
            .when(col("doc_id") % 3 === 1, "docs.example.org")
            .otherwise("mirror.net"))
        val denied = arrays_overlap(TF.domainSuffixes(host),
          array(lit("example.org"), lit("src3.mirror.net"), lit("never.test")))
        val wrapped = concat(lit("<html><body><p>"), TF.htmlEscape(col("text")),
          lit("</p></body></html>"))
        val cleanText = TF.htmlToText(wrapped)
        // native GramScore kernel since r9 — identical semantics to the
        // aggregate-HOF md5 fold (same grams, same modular weights; the
        // oracle's md5 CTE replay is unchanged), but one tight loop per
        // document instead of interpreted per-gram expression eval
        val qScore = graft.expressions.GramScore(col("clean_text"))
        val ttrScore = expr(
          "(CAST(size(array_distinct(split(clean_text, ' '))) AS BIGINT) * 1000000)" +
            " DIV size(split(clean_text, ' '))")

        val base = Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"), col("text"),
            TF.canonicalizeUrl(messy).as("ckey"), denied.as("denied"))

        // ---- stage 1: canonical-URL dedup election (groupBy + join) ----
        val election = base.groupBy(col("ckey")).agg(min(col("doc_id")).as("first_doc"))
        // The EXPENSIVE per-doc signals (HTML extract, md5-per-gram quality
        // score, type-token score) are computed AFTER the election join,
        // each guarded by the stage flag that gates its first consumer
        // (r9, guide §2.3 "don't compute things you throw away"): the
        // extract runs only on stage-2 survivors, the quality score only
        // where pass2 holds (And short-circuits; false && null = false, so
        // pass3 is unchanged), the type-token score only on stage-3
        // survivors. Non-surviving rows carry null in clean_text/score_fp
        // — provably unobserved: the chunk stage filters pass3, the bucket
        // window filters pass5 ⊆ pass3, and nothing else reads them. The
        // shuffle that used to carry every doc's clean_text now carries the
        // raw text (same bytes); the dropped work is one GramScore + one
        // extract + one TTR pass over every election/deny LOSER.
        val flags3 = base.join(election, Seq("ckey"))
          .withColumn("pass1", col("doc_id") === col("first_doc"))
          // ---- stage 2: deny-list (map-side predicate) ----
          .withColumn("pass2", col("pass1") && !col("denied"))
          .withColumn("clean_text", when(col("pass2"), cleanText))
          // ---- stage 3: quality classifier (map-side score) ----
          .withColumn("pass3", col("pass2") && qScore > 0)
          .withColumn("score_fp", when(col("pass3"), ttrScore))
          .select(col("doc_id"), col("lang"), col("clean_text"),
            col("score_fp"), col("pass1"), col("pass2"), col("pass3"))
          // consumed by the chunk stage AND the flag chain
          .transform(Graft.checkpoint(eager = false))

        // ---- stage 4: chunk dedup over stage-3 survivors only ----
        val chunks = flags3.filter(col("pass3"))
          .select(col("doc_id"), split(col("clean_text"), " ").as("ws"))
          .select(col("doc_id"), posexplode(
            expr("transform(sequence(0, CAST(ceil(size(ws)/10.0) AS INT) - 1)," +
              " i -> array_join(slice(ws, i*10+1, 10), ' '))")).as(Seq("ci", "chunk")))
          .transform(Graft.checkpoint(eager = false))
        val canon = chunks.groupBy(col("chunk"))
          .agg(min(struct(col("doc_id"), col("ci"))).as("c"))
          .select(col("chunk"), col("c.doc_id").as("cd"), col("c.ci").as("cc"))
        val chunkVerdict = chunks.join(canon, "chunk")
          .withColumn("keep", col("doc_id") === col("cd") && col("ci") === col("cc"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          // a doc survives iff at least half its chunks are first
          // occurrences (the C4 drop-mostly-duplicated rule)
          .select(col("doc_id"), (col("n_kept") * 2 >= col("n_chunks")).as("c_ok"))
        val flags4 = flags3.join(chunkVerdict, Seq("doc_id"), "left")
          .withColumn("pass4", col("pass3") && coalesce(col("c_ok"), lit(false)))

        // ---- stage 5: SemDeDup over stage-4 survivors' embeddings ----
        // (quantizer width K comes from the static corpus-wide embedding
        // count — the production posture: one shared quantizer, not one
        // per pipeline slice)
        val semdocs = flags4.filter(col("pass4")).select(col("doc_id"))
          .join(embFull, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("embedding"))
        val assigned = Similarity.hierarchicalAssign(semdocs, "doc_id", "embedding", k)
        val pruned = Similarity.blockedNearDupPairs(
            semdocs.join(assigned, Seq("doc_id")),
            "doc_id", "embedding", "cluster", threshold = 0.3)
          .select(col("id_b").as("doc_id")).distinct()
          .withColumn("pr", lit(true))
        val flags5 = flags4.join(pruned, Seq("doc_id"), "left")
          .withColumn("pass5", col("pass4") && col("pr").isNull)
          .select(col("doc_id"), col("lang"), col("score_fp"),
            col("pass1"), col("pass2"), col("pass3"), col("pass4"), col("pass5"))
          // consumed by the stage accounting AND the bucket histogram
          .transform(Graft.checkpoint(eager = false))

        // ---- stage accounting (one aggregate; observe() telemetry
        // rides the same pass) ----
        def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
        val stageRows = flags5
          .observe("q229_stages",
            count(lit(1)).as("n_input"), cnt(col("pass1")).as("n_url"),
            cnt(col("pass2")).as("n_deny"), cnt(col("pass3")).as("n_quality"),
            cnt(col("pass4")).as("n_chunk"), cnt(col("pass5")).as("n_sem"))
          .agg(count(lit(1)).as("n0"), cnt(col("pass1")).as("n1"),
            cnt(col("pass2")).as("n2"), cnt(col("pass3")).as("n3"),
            cnt(col("pass4")).as("n4"), cnt(col("pass5")).as("n5"))
          .select(explode(array(
            struct(lit("0_input").as("k1"), col("n0").as("n")),
            struct(lit("1_url_dedup").as("k1"), col("n1").as("n")),
            struct(lit("2_denylist").as("k1"), col("n2").as("n")),
            struct(lit("3_quality").as("k1"), col("n3").as("n")),
            struct(lit("4_chunk_dedup").as("k1"), col("n4").as("n")),
            struct(lit("5_semdedup").as("k1"), col("n5").as("n")))).as("s"))
          .select(lit("stage").as("kind"), col("s.k1").as("k1"),
            lit("").as("k2"), col("s.n").as("n"))

        // ---- stage 6: per-lang quality tertiles over final survivors ----
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("score_fp").desc, col("doc_id").asc)
        val bucketRows = flags5.filter(col("pass5"))
          .withColumn("bucket", ntile(3).over(w).cast("long"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .select(lit("bucket").as("kind"), col("lang").as("k1"),
            col("bucket").cast("string").as("k2"), col("n"))

        stageRows.unionAll(bucketRows)
          .orderBy(col("kind").asc, col("k1").asc, col("k2").asc)
      },
      Some("""WITH nemb AS (
             |  SELECT GREATEST(4, CAST(CEIL(COUNT(*) / 256.0) AS INT)) AS k
             |  FROM embeddings),
             |k1t AS (SELECT CAST(CEIL(SQRT(k)) AS INT) AS k1 FROM nemb),
             |f1 AS (
             |  SELECT doc_id, lang, source, text,
             |         'https://' || source || '.example.com/a/' ||
             |           CAST(doc_id // 40 AS VARCHAR) AS ckey,
             |         (doc_id % 3 = 1 OR (doc_id % 3 = 2 AND source = 'src3')) AS denied
             |  FROM documents WHERE doc_id % 120 < 40),
             |e1 AS (SELECT ckey, MIN(doc_id) AS first_doc FROM f1 GROUP BY ckey),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM documents WHERE doc_id % 120 < 40),
             |g AS (
             |  SELECT doc_id, unnest(ws) AS gram FROM toks
             |  UNION ALL
             |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
             |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks)),
             |qs AS (
             |  SELECT doc_id,
             |         CAST(SUM(CAST(('0x'||substr(md5('w:'||gram),1,15)) AS BIGINT) % 2001
             |                  - 1000) AS BIGINT) AS raw_score
             |  FROM g GROUP BY doc_id),
             |f4 AS (
             |  SELECT f1.doc_id, f1.lang, f1.text,
             |         f1.doc_id = e1.first_doc AS pass1,
             |         f1.doc_id = e1.first_doc AND NOT f1.denied AS pass2,
             |         f1.doc_id = e1.first_doc AND NOT f1.denied
             |           AND qs.raw_score > 0 AS pass3
             |  FROM f1 JOIN e1 USING (ckey) JOIN qs USING (doc_id)),
             |stoks AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM f4 WHERE pass3),
             |chunks AS (
             |  SELECT doc_id, i AS ci, array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS chunk
             |  FROM (SELECT doc_id, ws,
             |          unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT))) AS i
             |        FROM stoks)),
             |cd AS (SELECT chunk, MIN(doc_id) AS cd FROM chunks GROUP BY chunk),
             |canon AS (
             |  SELECT c.chunk, c.cd, MIN(ch.ci) AS cc
             |  FROM cd c JOIN chunks ch ON ch.chunk = c.chunk AND ch.doc_id = c.cd
             |  GROUP BY c.chunk, c.cd),
             |ckd AS (
             |  SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |         CAST(SUM(CASE WHEN ch.doc_id = c.cd AND ch.ci = c.cc
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |  FROM chunks ch JOIN canon c ON ch.chunk = c.chunk
             |  GROUP BY ch.doc_id),
             |f5 AS (
             |  SELECT f4.*,
             |         f4.pass3 AND COALESCE(c.n_kept * 2 >= c.n_chunks, false) AS pass4
             |  FROM f4 LEFT JOIN ckd c USING (doc_id)),
             |semdocs AS (
             |  SELECT f5.doc_id, e.embedding
             |  FROM f5 JOIN embeddings e ON e.vec_id = f5.doc_id
             |  WHERE f5.pass4),
             |cent AS (
             |  SELECT CAST(ck.cid AS INT) AS cid,
             |         list((CAST(('0x'||substr(md5('c:'||ck.cid||':'||dd.d),1,15)) AS BIGINT)
             |               % 2001 - 1000) / 1024.0 ORDER BY dd.d) AS cvec
             |  FROM (SELECT unnest(range(0, (SELECT k FROM nemb))) AS cid) ck,
             |       (SELECT unnest(range(0, 64)) AS d) dd
             |  GROUP BY ck.cid),
             |coarse AS (
             |  SELECT CAST(ck.gid AS INT) AS gid,
             |         list((CAST(('0x'||substr(md5('g:'||ck.gid||':'||dd.d),1,15)) AS BIGINT)
             |               % 2001 - 1000) / 1024.0 ORDER BY dd.d) AS gvec
             |  FROM (SELECT unnest(range(0, (SELECT k1 FROM k1t))) AS gid) ck,
             |       (SELECT unnest(range(0, 64)) AS d) dd
             |  GROUP BY ck.gid),
             |child AS (
             |  SELECT gid, cid, cvec FROM (
             |    SELECT c.cid, c.cvec, g.gid,
             |           row_number() OVER (PARTITION BY c.cid ORDER BY
             |             list_cosine_similarity(c.cvec, g.gvec) DESC, g.gid ASC) AS rn
             |    FROM cent c CROSS JOIN coarse g)
             |  WHERE rn = 1),
             |used AS (SELECT g.gid, g.gvec
             |         FROM coarse g JOIN (SELECT DISTINCT gid FROM child) u USING (gid)),
             |vg AS (
             |  SELECT doc_id, gid FROM (
             |    SELECT e.doc_id, g.gid,
             |           row_number() OVER (PARTITION BY e.doc_id ORDER BY
             |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), g.gvec) DESC,
             |             g.gid ASC) AS rn
             |    FROM semdocs e CROSS JOIN used g)
             |  WHERE rn = 1),
             |asg AS (
             |  SELECT doc_id, cid AS cluster FROM (
             |    SELECT v.doc_id, c.cid,
             |           row_number() OVER (PARTITION BY v.doc_id ORDER BY
             |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
             |             c.cid ASC) AS rn
             |    FROM vg v
             |    JOIN semdocs e ON e.doc_id = v.doc_id
             |    JOIN child c ON c.gid = v.gid)
             |  WHERE rn = 1),
             |pruned AS (
             |  SELECT DISTINCT b.doc_id
             |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.doc_id < b.doc_id
             |  JOIN semdocs ea ON ea.doc_id = a.doc_id
             |  JOIN semdocs eb ON eb.doc_id = b.doc_id
             |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
             |                               CAST(eb.embedding AS DOUBLE[])) >= 0.3),
             |f6 AS (
             |  SELECT f5.*, f5.pass4 AND p.doc_id IS NULL AS pass5
             |  FROM f5 LEFT JOIN pruned p USING (doc_id)),
             |sc AS (
             |  SELECT doc_id,
             |         (CAST(len(list_distinct(ws)) AS BIGINT) * 1000000)
             |           // CAST(len(ws) AS BIGINT) AS score_fp
             |  FROM toks),
             |b AS (
             |  SELECT f6.lang,
             |         CAST(ntile(3) OVER (PARTITION BY f6.lang
             |           ORDER BY sc.score_fp DESC, f6.doc_id ASC) AS BIGINT) AS bucket
             |  FROM f6 JOIN sc USING (doc_id) WHERE f6.pass5)
             |SELECT 'stage' AS kind, '0_input' AS k1, '' AS k2,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             |        WHERE doc_id % 120 < 40) AS n
             |UNION ALL SELECT 'stage', '1_url_dedup', '',
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f6 WHERE pass1)
             |UNION ALL SELECT 'stage', '2_denylist', '',
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f6 WHERE pass2)
             |UNION ALL SELECT 'stage', '3_quality', '',
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f6 WHERE pass3)
             |UNION ALL SELECT 'stage', '4_chunk_dedup', '',
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f6 WHERE pass4)
             |UNION ALL SELECT 'stage', '5_semdedup', '',
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f6 WHERE pass5)
             |UNION ALL SELECT 'bucket', lang, CAST(bucket AS VARCHAR),
             |       CAST(COUNT(*) AS BIGINT)
             |FROM b GROUP BY lang, bucket
             |ORDER BY kind ASC, k1 ASC, k2 ASC""".stripMargin),
      "end-to-end curation DAG: URL dedup -> denylist -> extract -> quality -> chunk dedup -> SemDeDup -> buckets, stage counts + histogram == full DuckDB replay"),

    // ------------------------------------------------------------------
    // q230: STREAMING URL-canonicalization dedup — the crawl-frontier
    // composition of q219's canonical key with q172's watermark dedup,
    // through the REAL micro-batch engine (see EventStreams
    // .streamCanonicalGate): three checkpointed batches present each
    // canonical key in three DIFFERENT messy spellings (case-mangled
    // host + www., explicit :443 + a utm param, trailing root-dot +
    // trailing slash + fragment), and dropDuplicatesWithinWatermark must
    // fold them although no two raw strings match. Survivors are batch
    // 0's rows (id == k), so the oracle reconstructs the canonical form
    // AND the first-arrival id from the key formula alone. Scale: state
    // is one entry per canonical key, watermark-expired; the canonical
    // key is a projected codegen'd expression, streaming-legal.
    GQuery(
      "q230_stream_canonical",
      (s, _) => graft.streaming.EventStreams.streamCanonicalGate(s),
      Some("""SELECT 'https://host' || CAST(k AS VARCHAR) || '.example.com/p/' ||
             |         CAST(k AS VARCHAR) || '?a=1' AS canonical_url,
             |       CAST(k AS BIGINT) AS first_id
             |FROM (SELECT unnest(range(0, 100)) AS k)
             |ORDER BY first_id ASC""".stripMargin),
      "streaming canonical-URL dedup via the real micro-batch engine == formula oracle"),

    // ------------------------------------------------------------------
    // q259 (r8c): DICTIONARY-trained compression — the small-record
    // storage problem a 100 TB event/metadata corpus actually has:
    // records of ~100 bytes compress terribly alone (no window ever sees
    // cross-record redundancy), so production stores train a shared zstd
    // dictionary on a sample and compress each record against it (the
    // RocksDB/Kafka/Parquet-v2 discipline). The gate synthesizes
    // templated JSON-ish event records, trains a REAL ZDICT dictionary
    // on the doc_id%2 sample (driver-side artifact — ~100 B × n/2
    // samples, the q217 model-artifact discipline; order fixed by
    // doc_id so training is deterministic), and compresses every record
    // both ways at the codec boundary. Exact compressed sizes are
    // zstd-implementation facts, so the gate emits wide-margin INVARIANT
    // verdicts (the q231 contract): the dictionary must beat plain zstd
    // on EVERY record (plain zstd pays its literal cost per record; the
    // dictionary carries the shared template), and must at least halve
    // the raw bytes. raw_len is exact (the oracle replays the record
    // construction).
    GQuery(
      "q259_dict_compress",
      (s, d) => {
        import graft.multimodal.Shards
        val record = concat(
          lit("{\"user\":\"u"), (col("doc_id") % 50).cast("string"),
          lit("\",\"event\":\""),
          when(col("doc_id") % 3 === 0, lit("click"))
            .when(col("doc_id") % 3 === 1, lit("view")).otherwise(lit("purchase")),
          lit("\",\"page\":\"/products/category/"), (col("doc_id") % 17).cast("string"),
          lit("\",\"session\":\""), substring(md5(col("doc_id").cast("string")), 1, 8),
          lit("\",\"status\":\"accepted\",\"retries\":0}"))
        val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), record.as("text"))
        // BOUNDED sample: the driver artifact must not grow with the
        // corpus — 4096 records (~450 KB) train the dictionary at any
        // scale; deterministic via the total order + limit
        val samples = docs.filter(col("doc_id") % 2 === 0)
          .orderBy(col("doc_id").asc).limit(4096)
          .select(col("text")).collect()
          .map(_.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .toSeq
        val dict = Shards.trainZstdDict(samples, dictSize = 1024)
        Shards.dictCompressRows(docs, dict)
          .select(col("doc_id"), col("raw_len"),
            (col("dict_len") < col("plain_len")).as("v_dict_wins"),
            (col("dict_len") * 2 < col("raw_len")).as("v_dict_small"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       CAST(length('{"user":"u' || CAST(doc_id % 50 AS VARCHAR) ||
             |         '","event":"' ||
             |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'click'
             |              WHEN 1 THEN 'view' ELSE 'purchase' END ||
             |         '","page":"/products/category/' || CAST(doc_id % 17 AS VARCHAR) ||
             |         '","session":"' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ||
             |         '","status":"accepted","retries":0}') AS BIGINT) AS raw_len,
             |       true AS v_dict_wins,
             |       true AS v_dict_small
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "zstd dictionary training + per-record dict compression: dictionary beats plain zstd and halves raw bytes on every templated record"),

    // ------------------------------------------------------------------
    // q260 (r8c): the MULTIMODAL curation DAG — q229's composition
    // argument on the image side: WebDataset shards → tar member walk →
    // first-dot sample assembly → REAL PNG decode → spectral perceptual
    // hash (q250's integer-exact WHT), all at ONE codec boundary (shard
    // bytes, member payloads, and pixels never leave the task), then
    // corpus-level image dedup election over the 8-byte hashes (min
    // (shard, sample) per phash — distinct shards share images by the
    // pk formula, so cross-shard dedup is non-trivial). Gated on the
    // doc_id%3 shard subset (the q175 precedent) to bound the oracle's
    // pixel replay; every output field is a pure formula of (key, i) —
    // the oracle recomputes walk, decode, hash, and election without
    // seeing a byte. 100 TB: one map-side fan-out, one 8-byte-key
    // window — the WDS ingest shape for an image corpus.
    GQuery(
      "q260_wds_image_dag",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val media = mediaIds(s, d).filter(col("doc_id") % 3 === 0)
          .mapPartitions { ids =>
            ids.map { id =>
              val key = id % 109
              graft.multimodal.Multimodal.MediaRow(id,
                graft.multimodal.Shards.SyntheticShards.wdsImageShard(key),
                "application/x-wds")
            }
          }
        val feats = graft.multimodal.Shards.wdsImageSampleRows(media)
        val w = Window.partitionBy(col("phash"))
          .orderBy(col("shard_id").asc, col("sample_key").asc)
        feats.withColumn("keep", row_number().over(w) === 1)
          .orderBy(col("shard_id").asc, col("sample_key").asc)
      },
      Some("""WITH k AS (
             |  SELECT doc_id, doc_id % 109 AS key FROM documents WHERE doc_id % 3 = 0),
             |smp AS (
             |  SELECT doc_id, key, CAST(i.i AS INT) AS i,
             |         (7 * key + 13 * i.i) % 97 AS pk
             |  FROM k, range(0, 4) i(i) WHERE i.i < 2 + key % 3),
             |dim AS (
             |  SELECT doc_id, i, pk,
             |         CAST(16 + pk % 17 AS INT) AS w, CAST(16 + pk % 13 AS INT) AS h
             |  FROM smp),
             |px AS (
             |  SELECT doc_id, i, pk, y.y AS y, x.x AS x,
             |         (7*((x.x*w)//16) + 13*((y.y*h)//16) + 31*pk) % 256 AS l
             |  FROM dim, range(0,16) y(y), range(0,16) x(x)),
             |uv AS (SELECT u.u AS u, v.v AS v FROM range(0,4) u(u), range(0,4) v(v)
             |       WHERE NOT (u.u = 0 AND v.v = 0)),
             |co AS (
             |  SELECT p.doc_id, p.i, uv.u, uv.v,
             |         CAST(SUM(CASE WHEN (bit_count(uv.u & p.x) + bit_count(uv.v & p.y)) % 2 = 0
             |                       THEN p.l ELSE -p.l END) AS BIGINT) AS c
             |  FROM px p CROSS JOIN uv
             |  GROUP BY p.doc_id, p.i, uv.u, uv.v),
             |med AS (
             |  SELECT doc_id, i, MAX(CASE WHEN rn = 8 THEN c END) AS median
             |  FROM (SELECT doc_id, i, c,
             |          row_number() OVER (PARTITION BY doc_id, i ORDER BY c ASC) AS rn
             |        FROM co)
             |  GROUP BY doc_id, i),
             |hsh AS (
             |  SELECT co.doc_id, co.i,
             |         CAST(SUM(CASE WHEN co.c > med.median
             |                  THEN CAST(1 AS BIGINT) << CAST(co.u*4 + co.v - 1 AS INT)
             |                  ELSE 0 END) AS BIGINT) AS phash
             |  FROM co JOIN med ON med.doc_id = co.doc_id AND med.i = co.i
             |  GROUP BY co.doc_id, co.i),
             |f AS (
             |  SELECT d.doc_id AS shard_id, 's' || CAST(d.i AS VARCHAR) AS sample_key,
             |         d.w AS width, d.h AS height, h.phash,
             |         'c' || CAST(d.pk % 5 AS VARCHAR) AS cls
             |  FROM dim d JOIN hsh h ON h.doc_id = d.doc_id AND h.i = d.i)
             |SELECT shard_id, sample_key, width, height, phash, cls,
             |       row_number() OVER (PARTITION BY phash
             |         ORDER BY shard_id ASC, sample_key ASC) = 1 AS keep
             |FROM f ORDER BY shard_id ASC, sample_key ASC""".stripMargin),
      "multimodal WDS DAG: shard walk -> sample assembly -> real PNG decode -> WHT hash -> cross-shard dedup election, one codec boundary == formula oracle"),

    // ------------------------------------------------------------------
    // q231: compression-ratio quality signal (CCNet/Gopher: highly
    // repetitive text compresses suspiciously well; high-entropy noise
    // does not) — REAL deflate at the codec boundary (Shards
    // .compressRatioRows: raw_len, deflate(text), deflate(text||text)
    // computed map-side, only the three lengths leave the task). Exact
    // deflate byte counts are zlib-implementation facts, so the gate
    // outputs INVARIANT verdicts with wide margins (the q72-q74
    // discipline), over two synthesized text classes whose verdicts are
    // certain: 'rep' (an 8-char unit repeated 100x — ratio a few %,
    // far under the 1/3 bar) vs 'hex' (100 chained md5 hex blocks — 16
    // symbols >= 4 bits/char, ratio ~0.55, far above). v_window pins
    // the 32 KiB deflate window law: the doubled text's second copy
    // collapses to back-references for BOTH classes. 100 TB: pure
    // map-side compression probe, feature-sized output.
    GQuery(
      "q231_compress_ratio",
      (s, d) => {
        val hexChain = concat_ws("", (0 until 25).map(i =>
          md5(concat(col("doc_id").cast("string"), lit(":" + i)))): _*)
        val synth = Tables.documents(s, d)
          .select(col("doc_id"),
            when(col("doc_id") % 2 === 0, lit("abcdefgh" * 100))
              .otherwise(hexChain).as("text"))
        val feats = graft.multimodal.Shards.compressRatioRows(synth)
        feats.select(col("doc_id"),
            when(col("doc_id") % 2 === 0, lit("rep")).otherwise(lit("hex")).as("class"),
            col("raw_len"),
            (col("def_len") * 3 < col("raw_len")).as("v_compressible"),
            (col("def2_len") < col("def_len") + col("raw_len") / 8).as("v_window"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       CASE WHEN doc_id % 2 = 0 THEN 'rep' ELSE 'hex' END AS class,
             |       CAST(CASE WHEN doc_id % 2 = 0 THEN 800 ELSE 800 END AS BIGINT) AS raw_len,
             |       doc_id % 2 = 0 AS v_compressible,
             |       true AS v_window
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "deflate compression-ratio quality signal: class-separating invariant verdicts with wide margins"),
  )
}
