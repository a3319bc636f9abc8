package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.functions.{Similarity, TextFunctions => TF}
import graft.sources.Tables

/** Curation tier, wave 4 (round 7): SemDeDup-style semantic dedup
  * (coarse-quantize embeddings, prune within cells), CCNet-style
  * per-language quality bucketing, robots.txt directive parsing with
  * longest-match precedence, and content-defined chunking dedup (the
  * CDC/FastCDC shape). Shared discipline: inputs synthesized in-plan
  * from fixture columns where messy input is needed; every cross-engine
  * score is integer-exact or uses the established exact-double cosine
  * (q39 law); every output is a driver-stable scalar.
  */
object SemanticCurationQueries {

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q220: semantic dedup, SemDeDup shape (Abbas et al. 2023: cluster
    // embeddings with a coarse quantizer, then prune near-duplicates
    // WITHIN each cell — never across the full corpus). The quantizer
    // is K formula-derived centroids (components n/1024 with |n| ≤ 1000
    // — dyadic, so exactly representable in FLOAT and DOUBLE on both
    // engines); K scales with the corpus (max(4, ⌈n/256⌉)), the
    // property that keeps within-cell pair work LINEAR in corpus size —
    // the 100 TB lever (cells stay ~256 vectors no matter how big the
    // corpus; a fixed K would make cells, and the pair join, grow
    // linearly → quadratic work).
    //
    // Assignment is HIERARCHICAL (the r7 VERDICT scale fix): because
    // K ∝ n, a flat n×K broadcast-cross-join argmax is n²/256 cosine
    // evaluations under an O(n) broadcast — quadratic, the one shape
    // this whole gate exists to avoid. Instead a two-level quantizer:
    //   1. K₁ = ⌈√K⌉ COARSE formula-centroids; each fine centroid is
    //      assigned to its nearest coarse one (K·√K work, √K-row
    //      broadcast) — the child table (cid, cvec, gid);
    //   2. each vector argmaxes over the ≤K₁ coarse centroids that own
    //      ≥1 child (n·√K work, broadcast O(√K) = O(√n) rows — never
    //      grows past artifact size);
    //   3. refine: a SHUFFLE join on gid against the child table (O(K)
    //      rows — must NEVER broadcast; merge-hinted and plan-locked in
    //      PlanShapeSpec) scores each vector against its coarse cell's
    //      ~√K children — n·√K work again.
    // Total n·√K = n^1.5/16 instead of n²/256, max broadcast O(√n);
    // both argmax stages replay in DuckDB as stacked row_number CTEs,
    // so the gate is exact, not approximate. Map-side partial
    // max-struct argmax everywhere; the pair join shuffles on the fine
    // cell key only. Election: a vector is pruned iff a LOWER-id
    // cell-mate sits above the cosine threshold (greedy min-id
    // representative, the q36/q138 law).
    GQuery(
      "q220_semdedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val n = emb.count()
        val k = math.max(4, math.ceil(n / 256.0).toInt)
        val assigned = Similarity.hierarchicalAssign(
            emb, "vec_id", "embedding", k)
        val withVec = emb.select(col("vec_id"), col("embedding"))
          .join(assigned, Seq("vec_id"))
        val pruned = Similarity.blockedNearDupPairs(withVec,
            "vec_id", "embedding", "cluster", threshold = 0.3)
          .select(col("id_b").as("vec_id")).distinct()
          .withColumn("is_pruned", lit(true))
        assigned.join(pruned, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster"),
            col("is_pruned").isNull.as("keep"))
          .orderBy(col("vec_id").asc)
      },
      Some("""WITH k AS (
             |  SELECT GREATEST(4, CAST(CEIL(COUNT(*) / 256.0) AS INT)) AS k
             |  FROM embeddings),
             |k1 AS (SELECT CAST(CEIL(SQRT(k)) AS INT) AS k1 FROM k),
             |cent AS (
             |  SELECT CAST(ck.cid AS INT) AS cid,
             |         list((CAST(('0x'||substr(md5('c:'||ck.cid||':'||dd.d),1,15)) AS BIGINT)
             |               % 2001 - 1000) / 1024.0 ORDER BY dd.d) AS cvec
             |  FROM (SELECT unnest(range(0, (SELECT k FROM k))) AS cid) ck,
             |       (SELECT unnest(range(0, 64)) AS d) dd
             |  GROUP BY ck.cid),
             |coarse AS (
             |  SELECT CAST(ck.gid AS INT) AS gid,
             |         list((CAST(('0x'||substr(md5('g:'||ck.gid||':'||dd.d),1,15)) AS BIGINT)
             |               % 2001 - 1000) / 1024.0 ORDER BY dd.d) AS gvec
             |  FROM (SELECT unnest(range(0, (SELECT k1 FROM k1))) AS gid) ck,
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
             |  SELECT vec_id, gid FROM (
             |    SELECT e.vec_id, g.gid,
             |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), g.gvec) DESC,
             |             g.gid ASC) AS rn
             |    FROM embeddings e CROSS JOIN used g)
             |  WHERE rn = 1),
             |asg AS (
             |  SELECT vec_id, cid AS cluster FROM (
             |    SELECT v.vec_id, c.cid,
             |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
             |             c.cid ASC) AS rn
             |    FROM vg v
             |    JOIN embeddings e ON e.vec_id = v.vec_id
             |    JOIN child c ON c.gid = v.gid)
             |  WHERE rn = 1),
             |pruned AS (
             |  SELECT DISTINCT b.vec_id
             |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
             |  JOIN embeddings ea ON ea.vec_id = a.vec_id
             |  JOIN embeddings eb ON eb.vec_id = b.vec_id
             |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
             |                               CAST(eb.embedding AS DOUBLE[])) >= 0.3)
             |SELECT g.vec_id, g.cluster, p.vec_id IS NULL AS keep
             |FROM asg g LEFT JOIN pruned p ON p.vec_id = g.vec_id
             |ORDER BY g.vec_id ASC""".stripMargin),
      "SemDeDup: hierarchical two-level formula quantizer (n·√K assignment, O(√n) max broadcast) + within-cell min-id prune == DuckDB replay"),

    // ------------------------------------------------------------------
    // q221: per-language quality buckets — the CCNet head/middle/tail
    // discipline (Wenzek et al.: bucket each language's docs by a quality
    // score, keep/weight buckets differently downstream). The score here
    // is the type-token ratio in integer fixed-point (distinct·1e6 DIV
    // total — exact on both engines; the repetition signal q91 gates in
    // ratio form), and bucketing is exact NTILE(3) over a per-language
    // window with a TOTAL order (score desc, doc_id asc) — both engines
    // distribute the n%3 remainder to the leading buckets, so the split
    // is deterministic. 100 TB: one window shuffle partitioned by lang;
    // skew across languages is bounded by the corpus's language mix (a
    // production run sub-partitions giant languages by hash — the gate's
    // per-lang window is the per-partition shape).
    GQuery(
      "q221_quality_buckets",
      (s, d) => {
        val toks = TF.tokens(col("text"))
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            (size(array_distinct(toks)).cast("long") * 1000000L).as("num"),
            size(toks).cast("long").as("den"))
          .select(col("doc_id"), col("lang"),
            expr("num DIV den").as("score_fp"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("score_fp").desc, col("doc_id").asc)
        scored.withColumn("bucket", ntile(3).over(w).cast("long"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("score_fp")).as("min_fp"),
            max(col("score_fp")).as("max_fp"))
          .orderBy(col("lang").asc, col("bucket").asc)
      },
      Some("""WITH s AS (
             |  SELECT doc_id, lang,
             |         (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
             |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS score_fp
             |  FROM documents),
             |b AS (
             |  SELECT lang, doc_id, score_fp,
             |         CAST(ntile(3) OVER (PARTITION BY lang
             |           ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS bucket
             |  FROM s)
             |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       MIN(score_fp) AS min_fp, MAX(score_fp) AS max_fp
             |FROM b GROUP BY lang, bucket
             |ORDER BY lang ASC, bucket ASC""".stripMargin),
      "CCNet-style quality tertiles per language: integer type-token score, exact NTILE split"),

    // ------------------------------------------------------------------
    // q222: robots.txt directive filtering — the politeness gate a
    // crawler applies before a URL ever enters the corpus. The gate
    // synthesizes a robots file PER HOST in-plan (agent blocks, comments,
    // blank lines, an even-host-only extra rule), parses it with
    // position-aware line semantics (a rule belongs to the LAST agent
    // line above it — `last(..., ignoreNulls)` over the position order),
    // keeps only the `*` block (the gptbot block's Disallow:/ must NOT
    // leak), and applies Google precedence to each URL: longest matching
    // prefix wins, Allow wins length ties, no match → allowed. The rule
    // table is artifact-sized (lines ≤ dozens per host), so the verdict
    // is a broadcast join + per-URL max — corpus never shuffles.
    GQuery(
      "q222_robots_rules",
      (s, d) => {
        val hostDigit = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
        val robots = concat(
          lit("# robots for host\nUser-agent: gptbot\nDisallow: /\n\n"),
          lit("User-agent: *\nDisallow: /private\nAllow: /private/pub\nDisallow: /tmp\n"),
          when(hostDigit % 2 === 0, lit("Disallow: /beta\n")).otherwise(lit("")))
        val hosts = Tables.documents(s, d)
          .select(col("source"), robots.as("robots")).distinct()
        val lines = hosts
          .select(col("source"), posexplode(split(col("robots"), "\n")).as(Seq("pos", "line")))
          .select(col("source"), col("pos"), trim(col("line")).as("line"))
        val agentOf = last(
          when(col("line").startsWith("User-agent:"),
            trim(expr("substring(line, 12)"))), ignoreNulls = true)
          .over(Window.partitionBy(col("source")).orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val rules = lines
          .withColumn("agent", agentOf)
          .filter(col("agent") === "*" &&
            (col("line").startsWith("Allow:") || col("line").startsWith("Disallow:")))
          .select(col("source"),
            col("line").startsWith("Allow:").as("allow"),
            trim(regexp_replace(col("line"), "^(Allow|Disallow):", "")).as("prefix"))
          .filter(col("prefix") =!= "")
        val urls = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            concat(
              when(col("doc_id") % 5 === 0, lit("/private/pub/p"))
                .when(col("doc_id") % 5 === 1, lit("/private/x"))
                .when(col("doc_id") % 5 === 2, lit("/tmp/t"))
                .when(col("doc_id") % 5 === 3, lit("/ok/o"))
                .otherwise(lit("/beta/b")),
              (col("doc_id") % 50).cast("string")).as("path"))
        val matched = urls.join(broadcast(rules), Seq("source"))
          .filter(col("path").startsWith(col("prefix")))
          .groupBy(col("doc_id"))
          .agg(max(struct(length(col("prefix")).as("l"), col("allow"))).as("m"))
          .select(col("doc_id"), col("m.allow").as("rule_allow"))
        urls.join(matched, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("path"),
            coalesce(col("rule_allow"), lit(true)).as("allowed"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id, source,
             |       CASE CAST(doc_id % 5 AS INT)
             |         WHEN 0 THEN '/private/pub/p' WHEN 1 THEN '/private/x'
             |         WHEN 2 THEN '/tmp/t' WHEN 3 THEN '/ok/o'
             |         ELSE '/beta/b' END || CAST(doc_id % 50 AS VARCHAR) AS path,
             |       CASE CAST(doc_id % 5 AS INT)
             |         WHEN 0 THEN true  -- Allow /private/pub (12) beats Disallow /private (8)
             |         WHEN 1 THEN false -- Disallow /private
             |         WHEN 2 THEN false -- Disallow /tmp
             |         WHEN 3 THEN true  -- no matching rule
             |         ELSE CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 <> 0
             |       END AS allowed
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "robots.txt parse + longest-match precedence: block-scoped rules, Allow beats ties, agent blocks don't leak"),

    // ------------------------------------------------------------------
    // q223: content-defined chunking dedup — the storage/corpus dedup
    // bridge (FastCDC shape): chunk boundaries fall where a rolling
    // content window hashes to a magic value, so an insertion shifts at
    // most the chunks it touches (fixed-width chunking — q179 — would
    // re-cut everything after the edit). Boundary rule: after position i
    // iff the base-131 polynomial of the 8-char window ending at i ≡ 0
    // (mod 61) — O(1) integer work per position (the FastCDC gear-hash
    // discipline; the per-position md5 this replaced was ~100× the
    // arithmetic for identical dedup power), expected chunk ~61 chars,
    // exactly replayable cross-engine via codepoint ascii + a Horner
    // fold REDUCED mod 61 at every step (bounded on any Unicode input —
    // an unreduced fold overflows BIGINT on CJK windows and throws under
    // Spark's default ANSI mode; both engines reduce per step so the
    // congruence is exact, not just ASCII-coincidental). The chunk
    // transform is pure higher-order builtins (map-side); dedup is the
    // one hash groupBy on chunk content. Output per doc: chunk count,
    // how many of its chunks are corpus-duplicated, and an order-exact
    // signature. 100 TB: scan + one narrow shuffle of (chunk-hash,
    // doc_id) pairs — the exact-dedup shape at sub-document grain.
    GQuery(
      "q223_cdc_chunks",
      (s, d) => {
        val perDoc = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"),
            posexplode_outer(TF.cdcChunks(col("text"))).as(Seq("ci", "chunk")))
        val counts = perDoc.filter(col("chunk").isNotNull)
          .groupBy(col("chunk")).agg(count(lit(1)).as("c"))
        perDoc.join(counts, Seq("chunk"), "left")
          .groupBy(col("doc_id"))
          .agg(
            sum(when(col("chunk").isNotNull, 1L).otherwise(0L)).as("n_chunks"),
            sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
            md5(concat_ws("\u0001",
              transform(array_sort(collect_list(
                when(col("chunk").isNotNull, struct(col("ci"), col("chunk"))))),
                x => x.getField("chunk")))).as("sig"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
             |hit AS (
             |  SELECT doc_id, i FROM d, unnest(range(8, len + 1)) t(i)
             |  WHERE ((((((((((((((CAST(ascii(substr(text, CAST(i - 7 AS INT), 1)) AS BIGINT) % 61)
             |        * 131 + ascii(substr(text, CAST(i - 6 AS INT), 1))) % 61)
             |        * 131 + ascii(substr(text, CAST(i - 5 AS INT), 1))) % 61)
             |        * 131 + ascii(substr(text, CAST(i - 4 AS INT), 1))) % 61)
             |        * 131 + ascii(substr(text, CAST(i - 3 AS INT), 1))) % 61)
             |        * 131 + ascii(substr(text, CAST(i - 2 AS INT), 1))) % 61)
             |        * 131 + ascii(substr(text, CAST(i - 1 AS INT), 1))) % 61)
             |        * 131 + ascii(substr(text, CAST(i AS INT), 1))) % 61 = 0),
             |b AS (
             |  SELECT doc_id, 0 AS pos FROM d WHERE len > 0
             |  UNION SELECT doc_id, CAST(i AS INT) FROM hit
             |  UNION SELECT doc_id, CAST(len AS INT) FROM d WHERE len > 0),
             |sp AS (
             |  SELECT doc_id, pos,
             |         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
             |  FROM b),
             |ch AS (
             |  SELECT s.doc_id, s.pos,
             |         substr(dd.text, s.pos + 1, s.np - s.pos) AS chunk
             |  FROM sp s JOIN d dd USING (doc_id) WHERE s.np IS NOT NULL),
             |cnt AS (SELECT chunk, COUNT(*) AS c FROM ch GROUP BY chunk),
             |agg AS (
             |  SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |         CAST(SUM(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
             |         md5(string_agg(ch.chunk, chr(1) ORDER BY ch.pos)) AS sig
             |  FROM ch JOIN cnt USING (chunk) GROUP BY ch.doc_id)
             |SELECT d.doc_id,
             |       COALESCE(a.n_chunks, 0) AS n_chunks,
             |       COALESCE(a.n_dup_chunks, 0) AS n_dup_chunks,
             |       COALESCE(a.sig, md5('')) AS sig
             |FROM d LEFT JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id ASC""".stripMargin),
      "content-defined chunking: rolling-window boundary rule + chunk-grain exact dedup == DuckDB replay"),
  )
}
