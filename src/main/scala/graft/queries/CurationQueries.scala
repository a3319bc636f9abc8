package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GQuery
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** Corpus-curation operators (round-2 extension of the §2.11 pipeline
  * family): benchmark decontamination, per-domain capping, URL parsing,
  * PII redaction, deterministic shuffle-sharding, a third TPC-H composite
  * (Q3 shape) for bench density, and group-wise outlier detection with
  * cross-engine-exact statistics. All oracle-gated.
  */
object CurationQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q97: benchmark decontamination — flag training documents sharing any
    // word 5-gram with a held-out benchmark set (the standard eval-leakage
    // guard before LLM training). The benchmark side is SMALL by nature
    // (eval suites are thousands of docs, the corpus is the 100 TB side),
    // so its distinct n-gram hashes are broadcast and the corpus side
    // never shuffles for the probe — one map-side broadcast join plus one
    // groupBy(doc_id) shuffle of (doc_id, hit) rows. Grams travel as
    // 60-bit md5 hashes, not strings (oracle-reproducible, ~10× narrower
    // shuffle rows than raw 5-grams). The shingle transform lives INSIDE
    // the explode generator (generator inputs are computed once per row;
    // a named `grams` column referenced by size()+filter()+explode() gets
    // re-inlined into each by CollapseProject — 3× the shingle cost, the
    // known Catalyst pitfall), and n_ngrams falls out of the post-explode
    // count: shingles are distinct per doc, so count(*) == size(grams),
    // and <5-word docs explode to zero rows — no size() anywhere.
    GQuery(
      "q97_decontaminate",
      (s, d) => {
        // spread BEFORE the per-token work: the fixture arrives as one
        // parquet file = one partition, which would serialize all shingle
        // hashing onto a single core (measured 5.3 s of the original 5.8).
        def exploded(pred: org.apache.spark.sql.Column) =
          Tables.spread(Tables.documents(s, d).filter(pred), col("doc_id"))
            .select(col("doc_id"),
              explode(TF.wordShingleHashes(col("text"), 5)).as("gh"))
        val benchGrams = exploded(col("doc_id") % 25 === 0)
          .select(col("gh")).distinct()
          .withColumn("hit", lit(1L))
        exploded(col("doc_id") % 25 =!= 0)
          .join(broadcast(benchGrams), Seq("gh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_ngrams"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .withColumn("contamination",
            col("n_hits").cast("double") / col("n_ngrams"))
          .withColumn("flag_contaminated", col("n_hits") > 0)
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_distinct(list_transform(range(1, len(string_split(text,' ')) - 3),
             |           i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||
             |                string_split(text,' ')[i+2]||' '||string_split(text,' ')[i+3]||' '||
             |                string_split(text,' ')[i+4])) AS grams
             |  FROM documents WHERE len(string_split(text,' ')) >= 5),
             |b AS (
             |  SELECT DISTINCT CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS gh
             |  FROM (SELECT unnest(grams) AS g FROM d WHERE doc_id % 25 = 0)),
             |e AS (
             |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_ngrams,
             |         CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS gh
             |  FROM (SELECT doc_id, grams, unnest(grams) AS g FROM d WHERE doc_id % 25 <> 0))
             |SELECT e.doc_id, e.n_ngrams,
             |       CAST(SUM(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       CAST(SUM(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |         / e.n_ngrams AS contamination,
             |       SUM(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) > 0 AS flag_contaminated
             |FROM e LEFT JOIN b ON e.gh = b.gh
             |GROUP BY e.doc_id, e.n_ngrams
             |ORDER BY doc_id ASC""".stripMargin),
      "benchmark decontamination: broadcast 5-gram probe + per-doc overlap ratio"),

    // ------------------------------------------------------------------
    // q98: per-domain document cap — keep at most 3 documents per source,
    // preferring the longest (the web-corpus curation step that stops one
    // boilerplate-heavy domain from dominating the mixture). The rank<=3
    // filter is planned as WindowGroupLimit (per-partition top-k BEFORE
    // the full per-group sort materializes), so each of the millions of
    // domains at web scale costs a bounded heap, not a sort of its whole
    // group; one shuffle on source.
    GQuery(
      "q98_domain_cap",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .orderBy(col("source").asc, col("rnk").asc)
      },
      Some("""SELECT doc_id, source, n_chars,
             |       CAST(row_number() OVER (PARTITION BY source
             |         ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rnk
             |FROM documents
             |QUALIFY rnk <= 3
             |ORDER BY source ASC, rnk ASC""".stripMargin),
      "domain capping: top-3 docs per source via WindowGroupLimit top-k"),

    // ------------------------------------------------------------------
    // q99: URL parsing — host/path/query extraction plus registered-domain
    // and TLD heuristics, the metadata-derivation step of any web-crawl
    // pipeline. URLs are synthesized deterministically from fixture
    // columns (the corpus has no URL column), so the oracle can emit the
    // construction-time ground truth directly and the gate verifies
    // parse_url's decomposition against it. Row-local map work.
    GQuery(
      "q99_url_parse",
      (s, d) => {
        val url = concat(lit("https://www."), col("source"), lit(".example.com/"),
          col("lang"), lit("/"), col("doc_id").cast("string"),
          lit(".html?ref=r"), (col("doc_id") % 7).cast("string"))
        Tables.documents(s, d)
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), col("url"),
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY')").as("qs"),
            regexp_extract(expr("parse_url(url, 'HOST')"), "^www\\.(.+)$", 1)
              .as("reg_domain"),
            regexp_extract(expr("parse_url(url, 'HOST')"), "\\.([a-z]+)$", 1)
              .as("tld"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       'https://www.'||source||'.example.com/'||lang||'/'||
             |         CAST(doc_id AS VARCHAR)||'.html?ref=r'||CAST(doc_id % 7 AS VARCHAR) AS url,
             |       'www.'||source||'.example.com' AS host,
             |       '/'||lang||'/'||CAST(doc_id AS VARCHAR)||'.html' AS path,
             |       'ref=r'||CAST(doc_id % 7 AS VARCHAR) AS qs,
             |       source||'.example.com' AS reg_domain,
             |       'com' AS tld
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "URL parsing: parse_url host/path/query vs construction-time ground truth"),

    // ------------------------------------------------------------------
    // q100: PII redaction — scrub email addresses and phone-like numbers
    // from text, reporting per-doc redaction counts and the md5 of the
    // scrubbed output (content-exact without megabyte result rows). PII is
    // injected deterministically (the fixture corpus has none), so counts
    // are verifiable. Patterns use only character classes and counted
    // quantifiers, which behave identically in Java regex (Spark) and RE2
    // (DuckDB); replacement order (emails first) is fixed on both sides.
    // Pure map-side work — at 100 TB this runs at scan speed.
    GQuery(
      "q100_pii_redact",
      (s, d) => {
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "555-[0-9]{4}"
        val withPii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or call 555-"),
          lpad((col("doc_id") * 7919 % 10000).cast("string"), 4, "0"))
        Tables.documents(s, d)
          .select(col("doc_id"), withPii.as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("t"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_md5"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         text||' contact user'||CAST(doc_id AS VARCHAR)||
             |         '@mail.example.com or call 555-'||
             |         lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0') AS t
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
             |       md5(regexp_replace(regexp_replace(t,
             |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |         '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
             |FROM t ORDER BY doc_id ASC""".stripMargin),
      "PII redaction: regex email/phone scrub with per-doc counts, content-exact"),

    // ------------------------------------------------------------------
    // q101: deterministic shuffle-shard — assign every document a training
    // shard and a position within it from a seeded hash (reproducible
    // global shuffle without rand() or a global sort). One shuffle on the
    // shard key; each shard orders independently, so at 100 TB you size
    // shard count so one shard fits an executor (the production layout —
    // a single TOTAL order over the corpus would serialize into one task).
    GQuery(
      "q101_shuffle_shard",
      (s, d) => {
        val h = TF.md5Hash60(concat(lit("shuf:"), col("doc_id").cast("string")))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("h").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), h.as("h"))
          .withColumn("shard", pmod(col("h"), lit(8L)))
          .withColumn("pos", row_number().over(w))
          .orderBy(col("shard").asc, col("pos").asc)
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         CAST(('0x'||substr(md5('shuf:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS h
             |  FROM documents)
             |SELECT doc_id, h, h % 8 AS shard,
             |       CAST(row_number() OVER (PARTITION BY h % 8
             |         ORDER BY h ASC, doc_id ASC) AS INT) AS pos
             |FROM t ORDER BY shard ASC, pos ASC""".stripMargin),
      "deterministic shuffle-shard: seeded-hash training order, no global sort"),

    // ------------------------------------------------------------------
    // q102 ~ TPC-H Q3 (shipping priority): segment-filtered customers join
    // orders join lineitem, top-10 open orders by pending revenue. The
    // join order filters early (segment prunes customers 5×, the date
    // predicates prune both fact scans BEFORE the joins — both reach
    // PushedFilters); join strategy is left to Catalyst/AQE because at
    // TPC-H scale the filtered customer side outgrows any broadcast
    // threshold — a fixed broadcast hint here would be a 100 TB bug, and
    // AQE picks broadcast at small SF on its own.
    GQuery(
      "q102_shipping_priority",
      (s, d) => {
        val cutoff = lit("1998-01-01").cast("timestamp")
        val c = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < cutoff)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > cutoff)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          // double at the boundary (OutputPolicy): order-preserving here —
          // 13-significant-digit decimals convert exactly
          .agg(sum(dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
             |LIMIT 10""".stripMargin),
      "TPC-H Q3 shape: early-filtered 3-way join, top-10 by pending revenue"),

    // ------------------------------------------------------------------
    // q103: group-wise outlier detection (±2σ) with cross-engine-exact
    // statistics: l_quantity is integral, so sum and sum-of-squares over
    // BIGINT are exact, mean/variance are then single correctly-rounded
    // IEEE ops (identical on any engine — a stddev_samp() aggregate would
    // be accumulation-order-dependent and not hash-gateable). The outlier
    // test uses the squared form (q-mean)² · (n-1) > 4 · m2 — sqrt-free
    // and safe for n=1 groups (0 > 0 is false; no division anywhere).
    // Two passes over the fact: tiny per-group stats broadcast back for the
    // per-row test; a 3-partition window over the whole fact would be the
    // wrong shape at scale.
    GQuery(
      "q103_zscore_outliers",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        val stats = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
            sum(col("q") * col("q")).as("ss"))
          .withColumn("mean", col("s").cast("double") / col("n"))
          .withColumn("m2", col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double") / col("n"))
        val outliers = li.join(broadcast(stats), Seq("l_returnflag"))
          .filter((col("q").cast("double") - col("mean")) *
            (col("q").cast("double") - col("mean")) *
            (col("n") - 1).cast("double") > lit(4.0) * col("m2"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_outliers"))
        stats.join(outliers, Seq("l_returnflag"), "left")
          .select(col("l_returnflag"), col("n"), col("mean"), col("m2"),
            coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
          .orderBy(col("l_returnflag").asc)
      },
      Some("""WITH stats AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
             |         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
             |  FROM lineitem GROUP BY 1),
             |st AS (
             |  SELECT l_returnflag, n,
             |         CAST(s AS DOUBLE) / n AS mean,
             |         CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS m2
             |  FROM stats),
             |o AS (
             |  SELECT li.l_returnflag, COUNT(*) AS n_outliers
             |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem) li
             |  JOIN st ON li.l_returnflag = st.l_returnflag
             |  WHERE (CAST(q AS DOUBLE) - mean) * (CAST(q AS DOUBLE) - mean)
             |        * CAST(n - 1 AS DOUBLE) > 4.0 * m2
             |  GROUP BY 1)
             |SELECT st.l_returnflag, st.n, st.mean, st.m2,
             |       CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers
             |FROM st LEFT JOIN o ON st.l_returnflag = o.l_returnflag
             |ORDER BY st.l_returnflag ASC""".stripMargin),
      "±2σ group outliers: exact integer sums -> deterministic IEEE stats, sqrt-free"),

    // ------------------------------------------------------------------
    // q178: Unicode NFC canonicalization — the step web-scale curation
    // runs FIRST (crawled text mixes precomposed é with e+combining-acute;
    // every downstream equality — dedup keys, shingles, decontamination
    // probes — silently misses until the corpus is canonical). Runs the
    // custom codegen'd Expression graft.expressions.NfcNormalize over
    // strings that exercise the real cases: combining marks that compose
    // (e+́, A+̊, n+̃), a singleton substitution (Ω U+2126 → Ω U+03A9), and
    // already-composed text that must pass through unchanged. The two
    // engines CONSTRUCT the raw strings independently (Scala \u literals
    // vs DuckDB chr()) and normalize independently (java.text.Normalizer
    // vs nfc_normalize — two UAX #15 implementations), so the gate
    // cross-checks the normalization itself, not a shared library.
    GQuery(
      "q178_unicode_nfc",
      (s, d) => {
        import graft.expressions.NfcNormalize
        val m = col("doc_id") % 4
        // escapes, never raw glyphs: source tooling could silently
        // re-normalize a pasted decomposed sequence and break the gate
        val prefix = when(m === 0, lit("cafe\u0301")) // e + combining acute
          .when(m === 1, lit("A\u030Angstrom")) // A + combining ring
          .when(m === 2, lit("\u2126ohm")) // ohm sign (singleton -> U+03A9)
          .otherwise(lit("\u00E9\u00F1")) // precomposed: passes unchanged
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat(prefix, lit(" "), expr("split_part(text, ' ', 1)")).as("raw"))
          .select(col("doc_id"), NfcNormalize(col("raw")).as("norm"),
            length(col("raw")).as("len_raw"))
          .select(col("doc_id"), col("norm"), col("len_raw"),
            length(col("norm")).as("len_norm"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH r AS (
             |  SELECT doc_id,
             |         (CASE CAST(doc_id % 4 AS INT)
             |            WHEN 0 THEN 'cafe' || chr(769)
             |            WHEN 1 THEN 'A' || chr(778) || 'ngstrom'
             |            WHEN 2 THEN chr(8486) || 'ohm'
             |            ELSE chr(233) || chr(241) END)
             |         || ' ' || split_part(text, ' ', 1) AS raw
             |  FROM documents),
             |n AS (SELECT doc_id, nfc_normalize(raw) AS norm, raw FROM r)
             |SELECT doc_id, norm,
             |       CAST(length(raw) AS INT) AS len_raw,
             |       CAST(length(norm) AS INT) AS len_norm
             |FROM n ORDER BY doc_id ASC""".stripMargin),
      "Unicode NFC canonicalization via custom codegen Expression, dual-implementation gate"),

    // ------------------------------------------------------------------
    // q179: corpus-level repeated-chunk removal — the C4 "deduplicate
    // lines across the corpus" pass (Raffel et al., JMLR 2020 §2.2),
    // at sub-document granularity: the unit is a 10-token chunk, every
    // occurrence is cut EXCEPT the globally-first one (min (doc_id, ci) —
    // C4's keep-one-occurrence rule made deterministic), and surviving
    // chunks reassemble in position order. This is the tier between
    // whole-doc dedup (q34) and exact-span dedup (q175): cheaper than
    // spans (no pair join — chunk boundaries are fixed, so one groupBy
    // elects a canonical occurrence and one 1:1-per-occurrence join
    // applies the verdict; NEVER a k² bucket blowup, so no cap needed),
    // coarser (misses shifted duplicates, which is exactly what q175
    // exists for). 100 TB: two corpus-sized shuffles (chunk hash, doc
    // reassembly), both linear.
    GQuery(
      "q179_chunk_dedup",
      (s, d) => {
        val chunks = Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), posexplode(
            expr("transform(sequence(0, CAST(ceil(size(ws)/10.0) AS INT) - 1)," +
              " i -> array_join(slice(ws, i*10+1, 10), ' '))")).as(Seq("ci", "chunk")))
        val canon = chunks.groupBy(col("chunk"))
          .agg(min(struct(col("doc_id"), col("ci"))).as("c"))
          .select(col("chunk"), col("c.doc_id").as("cd"), col("c.ci").as("cc"))
        chunks.join(canon, "chunk")
          .withColumn("keep", col("doc_id") === col("cd") && col("ci") === col("cc"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            md5(array_join(transform(
              array_sort(collect_list(when(col("keep"), struct(col("ci"), col("chunk"))))),
              x => x.getField("chunk")), " ")).as("hash_after"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |chunks AS (
             |  SELECT doc_id, i AS ci, array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS chunk
             |  FROM (SELECT doc_id, ws,
             |          unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT))) AS i
             |        FROM toks)),
             |cd AS (SELECT chunk, MIN(doc_id) AS cd FROM chunks GROUP BY chunk),
             |canon AS (
             |  SELECT c.chunk, c.cd, MIN(ch.ci) AS cc
             |  FROM cd c JOIN chunks ch ON ch.chunk = c.chunk AND ch.doc_id = c.cd
             |  GROUP BY c.chunk, c.cd),
             |kept AS (
             |  SELECT ch.doc_id, ch.ci, ch.chunk,
             |         (ch.doc_id = c.cd AND ch.ci = c.cc) AS keep
             |  FROM chunks ch JOIN canon c ON ch.chunk = c.chunk)
             |SELECT doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |       md5(COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY ci), ''))
             |         AS hash_after
             |FROM kept GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin),
      "C4-style repeated-chunk removal: global keep-first election, positional reassembly"),
  )
}
