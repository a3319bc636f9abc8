package graft.queries

import org.apache.spark.sql.functions._
import graft.GQuery
import graft.sources.Tables
import graft.functions.{MinHash, SimHash, Similarity, TextFunctions => TF}
import graft.multimodal.{Multimodal, Shards}

/** North-star training-data pipeline operators (SURVEY.md §2.11): the
  * dedup family (exact, fingerprint, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding cosine), similarity search (exact brute-force + LSH ANN),
  * text analysis (tokens, quality, language-ID), and multimodal binary
  * plumbing with a stubbed codec.
  *
  * Oracle policy: hash-dependent ops use the md5-derived 60-bit hash
  * (TextFunctions.md5Hash60) that DuckDB reproduces via
  * CAST('0x'||substr(md5(x),1,15) AS BIGINT), so even MinHash/SimHash
  * results are oracle-checked, not just rows-counted. The one genuinely
  * estimator-specific query (LSH ANN) has no oracle and is recall-tested
  * in ScalaTest against the exact top-k.
  */
object NorthStarQueries {

  /** SimHash signature construction in DuckDB SQL, shared by the q37
    * (signatures) and q196 (banded Hamming join) oracles — ONE source of
    * truth so the two gates can never drift onto different formulas.
    */
  private val simhashSigCtes: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
      |h AS (SELECT doc_id, CAST(('0x'||substr(md5(word),1,15)) AS BIGINT) AS hv FROM w),
      |bits AS (SELECT doc_id, j,
      |                SUM(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |         FROM h, range(60) r(j) GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |               CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
      |                        ELSE 0 END) AS BIGINT) AS simhash
      |        FROM bits GROUP BY 1)""".stripMargin

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q34: exact dedup — deterministic keep-min-id per text group (the
    // deterministic form of dropDuplicates; one shuffle on the hash of the
    // full text; at 100 TB dedup on md5(text) instead to shrink shuffle keys).
    GQuery(
      "q34_dedup_exact",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select(col("doc_id"), col("n_copies"), md5(col("text")).as("text_hash"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, md5(text) AS text_hash
             |FROM documents GROUP BY text ORDER BY doc_id ASC""".stripMargin),
      "exact dedup: keep min doc_id per identical text"),

    // ------------------------------------------------------------------
    // q35: fingerprint dedup — md5 over normalized text (lower, collapse
    // whitespace, trim) catches formatting-only duplicates.
    GQuery(
      "q35_dedup_fingerprint",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(TF.fingerprint(col("text")).as("fingerprint"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select(col("doc_id"), col("fingerprint"), col("n_copies"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT MIN(doc_id) AS doc_id,
             |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
             |       COUNT(*) AS n_copies
             |FROM documents
             |GROUP BY 2 ORDER BY doc_id ASC""".stripMargin),
      "fingerprint dedup: md5 of normalized text"),

    // ------------------------------------------------------------------
    // q36: MinHash + banded LSH near-dup pairs, exact-Jaccard-verified.
    // The oracle computes exact all-pairs Jaccard ≥ 0.5. Measured corpus
    // margin (not just theory): pairs are bimodal — near-dups at j≥0.8
    // (the lowest real pair, j=0.800 at sf0.1, collides in 7 of 16 bands;
    // per-pair miss probability at j=0.8 is ~2.2e-4 with b=16,r=4) and
    // background at j<0.07. Verification removes all false positives, and
    // the equality LSH==exact was CHECKED at both sf0.01 and sf0.1 on the
    // fixed seed-42 corpus; a regenerated corpus with mid-band pairs
    // (j≈0.5-0.7) would need more bands to keep the equality gate.
    GQuery(
      "q36_dedup_minhash",
      (s, d) => {
        MinHash.nearDuplicatePairs(Tables.documents(s, d), "doc_id", "text",
            shingleSize = 3, threshold = 0.5)
          .orderBy(col("id_a").asc, col("id_b").asc)
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct(list_transform(range(1, len(ws)-1),
             |           i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sset
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
             |  WHERE len(ws) >= 3)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
             |       len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
             |      len(list_distinct(list_concat(a.sset, b.sset))) >= 0.5
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "MinHash+LSH near-dup pairs == exact 3-gram Jaccard pairs (verified)"),

    // ------------------------------------------------------------------
    // q37: SimHash signatures (60-bit, md5-derived token hashes) — the
    // map-side sketch; banded pair extraction shares MinHash.bands' shape.
    GQuery(
      "q37_dedup_simhash",
      (s, d) => {
        SimHash.signatures(Tables.spread(Tables.documents(s, d), col("doc_id")),
            "doc_id", TF.tokens(col("text")))
          .orderBy(col("doc_id").asc)
      },
      Some(s"""$simhashSigCtes
             |SELECT doc_id, simhash FROM sig ORDER BY doc_id ASC""".stripMargin),
      "SimHash 60-bit signatures, oracle recomputes bit-exactly"),

    // ------------------------------------------------------------------
    // q38: exact n-gram Jaccard within (source, lang) blocks — the blocked
    // O(Σ block²) form of pairwise similarity; blocking is mirrored in the
    // oracle so results align exactly. The pair OUTPUT is quadratic in
    // block size by contract (every within-block pair gets its score);
    // what must NOT be quadratic-in-array-work is the scoring: instead of
    // shipping both shingle arrays to every pair and running
    // array_intersect/array_union per row (~300 string hashes × 16 M pairs
    // at sf1 ≈ 10 min), intersections are counted ONCE via shingle
    // co-occurrence — explode the distinct shingles, equi-join on
    // (block, shingle), count per doc pair — and |∪| = |a|+|b|−|∩|. The
    // pair frame itself carries only ints, pairs sharing nothing never
    // enter the co-occurrence join (left-join ⇒ jaccard 0), and the
    // co-occurrence volume Σ_shingle k² is bounded by the pair output the
    // contract already emits. Same int/int division ⇒ bit-identical
    // doubles. sf1: 17× faster than the per-pair array form.
    GQuery(
      "q38_ngram_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // docs with <3 tokens have empty shingle sets → 0/0 jaccard; drop
        // them on both engines (oracle filters len(ws) >= 3). Filter on the
        // cheap token count BEFORE projecting shingles — a filter on the
        // shingle column itself would recompute the shingling per row.
        val sh = docs
          .filter(size(TF.tokens(col("text"))) >= 3)
          .select(col("source"), col("lang"), col("doc_id"),
            TF.wordShingles(col("text"), 3).as("sset"))
          .select(col("source"), col("lang"), col("doc_id"),
            col("sset"), size(col("sset")).as("ssize"))
        val a = sh.select(col("source"), col("lang"),
          col("doc_id").as("id_a"), col("ssize").as("na"))
        val b = sh.select(col("source"), col("lang"),
          col("doc_id").as("id_b"), col("ssize").as("nb"))
        val pairs = a.join(b, Seq("source", "lang"))
          .filter(col("id_a") < col("id_b"))
        val ex = sh.select(col("source"), col("lang"), col("doc_id"),
          explode(col("sset")).as("shingle"))
        val inter = ex.as("x").join(ex.as("y"),
            col("x.source") === col("y.source") &&
              col("x.lang") === col("y.lang") &&
              col("x.shingle") === col("y.shingle") &&
              col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .agg(count(lit(1)).as("ninter"))
        pairs.join(inter, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"),
            (coalesce(col("ninter"), lit(0L)).cast("double") /
              (col("na") + col("nb") - coalesce(col("ninter"), lit(0L))))
              .as("jaccard"))
          .orderBy(col("id_a").asc, col("id_b").asc)
      },
      Some("""WITH sh AS (
             |  SELECT source, lang, doc_id,
             |         list_distinct(list_transform(range(1, len(ws)-1),
             |           i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sset
             |  FROM (SELECT source, lang, doc_id, string_split(text, ' ') AS ws FROM documents)
             |  WHERE len(ws) >= 3)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
             |       len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
             |FROM sh a JOIN sh b
             |  ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "blocked exact n-gram Jaccard pairs"),

    // ------------------------------------------------------------------
    // q39: exact cosine top-k via the custom Catalyst expression
    // (graft.expressions.CosineSimilarity, codegen'd double accumulation) —
    // bit-identical to DuckDB's list_cosine_similarity over DOUBLE[].
    GQuery(
      "q39_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5)
          .orderBy(col("query_id").asc, col("rank").asc)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
             |sims AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |         list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
             |                                CAST(e.embedding AS DOUBLE[])) AS sim,
             |         ROW_NUMBER() OVER (PARTITION BY q.query_id
             |                            ORDER BY list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
             |                                     CAST(e.embedding AS DOUBLE[])) DESC,
             |                                     e.vec_id ASC) AS rank
             |  FROM embeddings e CROSS JOIN q
             |  WHERE e.vec_id <> q.query_id)
             |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, sim FROM sims
             |WHERE rank <= 5 ORDER BY query_id ASC, rank ASC""".stripMargin),
      "exact cosine top-5 per query vector (custom codegen expression)"),

    // ------------------------------------------------------------------
    // q40: approximate ANN via random-hyperplane LSH — the scale path.
    // Band-OR over 8 independent 4-plane tables + 1-bit multiprobe lifts
    // recall ≥0.9 vs brute force (OpsSpec) while candidates stay bucketed.
    // The neighbor SET is estimator-specific, so the gated OUTPUT is the
    // deterministic workload summary (VERDICT r4): the LSH pipeline AND
    // the exact top-5 both run in this plan, and the booleans assert the
    // per-query recall floor (≥3/5, q72's proven invariant) and the
    // aggregate recall floor (≥80% of all exact top-5 hits recovered —
    // OpsSpec measures ≥90% at fixture SFs; 80% leaves rotation headroom
    // for the sf1 replicas). q72 additionally pins the per-query rank/sim
    // contract row by row.
    GQuery(
      "q40_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        val lsh = Similarity.lshTopK(emb, queries,
          "vec_id", "embedding", dims = 64, k = 5,
          planes = 4, tables = 8, probeRadius = 1)
        val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        // hits = |LSH top-5 ∩ exact top-5| per query; count off the QUERY
        // set (left join) so a query with zero LSH candidates still counts
        // — and fails the floor — instead of vanishing from the output
        val hits = lsh.select(col("query_id"), col("neighbor_id"))
          .join(exact.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        queries.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(coalesce(col("hits"), lit(0L)).as("h"))
          .agg(count(lit(1)).as("n_queries"),
            min(col("h")).as("minh"), sum(col("h")).as("sumh"))
          .select(col("n_queries"),
            (col("minh") >= 3).as("per_query_floor"),
            (col("sumh") >= col("n_queries") * 5 * 8 / 10).as("aggregate_recall"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
             |       true AS per_query_floor, true AS aggregate_recall
             |FROM embeddings WHERE vec_id < 10""".stripMargin),
      "LSH ANN (band-OR + multiprobe), recall-floor gated vs in-plan exact top-5"),

    // ------------------------------------------------------------------
    // q41: embedding near-dup pairs, cosine ≥ 0.3, blocked by label.
    GQuery(
      "q41_embed_neardup",
      (s, d) => {
        Similarity.blockedNearDupPairs(Tables.embeddings(s, d),
            "vec_id", "embedding", "label", threshold = 0.3)
          .orderBy(col("id_a").asc, col("id_b").asc)
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                              CAST(b.embedding AS DOUBLE[])) AS sim
             |FROM embeddings a JOIN embeddings b
             |  ON a.label = b.label AND a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "blocked embedding near-dup pairs by cosine threshold"),

    // ------------------------------------------------------------------
    // q42–q44: text analysis.
    GQuery(
      "q42_text_tokens",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens"),
            TF.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
            length(col("text")).cast("long").as("n_chars_obs"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |       CAST(length(text) AS BIGINT) AS n_chars_obs
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "token counting (whitespace tokenizer)"),

    GQuery(
      "q43_text_quality",
      (s, d) => {
        val feats = TF.qualityFeatures(col("text"), TF.defaultStopwords)
          .map { case (n, c) => c.as(n) }
        Tables.documents(s, d)
          .select(col("doc_id") +: feats: _*)
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       CAST(length(text) AS BIGINT) AS n_chars,
             |       CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |       CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct_tokens,
             |       CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
             |         / len(string_split(text,' ')) AS mean_token_len,
             |       CAST(len(list_filter(string_split(text,' '),
             |                w -> w IN ('the','a','to','of'))) AS DOUBLE)
             |         / len(string_split(text,' ')) AS stopword_ratio,
             |       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
             |         / length(text) AS punct_ratio
             |FROM documents ORDER BY doc_id ASC""".stripMargin),
      "quality scoring: length/stopword/punctuation features"),

    GQuery(
      "q44_text_langid",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), TF.langId(col("text")).as("pred_lang"), col("lang"),
            (TF.langId(col("text")) === col("lang")).as("agree"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH ws AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
             |sc AS (SELECT doc_id, lang,
             |         len(list_filter(w, x -> x IN ('the','a','of','and'))) AS c_en,
             |         len(list_filter(w, x -> x IN ('der','die','das','und'))) AS c_de,
             |         len(list_filter(w, x -> x IN ('el','la','de','y'))) AS c_es,
             |         len(list_filter(w, x -> x IN ('le','la','et','les'))) AS c_fr,
             |         len(list_filter(w, x -> x IN ('的','是','了','在'))) AS c_zh
             |       FROM ws),
             |p AS (SELECT doc_id, lang,
             |        CASE WHEN c_en >= greatest(c_en,c_de,c_es,c_fr,c_zh) AND c_en > 0 THEN 'en'
             |             WHEN c_de >= greatest(c_en,c_de,c_es,c_fr,c_zh) AND c_de > 0 THEN 'de'
             |             WHEN c_es >= greatest(c_en,c_de,c_es,c_fr,c_zh) AND c_es > 0 THEN 'es'
             |             WHEN c_fr >= greatest(c_en,c_de,c_es,c_fr,c_zh) AND c_fr > 0 THEN 'fr'
             |             WHEN c_zh >= greatest(c_en,c_de,c_es,c_fr,c_zh) AND c_zh > 0 THEN 'zh'
             |             ELSE 'und' END AS pred_lang
             |      FROM sc)
             |SELECT doc_id, pred_lang, lang, pred_lang = lang AS agree
             |FROM p ORDER BY doc_id ASC""".stripMargin),
      "language-ID heuristic (marker tokens, fixed tie precedence)"),

    // ------------------------------------------------------------------
    // q45: multimodal metadata extraction — text bytes stand in for media
    // payloads; real mapPartitions plumbing + stubbed codec (FakeCodec).
    GQuery(
      "q45_multimodal_meta",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            col("text").cast("binary").as("payload"),
            lit("text/plain").as("media_type"))
          .as[Multimodal.MediaRow]
        Multimodal.decodeMeta(media).toDF()
          .orderBy(col("media_id").asc)
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       md5(text) AS content_hash,
             |       CAST(64 + CAST(('0x'||substr(md5(text),1,7)) AS BIGINT) % 1856 AS INT) AS width,
             |       CAST(64 + CAST(('0x'||substr(md5(text),8,7)) AS BIGINT) % 1856 AS INT) AS height,
             |       CAST(octet_length(encode(text)) // 64 + 1 AS INT) AS n_frames
             |FROM documents ORDER BY media_id ASC""".stripMargin),
      "multimodal: binary payload + typed metadata via mapPartitions codec stub"),

    // ------------------------------------------------------------------
    // q46: frame sampling fan-out (video-pipeline shape): one media row →
    // every 4th frame index.
    GQuery(
      "q46_frame_sample",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            col("text").cast("binary").as("payload"),
            lit("video/fake").as("media_type"))
          .as[Multimodal.MediaRow]
        Multimodal.sampleFrames(Multimodal.decodeMeta(media).toDF(), stride = 4)
          .orderBy(col("media_id").asc, col("frame_idx").asc)
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(octet_length(encode(text)) // 64 + 1 AS INT) AS n_frames,
             |       CAST(unnest(range(0, octet_length(encode(text)) // 64 + 1, 4)) AS INT) AS frame_idx
             |FROM documents ORDER BY media_id ASC, frame_idx ASC""".stripMargin),
      "multimodal: deterministic frame sampling fan-out"),

    // ------------------------------------------------------------------
    // q173: audio/video container metadata, driver-gated end-to-end
    // (VERDICT r4 #5 follow-through). Per doc_id the plan SYNTHESIZES a
    // spec-conformant payload — even ids a PCM WAV, odd ids an ISO-BMFF
    // MP4 — whose header fields are pure formulas of the id, then parses
    // the BYTES back with ContainerCodec (the real RIFF chunk walk / box
    // tree walk). The oracle recomputes the formulas relationally without
    // ever seeing the bytes, so any builder/parser disagreement
    // (endianness, 16.16 fixed-point shift, box offset, integer-division
    // duration rounding) is a red hash, not a self-consistent roundtrip.
    // All divisions are positive-operand truncations on both engines
    // (Spark Long `/`, DuckDB `//`).
    GQuery(
      "q173_container_meta",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              if (id % 2 == 0)
                Multimodal.MediaRow(id,
                  Multimodal.SyntheticMedia.wav(
                    rate = (8000 * (1 + id % 3)).toInt,
                    channels = (1 + (id / 2) % 2).toInt,
                    frames = (200 + id % 800).toInt),
                  "audio/wav")
              else
                Multimodal.MediaRow(id,
                  Multimodal.SyntheticMedia.mp4(
                    timescale = 600,
                    durationTicks = (600 * (id % 50) + 10 * (id % 7)).toInt,
                    w = (160 + 16 * (id % 20)).toInt,
                    h = (120 + 8 * (id % 30)).toInt,
                    n1 = (10 + id % 40).toInt, n2 = 5),
                  "video/mp4")
            }
          }
        Multimodal.containerMeta(media).toDF()
          .select(col("media_id"), col("media_kind"),
            col("sample_rate"), col("n_channels"), col("duration_ms"),
            col("n_tracks"), col("width"), col("height"), col("n_frames"))
          .transform(Multimodal.sortDecoded("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END AS media_kind,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 3) ELSE 0 END AS INT) AS sample_rate,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2 ELSE 0 END AS INT) AS n_channels,
             |  CAST(CASE WHEN doc_id % 2 = 0
             |       THEN ((200 + doc_id % 800) * 1000) // (8000 * (1 + doc_id % 3))
             |       ELSE ((600 * (doc_id % 50) + 10 * (doc_id % 7)) * 1000) // 600
             |       END AS BIGINT) AS duration_ms,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS n_tracks,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 160 + 16 * (doc_id % 20) END AS INT) AS width,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 120 + 8 * (doc_id % 30) END AS INT) AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 200 + doc_id % 800 ELSE 15 + doc_id % 40 END AS BIGINT) AS n_frames
             |FROM documents ORDER BY media_id ASC""".stripMargin),
      "audio/video container header parse (WAV chunk walk, MP4 box walk), formula-oracle gated"),

    // ------------------------------------------------------------------
    // q143 (fills the registry's documented numbering gap): REAL PCM
    // sample decode — the audio half of the former FakeCodec boundary.
    // Per doc_id the plan synthesizes a 16-bit PCM WAV whose waveform is
    // a pure formula of the key (SyntheticMedia.wavWave), then DECODES THE
    // SAMPLES back from the bytes (AudioCodec.pcmStats: s16le parse,
    // sign-extension and all) and reports integer-exact stats. The oracle
    // replays the formula over a generated series without ever seeing the
    // bytes, so endianness/sign/interleaving disagreements between builder
    // and parser are a red hash. (A builder+parser SHARING one encoding
    // bug would self-cancel here — MultimodalSpec pins the parser against
    // independent golden bytes to close that hole.) After this gate,
    // FakeCodec covers only compressed codecs (no codec libs in this
    // container) — the honest boundary, now sample-level for PCM audio.
    GQuery(
      "q143_pcm_stats",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.wavWave(
                  channels = (1 + id % 2).toInt,
                  frames = (200 + id % 300).toInt,
                  k = (3 + id % 11).toInt),
                "audio/wav")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val (n, sumV, sumAbs, peak) = Multimodal.AudioCodec.pcmStats(r.payload)
            (r.media_id, n, sumV, sumAbs, peak)
          }
        }.toDF("media_id", "n_samples", "sum_v", "sum_abs", "peak_abs")
          .orderBy(col("media_id").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS ch, 200 + doc_id % 300 AS frames,
             |         3 + doc_id % 11 AS k
             |  FROM documents),
             |s AS (SELECT doc_id, ch, k, unnest(range(0, frames * ch)) AS j FROM m),
             |v AS (SELECT doc_id, ((j // ch) * k + (j % ch) * 997) % 2001 - 1000 AS v FROM s)
             |SELECT doc_id AS media_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_samples,
             |       CAST(SUM(v) AS BIGINT) AS sum_v,
             |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             |       CAST(MAX(ABS(v)) AS INT) AS peak_abs
             |FROM v GROUP BY doc_id ORDER BY media_id ASC""".stripMargin),
      "real PCM sample decode (s16le parse) with integer-exact stats, formula-oracle gated"),

    // ------------------------------------------------------------------
    // q61–q63: corpus statistics — the map/reduce backbone of tokenizer and
    // data-mix work: vocabulary, document frequency, n-gram counts. All
    // explode → partial-aggregate shapes (shuffle carries one row per
    // distinct term per partition, never per token).
    GQuery(
      "q61_vocab_topk",
      (s, d) => {
        Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(explode(TF.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word").asc)
          .limit(20)
      },
      Some("""SELECT word, COUNT(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin),
      "corpus vocabulary: global token counts, top-k"),

    GQuery(
      "q62_term_docfreq",
      (s, d) => {
        Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), explode(array_distinct(TF.tokens(col("text")))).as("word"))
          .groupBy(col("word"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .orderBy(col("word").asc)
      },
      Some("""SELECT word, COUNT(DISTINCT doc_id) AS df
             |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
             |      FROM documents)
             |GROUP BY word ORDER BY word ASC""".stripMargin),
      "document frequency per term (IDF numerator)"),

    GQuery(
      "q63_bigram_counts",
      (s, d) => {
        Tables.spread(Tables.documents(s, d), col("doc_id"))
          .select(explode(TF.wordShinglesAll(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
          .limit(25)
      },
      Some("""SELECT bigram, COUNT(*) AS n
             |FROM (SELECT unnest(list_transform(range(1, len(ws)),
             |                    i -> ws[i]||' '||ws[i+1])) AS bigram
             |      FROM (SELECT string_split(text, ' ') AS ws FROM documents))
             |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 25""".stripMargin),
      "corpus bigram counts (with duplicates), top-k"),

    // ------------------------------------------------------------------
    // q68: IVF over a LEARNED quantizer — deterministic driver-loop k-means
    // (lowest-id init, cosine argmax, mergeable centroid aggregate) trains
    // the cells, then probed-cell exact search. Gated at nprobe = 8 = k
    // cells (VERDICT r4): probing every learned cell makes the search
    // exact by construction WHATEVER the trainer converged to, so the
    // whole trainer→quantizer→probe→cell-join path must reproduce
    // brute-force top-5 bit-for-bit (q39's oracle). Partial-probe recall
    // and trainer self-consistency are gated by q73/q74's invariants.
    GQuery(
      "q68_ivf_kmeans",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = graft.functions.KMeans.fit(
          emb, "vec_id", "embedding", k = 8, dims = 64, iterations = 3)
        // assignment is a projection against the centroids as a literal:
        // the cell id lands next to the vector in one pass — no corpus
        // self-join by id to re-attach the embedding to its cluster
        val cells = graft.functions.KMeans.assignAll(emb, "embedding", centroids)
        graft.functions.Similarity.ivfTopK(cells, cells.filter(col("vec_id") < 10),
            "vec_id", "embedding", "cluster", centroids, k = 5, nprobe = 8)
          .coalesce(1) // k × |queries| = 5 × 10 rows: one task sorts them
          .orderBy(col("query_id").asc, col("rank").asc)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
             |sims AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |         list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
             |                                CAST(e.embedding AS DOUBLE[])) AS sim,
             |         ROW_NUMBER() OVER (PARTITION BY q.query_id
             |                            ORDER BY list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
             |                                     CAST(e.embedding AS DOUBLE[])) DESC,
             |                                     e.vec_id ASC) AS rank
             |  FROM embeddings e CROSS JOIN q
             |  WHERE e.vec_id <> q.query_id)
             |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, sim FROM sims
             |WHERE rank <= 5 ORDER BY query_id ASC, rank ASC""".stripMargin),
      "IVF ANN over k-means-learned cells; full probe == exact"),

    // ------------------------------------------------------------------
    // q138: semantic dedup GROUPS over embeddings — the q41 blocked cosine
    // pairs closed into connected components (exactly the MinHash→clusters
    // composition q81 gates on text, here on the embedding modality): the
    // output a curation pipeline actually consumes (pick one exemplar per
    // cluster) rather than raw pairs. Same scale shape as q81: pair
    // generation is label-blocked (never all-pairs), clustering is the
    // O(log² n)-round star contraction. Oracle: naive all-pairs cosine
    // within label blocks + recursive-CTE closure (q117's oracle pattern).
    // r9: switched from min-label propagation to large-star/small-star —
    // the 0.3-threshold embedding graph is CHAIN-shaped (measured diameter
    // ~20 at sf0.1, i.e. ~20 propagation rounds of fixed per-round job
    // cost vs ~5 star rounds; labelings verified identical), unlike the
    // clique-shaped MinHash dup groups where propagation's 2-3 rounds win.
    GQuery(
      "q138_embed_clusters",
      (s, d) => {
        val pairs = Similarity.blockedNearDupPairs(Tables.embeddings(s, d),
            "vec_id", "embedding", "label", threshold = 0.3)
          .select(col("id_a"), col("id_b"))
        graft.functions.Components.connectedComponentsStar(pairs, "id_a", "id_b")
          .select(col("id").as("vec_id"), col("comp").as("cluster"))
          .orderBy(col("vec_id").asc)
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT a.vec_id AS src, b.vec_id AS dst
             |  FROM embeddings a JOIN embeddings b
             |    ON a.label = b.label AND a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[])) >= 0.3),
             |bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
             |reach(id, comp) AS (
             |  SELECT src, src FROM bi
             |  UNION
             |  SELECT b.dst, r.comp FROM reach r JOIN bi b ON b.src = r.id)
             |SELECT id AS vec_id, MIN(comp) AS cluster
             |FROM reach GROUP BY id ORDER BY vec_id ASC""".stripMargin),
      "embedding-modality dedup clusters: blocked cosine pairs -> components"),

    // ------------------------------------------------------------------
    // q195: image-modality dedup via REAL decode + resize + perceptual
    // dHash — no fake anywhere in the path. Payloads are deterministic
    // gray PNGs (a pure formula of doc_id % 97, ImageOps.synthPng), so
    // 97 distinct patterns repeat across the corpus; the pipeline decodes
    // the actual PNG bytes with javax.imageio, downsamples to an 8×8
    // luminance thumbnail by integer nearest-neighbor, fingerprints with
    // the 56-bit row-gradient dHash, and sizes each fingerprint's dup
    // group — the image analog of the q34/q35 text-dedup gates. The
    // DuckDB oracle recomputes width/height/sum_lum/dhash from the pixel
    // FORMULA (it never sees a byte of PNG), so a defect anywhere in
    // synth, the codec, the resampler, or the bit packing is a hash
    // mismatch, never a self-consistent roundtrip. 100 TB: decode+hash is
    // pure map work at the mapPartitions codec boundary; the group-size
    // window shuffles 8 bytes per image, not pixels.
    GQuery(
      "q195_image_dhash",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val media = mediaIds(s, d).map { id =>
          Multimodal.MediaRow(id, Multimodal.ImageOps.synthPng(id % 97), "image/png")
        }
        Multimodal.ImageOps.imageFeatures(media)
          .withColumn("dup_group_size",
            count(lit(1)).over(Window.partitionBy(col("dhash"))))
          .orderBy(col("media_id").asc)
      },
      Some("""WITH dim AS (
             |  SELECT doc_id, doc_id % 97 AS key,
             |         CAST(16 + (doc_id % 97) % 17 AS INT) AS w,
             |         CAST(16 + (doc_id % 97) % 13 AS INT) AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, w, h, y.y AS y, x.x AS x,
             |         (7*((x.x*w)//8) + 13*((y.y*h)//8) + 31*key) % 256 AS l
             |  FROM dim, range(0,8) y(y), range(0,8) x(x)),
             |s AS (SELECT doc_id, CAST(SUM(l) AS BIGINT) AS sum_lum
             |      FROM px GROUP BY doc_id),
             |hb AS (
             |  SELECT a.doc_id,
             |         CAST(COALESCE(SUM(CASE WHEN b.l > a.l
             |           THEN CAST(1 AS BIGINT) << CAST(a.y*7 + a.x AS INT)
             |           ELSE 0 END), 0) AS BIGINT) AS dhash
             |  FROM px a JOIN px b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 7
             |  GROUP BY a.doc_id),
             |j AS (
             |  SELECT dim.doc_id AS media_id, dim.w AS width, dim.h AS height,
             |         s.sum_lum, hb.dhash
             |  FROM dim JOIN s ON s.doc_id = dim.doc_id
             |           JOIN hb ON hb.doc_id = dim.doc_id)
             |SELECT media_id, width, height, sum_lum, dhash,
             |       COUNT(*) OVER (PARTITION BY dhash) AS dup_group_size
             |FROM j ORDER BY media_id ASC""".stripMargin),
      "image dedup: real PNG decode -> integer NN resize -> 56-bit dHash -> dup groups"),

    // ------------------------------------------------------------------
    // q196: banded Hamming near-dup JOIN over SimHash signatures — q37
    // emits the sketch; this is the operational tier that FINDS the pairs
    // without an all-pairs comparison. 4 bands × 15 bits: any pair within
    // Hamming ≤ 3 shares at least one identical band (pigeonhole — a
    // theorem, not a heuristic, so banding has zero false negatives and
    // the oracle can be the honest ALL-PAIRS form), bucket equi-join on
    // (band, chunk), exact bit_count filter after.
    // 100 TB: one signature-sized shuffle (8-byte sigs, not documents);
    // the all-pairs oracle is quadratic BY CONSTRUCTION and excluded from
    // sf1 rotation like q185's.
    //
    // The GATED run passes an unbounded hot-bucket cap: the production
    // default (maxBucket=10000) drops whole (band, chunk) buckets on a
    // degenerate corpus, and the oracle is exact all-pairs — a capped
    // gate would diverge SILENTLY the day the fixture grows a dup group
    // past the cap. Unbounded, equality with the oracle is guaranteed by
    // the pigeonhole theorem alone (ADVICE r6). The cap path itself stays
    // covered by OpsSpec's degenerate-corpus test, which asserts
    // dropped_band_rows > 0 is observed when the cap fires.
    GQuery(
      "q196_hamming_neardup",
      (s, d) => {
        val sigs = SimHash.signatures(
          Tables.spread(Tables.documents(s, d), col("doc_id")),
          "doc_id", TF.tokens(col("text")))
        SimHash.bandedNearDupPairs(sigs, "doc_id", maxHamming = 3,
            maxBucket = Int.MaxValue)
          .orderBy(col("id_a").asc, col("id_b").asc)
      },
      Some(s"""$simhashSigCtes
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
             |ORDER BY id_a ASC, id_b ASC""".stripMargin),
      "SimHash banded Hamming join == exact all-pairs (pigeonhole, no false negatives)"),

    // ------------------------------------------------------------------
    // q201: multi-frame GIF sample decode — the last FakeCodec retirement
    // (VERDICT r6 #6). Payloads are deterministic ANIMATED gray GIFs
    // (ImageOps.synthGif: w/h/frame-count and every pixel a pure formula
    // of doc_id % 89), decoded frame-BY-frame with javax.imageio's real
    // GIF reader, each frame downsampled + dHashed exactly like q195. The
    // DuckDB oracle recomputes every per-frame feature from the formula
    // (it never sees a GIF byte), so a defect in the writer's palette, the
    // reader, the frame indexing, or the time-axis term (29·f) is a hash
    // mismatch, never a self-consistent roundtrip. 100 TB: per-frame
    // decode is pure map work at the mapPartitions codec boundary; output
    // is frame-metadata-sized, never pixels.
    GQuery(
      "q201_gif_frames",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d).map { id =>
          Multimodal.MediaRow(id, Multimodal.ImageOps.synthGif(id % 89), "image/gif")
        }
        Multimodal.ImageOps.gifFrameFeatures(media)
          .orderBy(col("media_id").asc, col("frame_idx").asc)
      },
      Some("""WITH dim AS (
             |  SELECT doc_id, doc_id % 89 AS key,
             |         CAST(8 + (doc_id % 89) % 9 AS INT) AS w,
             |         CAST(8 + (doc_id % 89) % 7 AS INT) AS h,
             |         CAST(2 + (doc_id % 89) % 4 AS INT) AS n
             |  FROM documents),
             |fr AS (
             |  SELECT dim.*, CAST(f.f AS INT) AS f
             |  FROM dim, range(0,5) f(f) WHERE f.f < n),
             |px AS (
             |  SELECT doc_id, f, w, h, n, y.y AS y, x.x AS x,
             |         (7*((x.x*w)//8) + 13*((y.y*h)//8) + 29*f + 31*key) % 256 AS l
             |  FROM fr, range(0,8) y(y), range(0,8) x(x)),
             |s AS (SELECT doc_id, f, CAST(SUM(l) AS BIGINT) AS sum_lum
             |      FROM px GROUP BY doc_id, f),
             |hb AS (
             |  SELECT a.doc_id, a.f,
             |         CAST(COALESCE(SUM(CASE WHEN b.l > a.l
             |           THEN CAST(1 AS BIGINT) << CAST(a.y*7 + a.x AS INT)
             |           ELSE 0 END), 0) AS BIGINT) AS dhash
             |  FROM px a JOIN px b
             |    ON b.doc_id = a.doc_id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 7
             |  GROUP BY a.doc_id, a.f)
             |SELECT s.doc_id AS media_id, s.f AS frame_idx, d.n AS n_frames,
             |       d.w AS width, d.h AS height, s.sum_lum, hb.dhash
             |FROM s JOIN hb ON hb.doc_id = s.doc_id AND hb.f = s.f
             |     JOIN dim d ON d.doc_id = s.doc_id
             |ORDER BY media_id ASC, frame_idx ASC""".stripMargin),
      "real multi-frame GIF decode: per-frame resize + dHash == pixel-formula oracle"),

    // ------------------------------------------------------------------
    // q202: MP3 container metadata — the compressed-audio half of the
    // container tier made real at the HEADER level. MP3 has no JVM sample
    // decoder (that honestly stays behind FakeCodec), but the frame
    // headers are plain public-spec bytes (ISO/IEC 11172-3): sync +
    // bitrate/sample-rate indices per frame, frame length
    // 144000·kbps/rate + padding, 1152 samples per frame. parseMp3 walks
    // the frames (skipping ID3v2 tags via their synchsafe size — the
    // formula plants a tag on every 5th doc to keep that path gated),
    // yielding sample rate, channel mode, first-frame bitrate, frame
    // count, and exact integer-ms duration. The DuckDB oracle recomputes
    // all five from the synthesis formula without seeing a byte, so a
    // builder/parser disagreement on any header field or the synchsafe
    // skip is a hash mismatch, never a self-consistent roundtrip. 100 TB:
    // pure map-side header walk at the codec boundary, output is
    // metadata-sized — the audio-corpus filter step (duration/bitrate
    // gates) of a training pipeline.
    GQuery(
      "q202_mp3_meta",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.mp3(
                  kbpsIdx = (1 + id % 14).toInt,
                  srIdx = (id % 3).toInt,
                  frames = (2 + id % 6).toInt,
                  mono = id % 4 == 0,
                  id3Size = if (id % 5 == 0) (40 + id % 60).toInt else 0),
                "audio/mpeg")
            }
          }
        Multimodal.containerMeta(media).toDF()
          .select(col("media_id"), col("media_kind"), col("sample_rate"),
            col("n_channels"), col("bitrate_kbps"), col("duration_ms"),
            col("n_frames"))
          .transform(Multimodal.sortDecoded("media_id"))
      },
      Some("""SELECT doc_id AS media_id, 'audio' AS media_kind,
             |  CAST(list_extract([44100,48000,32000],
             |       CAST(doc_id % 3 AS INT) + 1) AS INT) AS sample_rate,
             |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END AS INT) AS n_channels,
             |  CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
             |       CAST(1 + doc_id % 14 AS INT)) AS INT) AS bitrate_kbps,
             |  CAST((2 + doc_id % 6) * 1152 * 1000
             |       // list_extract([44100,48000,32000], CAST(doc_id % 3 AS INT) + 1)
             |       AS BIGINT) AS duration_ms,
             |  CAST(2 + doc_id % 6 AS BIGINT) AS n_frames
             |FROM documents
             |ORDER BY media_id ASC""".stripMargin),
      "real MP3 frame-header walk: rate/channels/bitrate/frames/duration == formula oracle"),

    // ------------------------------------------------------------------
    // q203: FLAC STREAMINFO metadata — the lossless-audio sibling of
    // q202's MP3 walk (public spec, RFC 9639). The metadata section is a
    // typed block walk; STREAMINFO packs sample rate (20 bits),
    // channels−1 (3), bits-per-sample−1 (5) and a 36-bit total-sample
    // count into one big-endian 64-bit field — exactly the bit-surgery a
    // parser gets subtly wrong, so every field gates against a formula
    // oracle that never sees a byte. Every 3rd doc carries a filler
    // metadata block BEFORE the STREAMINFO so the step-over-by-declared-
    // length path is exercised by the gate itself, not just specs.
    // 100 TB: header-priced map work; duration/bit-depth filters over a
    // lossless-audio corpus without touching a single sample.
    GQuery(
      "q203_flac_meta",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.flac(
                  sampleRate = Array(32000, 44100, 48000, 96000)((id % 4).toInt),
                  channels = (1 + id % 8).toInt,
                  bitsPerSample = if (id % 2 == 0) 16 else 24,
                  totalSamples = 1000 + id % 9000,
                  fillerLen = if (id % 3 == 0) (20 + id % 50).toInt else 0),
                "audio/flac")
            }
          }
        Multimodal.flacMeta(media).toDF()
          .orderBy(col("media_id").asc)
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(list_extract([32000,44100,48000,96000],
             |       CAST(doc_id % 4 AS INT) + 1) AS INT) AS sample_rate,
             |  CAST(1 + doc_id % 8 AS INT) AS n_channels,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END AS INT)
             |    AS bits_per_sample,
             |  CAST(1000 + doc_id % 9000 AS BIGINT) AS total_samples,
             |  CAST((1000 + doc_id % 9000) * 1000
             |       // list_extract([32000,44100,48000,96000], CAST(doc_id % 4 AS INT) + 1)
             |       AS BIGINT) AS duration_ms
             |FROM documents
             |ORDER BY media_id ASC""".stripMargin),
      "real FLAC STREAMINFO bit-field parse: rate/channels/depth/samples/duration == formula oracle"),

    // ------------------------------------------------------------------
    // q204: Ogg/Vorbis container metadata — completes the audio container
    // family (WAV/q45, MP4/q173, MP3/q202, FLAC/q203) with the page-framed
    // one (public specs: RFC 3533 framing + Vorbis I identification
    // header). The parse is a page walk: lacing tables give each page's
    // payload length, the BOS packet's Vorbis ID header gives
    // rate/channels/nominal bitrate, and the LAST page's 64-bit granule
    // position IS the stream's total sample count — duration costs zero
    // packet reads. The DuckDB oracle recomputes all five fields from the
    // synthesis formula without seeing a byte, so a builder/parser
    // disagreement on LE field layout, lacing arithmetic, or the granule
    // walk is a hash mismatch, never a self-consistent roundtrip. 100 TB:
    // pure map-side header walk at the codec boundary, metadata-sized
    // output — the duration/bitrate corpus filter for Ogg audio.
    GQuery(
      "q204_ogg_meta",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.ogg(
                  rate = Array(8000, 16000, 22050, 44100, 48000)((id % 5).toInt),
                  channels = (1 + id % 2).toInt,
                  nominalKbps = (64 + (id % 8) * 16).toInt,
                  dataPages = (1 + id % 4).toInt,
                  totalSamples = 10000 + (id * 7) % 90000),
                "audio/ogg")
            }
          }
        Multimodal.containerMeta(media).toDF()
          .select(col("media_id"), col("media_kind"), col("sample_rate"),
            col("n_channels"), col("bitrate_kbps"),
            col("n_frames").as("total_samples"), col("duration_ms"))
          .orderBy(col("media_id").asc)
      },
      Some("""SELECT doc_id AS media_id, 'audio' AS media_kind,
             |  CAST(list_extract([8000,16000,22050,44100,48000],
             |       CAST(doc_id % 5 AS INT) + 1) AS INT) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS INT) AS n_channels,
             |  CAST(64 + (doc_id % 8) * 16 AS INT) AS bitrate_kbps,
             |  CAST(10000 + (doc_id * 7) % 90000 AS BIGINT) AS total_samples,
             |  CAST((10000 + (doc_id * 7) % 90000) * 1000
             |       // list_extract([8000,16000,22050,44100,48000], CAST(doc_id % 5 AS INT) + 1)
             |       AS BIGINT) AS duration_ms
             |FROM documents
             |ORDER BY media_id ASC""".stripMargin),
      "real Ogg/Vorbis page walk: rate/channels/bitrate/granule-samples/duration == formula oracle"),

    // ------------------------------------------------------------------
    // q205: real VIDEO sample decode — AVI frames stored as uncompressed
    // bottom-up BGR24 DIBs ('00db', BI_RGB) are plain bytes, no codec
    // library needed, so the video half of the old FakeCodec boundary is
    // retired for the uncompressed family exactly as AudioCodec retired
    // it for PCM WAV (compressed video honestly stays behind FakeCodec).
    // Payloads are deterministic gray AVIs (SyntheticMedia.avi: container
    // geometry, frame count, µs/frame and every pixel a pure formula of
    // doc_id % 97); VideoOps walks LIST/movi, decodes each frame's DIB
    // (bottom-up rows, 4-byte padding, BGR order), and emits the q201
    // per-frame resize + dHash. The DuckDB oracle recomputes every field
    // INCLUDING the avih-derived duration from the formula without seeing
    // a byte — a builder/parser disagreement on RIFF sizes, row order,
    // padding, or the time-axis term is a hash mismatch, never a
    // self-consistent roundtrip. 100 TB: pure map-side decode at the
    // codec boundary; frame-metadata-sized output, pixels never shuffle.
    GQuery(
      "q205_avi_frames",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d).map { id =>
          Multimodal.MediaRow(id, Multimodal.SyntheticMedia.avi(id % 97), "video/x-msvideo")
        }
        Multimodal.VideoOps.aviFrameFeatures(media)
          .orderBy(col("media_id").asc, col("frame_idx").asc)
      },
      Some("""WITH dim AS (
             |  SELECT doc_id, doc_id % 97 AS key,
             |         CAST(8 + (doc_id % 97) % 11 AS INT) AS w,
             |         CAST(8 + (doc_id % 97) % 5 AS INT) AS h,
             |         CAST(2 + (doc_id % 97) % 3 AS INT) AS n,
             |         CAST((2 + (doc_id % 97) % 3) * 20 * (1 + (doc_id % 97) % 5)
             |              AS BIGINT) AS dur_ms
             |  FROM documents),
             |fr AS (
             |  SELECT dim.*, CAST(f.f AS INT) AS f
             |  FROM dim, range(0,4) f(f) WHERE f.f < n),
             |px AS (
             |  SELECT doc_id, f, w, h, n, dur_ms, y.y AS y, x.x AS x,
             |         (7*((x.x*w)//8) + 13*((y.y*h)//8) + 29*f + 31*key) % 256 AS l
             |  FROM fr, range(0,8) y(y), range(0,8) x(x)),
             |s AS (SELECT doc_id, f, CAST(SUM(l) AS BIGINT) AS sum_lum
             |      FROM px GROUP BY doc_id, f),
             |hb AS (
             |  SELECT a.doc_id, a.f,
             |         CAST(COALESCE(SUM(CASE WHEN b.l > a.l
             |           THEN CAST(1 AS BIGINT) << CAST(a.y*7 + a.x AS INT)
             |           ELSE 0 END), 0) AS BIGINT) AS dhash
             |  FROM px a JOIN px b
             |    ON b.doc_id = a.doc_id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 7
             |  GROUP BY a.doc_id, a.f)
             |SELECT s.doc_id AS media_id, s.f AS frame_idx,
             |       CAST(d.n AS BIGINT) AS n_frames,
             |       d.w AS width, d.h AS height, d.dur_ms AS duration_ms,
             |       s.sum_lum, hb.dhash
             |FROM s JOIN hb ON hb.doc_id = s.doc_id AND hb.f = s.f
             |     JOIN dim d ON d.doc_id = s.doc_id
             |ORDER BY media_id ASC, frame_idx ASC""".stripMargin),
      "real AVI/DIB video frame decode: per-frame resize + dHash + duration == pixel-formula oracle"),

    // ------------------------------------------------------------------
    // q206: tar shard ingestion — the WebDataset-shaped first operator of
    // a 100 TB multimodal pipeline: corpora ship as millions of tar
    // shards, and "explode shard bytes into member rows" is the map-side
    // fan-out every downstream step builds on. Shards.ArchiveCodec walks
    // real POSIX ustar blocks (NUL-padded names, ASCII-OCTAL sizes — the
    // field a naive parser reads as decimal — typeflag dispatch, 512-byte
    // body padding, zero-block termination). Each gated shard carries a
    // DIRECTORY member in the middle so the non-file skip path (position
    // advances, no row) is exercised by the gate, not just specs. The
    // DuckDB oracle recomputes member names, sizes, stream positions, and
    // content byte-sums from the synthesis formula without seeing a byte.
    // 100 TB: pure map-side walk at the codec boundary; member METADATA
    // shuffles, payload bytes never do.
    GQuery(
      "q206_tar_members",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Shards.SyntheticShards.tarShard(id % 101), "application/x-tar")
            }
          }
        Shards.tarMemberRows(media)
          .orderBy(col("shard_id").asc, col("member_idx").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, doc_id % 101 AS key, CAST(i.i AS INT) AS i
             |  FROM documents, range(0,4) i(i)
             |  WHERE i.i < 2 + (doc_id % 101) % 3),
             |d AS (
             |  SELECT doc_id, key, i,
             |         CAST(CASE WHEN i = 0 THEN 0 ELSE i + 1 END AS INT) AS member_idx,
             |         'shard' || key || '/doc' || i || '.txt' AS name,
             |         CAST(10 + (7*key + 13*i) % 90 AS BIGINT) AS size
             |  FROM m),
             |s AS (
             |  SELECT d.doc_id, d.i,
             |         CAST(SUM((11*j.j + 29*d.i + 31*d.key) % 256) AS BIGINT) AS byte_sum
             |  FROM d, range(0,99) j(j) WHERE j.j < d.size
             |  GROUP BY d.doc_id, d.i)
             |SELECT d.doc_id AS shard_id, d.member_idx, d.name, d.size, s.byte_sum
             |FROM d JOIN s ON s.doc_id = d.doc_id AND s.i = d.i
             |ORDER BY shard_id ASC, member_idx ASC""".stripMargin),
      "real ustar shard walk: member names/octal sizes/positions/byte-sums == formula oracle"),

    // ------------------------------------------------------------------
    // q207: real gzip decompression (RFC 1952, the JDK Inflater) at the
    // codec boundary — compressed text is the norm for training corpora,
    // and this is ACTUAL decompression, not a stand-in. The gate's
    // contract is deliberately asymmetric: the COMPRESSED encoding is
    // producer-specific (deflate choices vary), so only DECOMPRESSED
    // features are gated — length and content byte-sum, both pure
    // formulas of the key. Every 7th doc's payload is truncated
    // mid-stream, so the corrupt contract ((-1, 0) — surfaced by the
    // Inflater, not a sniff) is part of the gated output. A maxOut cap
    // degrades decompression bombs to the same contract instead of an
    // executor OOM. 100 TB: map-side decompress, feature-sized output.
    GQuery(
      "q207_gzip_corpus",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val full = Shards.SyntheticShards.gzipDoc(id % 103)
              val payload = if (id % 7 == 0) full.dropRight(6) else full
              Multimodal.MediaRow(id, payload, "application/gzip")
            }
          }
        Shards.gunzipStatsRows(media).orderBy(col("media_id").asc)
      },
      Some("""WITH k AS (
             |  SELECT doc_id, doc_id % 103 AS key,
             |         10 + (7 * (doc_id % 103)) % 90 AS len
             |  FROM documents),
             |s AS (
             |  SELECT k.doc_id,
             |         CAST(SUM((11*j.j + 31*k.key) % 256) AS BIGINT) AS content_sum
             |  FROM k, range(0,99) j(j) WHERE j.j < k.len
             |  GROUP BY k.doc_id)
             |SELECT k.doc_id AS media_id,
             |       CAST(CASE WHEN k.doc_id % 7 = 0 THEN -1 ELSE k.len END
             |            AS BIGINT) AS out_len,
             |       CAST(CASE WHEN k.doc_id % 7 = 0 THEN 0 ELSE s.content_sum END
             |            AS BIGINT) AS byte_sum
             |FROM k JOIN s ON s.doc_id = k.doc_id
             |ORDER BY media_id ASC""".stripMargin),
      "real gzip decompress: decompressed length/byte-sum == formula oracle, truncation -> corrupt contract"),

    // ------------------------------------------------------------------
    // q208: magic-dispatched MIXED-codec decompression — real corpora mix
    // producers (legacy gzip shards next to zstd re-packs, the codec
    // Spark itself ships zstd-jni for), so the dispatch is part of the
    // operator: the sniffed codec label is a gated fact alongside the
    // decompressed features. One third of the corpus is gzip, one third
    // zstd (BOTH real decompressors), one third raw formula bytes that
    // match neither magic (provably: byte0 = 31k mod 256 = 0x1f forces
    // k ≡ 1, whence byte1 = 42 ≠ 0x8b; = 0x28 forces k ≡ 216, whence
    // byte1 = 51 ≠ 0xb5 — so "unknown" is structural, not luck). Every
    // 7th doc is truncated mid-stream: the label survives the sniff, the
    // features degrade to the corrupt contract (-1, 0) — surfaced by the
    // real Inflater/zstd frame walk, not by a length check. 100 TB: pure
    // map-side decode at the codec boundary, feature-sized output.
    GQuery(
      "q208_mixed_codecs",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val key = id % 97
              val full = (id % 3) match {
                case 0 => Shards.SyntheticShards.gzipDoc(key)
                case 1 => Shards.SyntheticShards.zstdDoc(key)
                case _ => Shards.SyntheticShards.memberBytes(key, 0)
              }
              val payload = if (id % 7 == 0) full.dropRight(6) else full
              Multimodal.MediaRow(id, payload, "application/octet-stream")
            }
          }
        Shards.decompressStatsRows(media).transform(Multimodal.sortDecoded("media_id"))
      },
      Some("""WITH k AS (
             |  SELECT doc_id, doc_id % 97 AS key, doc_id % 3 AS c,
             |         10 + (7 * (doc_id % 97)) % 90 AS len
             |  FROM documents),
             |s AS (
             |  SELECT k.doc_id,
             |         CAST(SUM((11*j.j + 31*k.key) % 256) AS BIGINT) AS content_sum
             |  FROM k, range(0,99) j(j) WHERE j.j < k.len
             |  GROUP BY k.doc_id)
             |SELECT k.doc_id AS media_id,
             |       CASE k.c WHEN 0 THEN 'gzip' WHEN 1 THEN 'zstd'
             |            ELSE 'unknown' END AS codec,
             |       CAST(CASE WHEN k.c = 2 OR k.doc_id % 7 = 0 THEN -1
             |            ELSE k.len END AS BIGINT) AS out_len,
             |       CAST(CASE WHEN k.c = 2 OR k.doc_id % 7 = 0 THEN 0
             |            ELSE s.content_sum END AS BIGINT) AS byte_sum
             |FROM k JOIN s ON s.doc_id = k.doc_id
             |ORDER BY media_id ASC""".stripMargin),
      "magic-dispatched gzip/zstd decompress over a mixed corpus: codec label + features == formula oracle"),

    // ------------------------------------------------------------------
    // q209: WebDataset sample assembly — the operator that makes a tar
    // shard a TRAINING corpus: members sharing a basename (img.jpg +
    // img.txt + img.json) are one sample, so the member stream regroups
    // by (shard, basename) into per-sample rows carrying part count,
    // total bytes, content fingerprint, and the sorted extension list
    // (the modality signature downstream filters dispatch on). 100 TB:
    // members of a sample come off the same shard row on the same
    // partition, so map-side partial aggregation collapses each sample
    // locally — the exchange carries one row per SAMPLE. Gate: the full
    // walk→regroup pipeline over synthesized wds shards == a formula
    // oracle that never sees a byte.
    GQuery(
      "q209_wds_samples",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Shards.SyntheticShards.wdsShard(id % 107), "application/x-tar")
            }
          }
        Shards.assembleSamples(Shards.tarMemberRows(media))
          .orderBy(col("shard_id").asc, col("sample_key").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, doc_id % 107 AS key,
             |         CAST(i.i AS INT) AS i, CAST(c.c AS INT) AS c
             |  FROM documents, range(0,4) i(i), range(0,4) c(c)
             |  WHERE i.i < 2 + (doc_id % 107) % 3),
             |d AS (
             |  SELECT doc_id, key, i, c, 4*i + c AS mi,
             |         CAST(10 + (7*key + 13*(4*i + c)) % 90 AS BIGINT) AS size
             |  FROM m),
             |s AS (
             |  SELECT d.doc_id, d.i, d.c,
             |         CAST(SUM((11*j.j + 29*d.mi + 31*d.key) % 256) AS BIGINT) AS byte_sum
             |  FROM d, range(0,99) j(j) WHERE j.j < d.size
             |  GROUP BY d.doc_id, d.i, d.c)
             |SELECT d.doc_id AS shard_id, 's' || d.i AS sample_key,
             |       CAST(4 AS BIGINT) AS n_parts,
             |       CAST(SUM(d.size) AS BIGINT) AS total_size,
             |       CAST(SUM(s.byte_sum) AS BIGINT) AS total_byte_sum,
             |       'bin,json,seg.cls,txt' AS exts
             |FROM d JOIN s ON s.doc_id = d.doc_id AND s.i = d.i AND s.c = d.c
             |GROUP BY d.doc_id, d.i
             |ORDER BY shard_id ASC, sample_key ASC""".stripMargin),
      "WebDataset assembly: tar walk + per-sample regroup (FIRST-dot key, multi-dotted part type) == formula oracle"),

    // ------------------------------------------------------------------
    // q210: real zip member walk — the other archive convention corpora
    // ship in (image dumps, code corpora). Unlike the tar walk, member
    // payloads are DEFLATE-compressed, so 'size' and 'byte_sum' here are
    // REAL decompression output (JDK ZipInputStream: local headers +
    // Inflater + data descriptors), not header fields — the compressed
    // encoding is producer-specific, the decompressed features are the
    // formula's. Corrupt paths in the gated corpus: every 7th doc is raw
    // formula bytes (provably never the PK\3\4 magic for any key in
    // range: byte0 = 31k mod 256 = 0x50 needs k ≡ 176, and keys stop at
    // 108) → no rows; every 5th doc has its EOCD tail clipped → the
    // STREAM walk is provably unaffected (central directory never read).
    // A mid-stream directory entry exercises the non-file skip. 100 TB:
    // map-side inflate at the codec boundary, metadata-sized output.
    GQuery(
      "q210_zip_members",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val key = id % 109
              val payload =
                if (id % 7 == 0) Shards.SyntheticShards.memberBytes(key, 0)
                else {
                  val full = Shards.SyntheticShards.zipShard(key)
                  if (id % 5 == 0) full.dropRight(6) else full
                }
              Multimodal.MediaRow(id, payload, "application/zip")
            }
          }
        Shards.zipMemberRows(media)
          .orderBy(col("shard_id").asc, col("member_idx").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, doc_id % 109 AS key, CAST(i.i AS INT) AS i
             |  FROM documents, range(0,4) i(i)
             |  WHERE i.i < 2 + (doc_id % 109) % 3 AND doc_id % 7 <> 0),
             |d AS (
             |  SELECT doc_id, key, i,
             |         CAST(CASE WHEN i = 0 THEN 0 ELSE i + 1 END AS INT) AS member_idx,
             |         'doc' || i || '.txt' AS name,
             |         CAST(10 + (7*key + 13*i) % 90 AS BIGINT) AS size
             |  FROM m),
             |s AS (
             |  SELECT d.doc_id, d.i,
             |         CAST(SUM((11*j.j + 29*d.i + 31*d.key) % 256) AS BIGINT) AS byte_sum
             |  FROM d, range(0,99) j(j) WHERE j.j < d.size
             |  GROUP BY d.doc_id, d.i)
             |SELECT d.doc_id AS shard_id, d.member_idx, d.name, d.size, s.byte_sum
             |FROM d JOIN s ON s.doc_id = d.doc_id AND s.i = d.i
             |ORDER BY shard_id ASC, member_idx ASC""".stripMargin),
      "real zip stream walk: DECOMPRESSED member sizes/byte-sums == formula oracle; raw bytes never sniff, EOCD clip provably harmless"),

    // ------------------------------------------------------------------
    // q211: shard EXPORT roundtrip — the write half of the shard tier
    // (re-sharding/compacting a WebDataset corpus is pack ∘ walk). Docs
    // are packed 8-per-shard into REAL ustar bytes (ArchiveCodec
    // .tarArchive: octal sizes, checksums, 512-padding) by a distributed
    // groupBy — shard_id = doc_id/8 is a pure formula, so assignment is
    // restart-safe with no sequence state — then the gate re-walks the
    // EXPORTED payloads with the real member walk and the oracle
    // recomputes every member row from the doc formula. A writer bug
    // (octal field, checksum placement, padding) desynchronizes the walk
    // and fails the hash; nothing is self-consistent because walk and
    // oracle never share code. 100 TB: the one payload shuffle is
    // inherent to packing; the per-group sort is ≤8 rows.
    GQuery(
      "q211_shard_export",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions { ids =>
            ids.map { id =>
              Shards.ShardDoc(id, s"doc$id.txt",
                Shards.SyntheticShards.memberBytes(id % 97, 0))
            }
          }
        Shards.tarMemberRows(Shards.packTarShards(docs, 8))
          .orderBy(col("shard_id").asc, col("member_idx").asc)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 8 AS shard_id, doc_id % 97 AS key,
             |         CAST(row_number() OVER (
             |           PARTITION BY doc_id // 8 ORDER BY doc_id) - 1 AS INT)
             |           AS member_idx,
             |         'doc' || doc_id || '.txt' AS name,
             |         CAST(10 + (7 * (doc_id % 97)) % 90 AS BIGINT) AS size
             |  FROM documents),
             |s AS (
             |  SELECT d.doc_id,
             |         CAST(SUM((11*j.j + 31*d.key) % 256) AS BIGINT) AS byte_sum
             |  FROM d, range(0,99) j(j) WHERE j.j < d.size
             |  GROUP BY d.doc_id)
             |SELECT d.shard_id, d.member_idx, d.name, d.size, s.byte_sum
             |FROM d JOIN s ON s.doc_id = d.doc_id
             |ORDER BY shard_id ASC, member_idx ASC""".stripMargin),
      "shard export roundtrip: pack 8 docs/shard into real ustar bytes, re-walk == formula oracle"),

    // ------------------------------------------------------------------
    // q212: compressed-shard ingestion (.tar.gz / .tar.zst — the wire
    // format shard corpora actually SHIP, vs q206's bare tar): magic-
    // dispatched REAL decompression composed with the ustar walk, all
    // inside one map at the codec boundary — the decompressed archive
    // bytes live only for the walk's duration and never shuffle; only
    // member metadata leaves. One operator ingests a MIXED-compression
    // corpus: a third gzip, a third zstd, a third raw tar. Every 7th
    // doc is truncated: for the compressed thirds the Inflater/frame
    // walk surfaces corruption → no rows; for the raw third the cut
    // lands in the 1024-byte zero-terminator tail, which the walk
    // PROVABLY never needs (an all-zero block ends it) — both facts are
    // part of the gated output. 100 TB: map-side decompress+walk,
    // payload-free shuffle, bomb cap bounds per-row memory.
    GQuery(
      "q212_tgz_shards",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val tar = Shards.SyntheticShards.tarShard(id % 101)
              val full = (id % 3) match {
                case 0 => Shards.SyntheticShards.gzipBytes(tar)
                case 1 => Shards.SyntheticShards.zstdBytes(tar)
                case _ => tar
              }
              val payload = if (id % 7 == 0) full.dropRight(6) else full
              Multimodal.MediaRow(id, payload, "application/x-tar")
            }
          }
        Shards.compressedTarMemberRows(media)
          .orderBy(col("shard_id").asc, col("member_idx").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, doc_id % 101 AS key, CAST(i.i AS INT) AS i
             |  FROM documents, range(0,4) i(i)
             |  WHERE i.i < 2 + (doc_id % 101) % 3
             |    AND NOT (doc_id % 3 < 2 AND doc_id % 7 = 0)),
             |d AS (
             |  SELECT doc_id, key, i,
             |         CAST(CASE WHEN i = 0 THEN 0 ELSE i + 1 END AS INT) AS member_idx,
             |         'shard' || key || '/doc' || i || '.txt' AS name,
             |         CAST(10 + (7*key + 13*i) % 90 AS BIGINT) AS size
             |  FROM m),
             |s AS (
             |  SELECT d.doc_id, d.i,
             |         CAST(SUM((11*j.j + 29*d.i + 31*d.key) % 256) AS BIGINT) AS byte_sum
             |  FROM d, range(0,99) j(j) WHERE j.j < d.size
             |  GROUP BY d.doc_id, d.i)
             |SELECT d.doc_id AS shard_id, d.member_idx, d.name, d.size, s.byte_sum
             |FROM d JOIN s ON s.doc_id = d.doc_id AND s.i = d.i
             |ORDER BY shard_id ASC, member_idx ASC""".stripMargin),
      "compressed-shard ingestion: decompress∘walk over a mixed gzip/zstd/raw corpus == formula oracle; zero-tail clip provably harmless"),

    // ------------------------------------------------------------------
    // q213: STREAMING shard ingestion — shards land continuously in
    // production (a crawler/exporter writes as it goes), so the member
    // fan-out must compose with the real micro-batch engine. It does,
    // unchanged: the mapPartitions codec boundary is a narrow op, legal
    // in a streaming plan, so streaming ingest inherits the batch tier's
    // no-payload-shuffle property with no state store and no watermark.
    // GraftStreamSource emits 90 offsets in 3 checkpointed micro-batches;
    // every batch's member rows append to the sink; the oracle recomputes
    // the full member set from the shard formula over the identical
    // offset stream (the q172 discipline: the streaming EXECUTION itself
    // runs in the gate).
    GQuery(
      "q213_stream_shards",
      (s, _) => Shards.streamShardGate(s),
      Some("""WITH m AS (
             |  SELECT r.rid AS doc_id, r.rid % 101 AS key, CAST(i.i AS INT) AS i
             |  FROM range(0,90) r(rid), range(0,4) i(i)
             |  WHERE i.i < 2 + (r.rid % 101) % 3),
             |d AS (
             |  SELECT doc_id, key, i,
             |         CAST(CASE WHEN i = 0 THEN 0 ELSE i + 1 END AS INT) AS member_idx,
             |         'shard' || key || '/doc' || i || '.txt' AS name,
             |         CAST(10 + (7*key + 13*i) % 90 AS BIGINT) AS size
             |  FROM m),
             |s AS (
             |  SELECT d.doc_id, d.i,
             |         CAST(SUM((11*j.j + 29*d.i + 31*d.key) % 256) AS BIGINT) AS byte_sum
             |  FROM d, range(0,99) j(j) WHERE j.j < d.size
             |  GROUP BY d.doc_id, d.i)
             |SELECT CAST(d.doc_id AS BIGINT) AS shard_id, d.member_idx, d.name,
             |       d.size, s.byte_sum
             |FROM d JOIN s ON s.doc_id = d.doc_id AND s.i = d.i
             |ORDER BY shard_id ASC, member_idx ASC""".stripMargin),
      "streaming shard ingestion via the real micro-batch engine == the batch walk's formula oracle"),

    // ------------------------------------------------------------------
    // q214: HTML→text extraction — the FIRST text step of a web-corpus
    // pipeline (the C4 recipe: strip markup before any quality/dedup
    // work). htmlToText is pure builtin composition (regexp_replace +
    // literal replace — fully codegen'd, no UDF): script/style blocks
    // dropped wholesale, tags → spaces, named entities decoded AFTER
    // tag-strip (decoded angle brackets are text, never markup; &amp;
    // last = the decode-once rule), whitespace collapsed. The gate
    // synthesizes markup around the fixture text IN THE PLAN (escape ∘
    // embed), extracts, and the oracle recomputes the expected clean
    // text directly from the raw text — escape∘decode cancels, so any
    // divergence in strip order, entity table, or whitespace rule is a
    // hash mismatch. 100 TB: a projected expression, nothing else.
    GQuery(
      "q214_html_extract",
      (s, d) => {
        import graft.functions.{TextFunctions => TF}
        val html = concat(
          lit("<html><head><title>Doc</title>" +
            "<script type=\"text/javascript\">if (1 &lt; 2) { alert(\"x&amp;y\"); }</script>" +
            "<style>p { color: red; }</style></head><body><h1>Doc</h1><p>"),
          TF.htmlEscape(col("text")),
          lit("</p><div>&amp; &lt;tags&gt; &quot;ok&quot; &copy; 2026</div></body></html>"))
        Tables.documents(s, d)
          .select(col("doc_id"), TF.htmlToText(html).as("clean_text"))
          .withColumn("n_chars", length(col("clean_text")).cast("long"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       trim(regexp_replace(
             |         'Doc Doc ' || text || ' & <tags> "ok" © 2026',
             |         '\s+', ' ', 'g')) AS clean_text,
             |       CAST(length(trim(regexp_replace(
             |         'Doc Doc ' || text || ' & <tags> "ok" © 2026',
             |         '\s+', ' ', 'g'))) AS BIGINT) AS n_chars
             |FROM documents
             |ORDER BY doc_id ASC""".stripMargin),
      "HTML extraction: escape∘embed∘extract == identity on the raw text plus the decoded boilerplate"),

    // ------------------------------------------------------------------
    // q215: deny-list domain filtering — the robots/blocklist step of a
    // web-corpus pipeline. A deny entry governs its domain at ANY depth
    // (blocking example.org must block docs.example.org), so each host
    // expands to its dot-suffix chain and a doc is dropped iff any
    // suffix hits the list. Execution shape: the deny list is
    // artifact-sized, so the drop is ONE broadcast nested-loop LEFT
    // ANTI join on array_contains(suffixes, entry) — pure map-side,
    // ZERO corpus shuffle (the exploded-semi-join-then-anti alternative
    // would shuffle doc ids twice). The gated deny list exercises all
    // three match depths: a 2-level suffix blocking a 4-level host, an
    // exact-host entry blocking one source only, and a never-matching
    // entry. 100 TB: scan-speed filter.
    GQuery(
      "q215_domain_denylist",
      (s, d) => {
        import s.implicits._
        import graft.functions.{TextFunctions => TF}
        val host = concat(col("source"), lit("."),
          when(col("doc_id") % 3 === 0, "example.com")
            .when(col("doc_id") % 3 === 1, "docs.example.org")
            .otherwise("mirror.net"))
        val deny = Seq("example.org", "src3.mirror.net", "never.test")
          .toDF("deny_suffix")
        Tables.documents(s, d)
          .select(col("doc_id"), host.as("host"),
            TF.domainSuffixes(host).as("sufs"))
          .join(broadcast(deny),
            array_contains(col("sufs"), col("deny_suffix")), "left_anti")
          .select(col("doc_id"), col("host"))
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |       source || '.' || CASE CAST(doc_id % 3 AS INT)
             |         WHEN 0 THEN 'example.com'
             |         WHEN 1 THEN 'docs.example.org'
             |         ELSE 'mirror.net' END AS host
             |FROM documents
             |WHERE NOT (doc_id % 3 = 1 OR (doc_id % 3 = 2 AND source = 'src3'))
             |ORDER BY doc_id ASC""".stripMargin),
      "deny-list domain filter: suffix-chain broadcast anti-join == depth-aware CASE oracle, zero corpus shuffle"),

    // ------------------------------------------------------------------
    // q227: WARC record walk (ISO 28500 — the container web crawls
    // actually ship; Common Crawl is millions of .warc.gz shards). Real
    // framing walk: per record a WARC/1.x version line, case-insensitive
    // named headers, a Content-Length-framed payload block, a two-CRLF
    // separator; gzip-member shards go through the same magic-dispatched
    // decompression as the tar tier (the JDK inflater reads concatenated
    // members as one stream; record boundaries come from the WARC walk
    // itself). Corpus mixes raw and .warc.gz halves; every 7th shard is
    // TRUNCATED — a cut raw shard drops exactly its last (incompletely
    // framed) record, a cut gzip shard fails the CRC/trailer and yields
    // no rows (the corrupt-shard contract, surfaced by the REAL
    // inflater). Every gated field is a pure formula of (key, i), so
    // the oracle recomputes the walk relationally without seeing a
    // byte. 100 TB: map-side record fan-out at the codec boundary,
    // metadata-sized output, payload bytes never shuffle.
    GQuery(
      "q227_warc_records",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val key = id % 109
              val full = Shards.SyntheticShards.warcShard(key)
              val payload =
                if (id % 2 == 0) {
                  val gz = Shards.SyntheticShards.gzipBytes(full)
                  if (id % 7 == 0) gz.dropRight(10) else gz
                } else {
                  if (id % 7 == 0) full.dropRight(10) else full
                }
              Multimodal.MediaRow(id, payload, "application/warc")
            }
          }
        Shards.warcRecordRows(media)
          .orderBy(col("shard_id").asc, col("rec_idx").asc)
      },
      Some("""WITH k AS (
             |  SELECT doc_id, doc_id % 109 AS key,
             |         CASE WHEN doc_id % 7 = 0 AND doc_id % 2 = 0 THEN 0
             |              WHEN doc_id % 7 = 0 THEN 1 + (doc_id % 109) % 3
             |              ELSE 2 + (doc_id % 109) % 3 END AS n_vis
             |  FROM documents),
             |r AS (
             |  SELECT k.doc_id, k.key, CAST(i.i AS INT) AS i,
             |         CAST(10 + (7*k.key + 13*i.i) % 90 AS BIGINT) AS len
             |  FROM k, range(0, 4) i(i) WHERE i.i < k.n_vis),
             |s AS (
             |  SELECT r.doc_id, r.i,
             |         CAST(SUM((11*j.j + 29*r.i + 31*r.key) % 256) AS BIGINT) AS body_sum
             |  FROM r, range(0, 99) j(j) WHERE j.j < r.len
             |  GROUP BY r.doc_id, r.i)
             |SELECT r.doc_id AS shard_id, r.i AS rec_idx,
             |       CASE WHEN (r.key + r.i) % 3 = 0 THEN 'request' ELSE 'response' END
             |         AS warc_type,
             |       'https://host' || r.key || '.example.com/p/' || r.i AS target_uri,
             |       r.len AS content_length,
             |       s.body_sum
             |FROM r JOIN s ON s.doc_id = r.doc_id AND s.i = r.i
             |ORDER BY shard_id ASC, rec_idx ASC""".stripMargin),
      "WARC record walk (raw + .warc.gz): framing fields + body fingerprint == formula oracle; truncation degrades per contract"),
  )
}
