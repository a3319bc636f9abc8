package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{GQuery, Graft}
import graft.sources.{AvroIO, Tables}
import graft.functions.Automaton
import graft.multimodal.Multimodal

/** Round-8 depth tier: the Avro interchange format (q232), real G.711 and
  * IMA ADPCM audio sample decode (q233/q234 — two more retirements from
  * the compressed-codec gap), Aho–Corasick multi-pattern blocklist
  * scanning (q235), and color-image preprocessing — nearest resize +
  * center crop + channel stats (q236).
  *
  * Oracle policy: q232 roundtrips fixture rows, so plain relational SQL
  * re-aggregates the source table; q233/q236 are formula-oracle gates in
  * the q143/q195 never-self-consistent contract (the oracle recomputes
  * the decode/resample arithmetic relationally, never seeing a byte);
  * q234's sequential decoder state machine is not SQL-expressible, so its
  * gate pins exact formula fields (sample count, first sample) plus
  * wide-margin reconstruction verdicts, with golden vectors and measured
  * tighter bounds in MultimodalSpec; q235's counts are replayed via the
  * replace-length identity (all gated terms are border-free, so AC's
  * all-occurrence count equals SQL's non-overlapping count).
  */
object FormatDepthQueries {

  /** q235's blocklist — border-free terms (no proper prefix == suffix),
    * which makes the AC occurrence count equal DuckDB's replace-based
    * non-overlapping count; unlikely-in-fixture spellings keep injected
    * counts dominant but the oracle counts the REAL text either way.
    */
  private val BlockTerms = Seq("xqz7", "hazmat9", "contrabandum", "zy0k", "qq8line")

  val all: Seq[GQuery] = Seq(
    // ------------------------------------------------------------------
    // q232: Avro Object Container File sink + source — the row-oriented
    // ingestion format of log/Kafka-archive pipelines, via the avro core
    // library on Spark's own classpath (no connector module). Write is
    // one OCF file per task through the Hadoop FileSystem API; read is
    // shard-per-task via binaryFile + DataFileStream with explicit
    // reader-schema resolution. The gate roundtrips supplier and
    // re-aggregates; the oracle aggregates the parquet source directly,
    // so any writer/reader disagreement (union handling, Utf8 vs String,
    // field order) is a hash mismatch.
    GQuery(
      "q232_avro_roundtrip",
      (s, d) => {
        val tmp = Graft.scratch("avro")
        val src = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        AvroIO.write(src, tmp)
        AvroIO.read(s, tmp, src.schema)
          .groupBy(col("s_nationkey").as("nk"))
          .agg(count(lit(1)).as("n"),
            sum(col("s_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"),
            sum(length(col("s_name"))).as("sum_name_len"))
          .orderBy(col("nk").asc)
      },
      Some("""SELECT s_nationkey AS nk, COUNT(*) AS n,
             |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
             |       CAST(SUM(length(s_name)) AS BIGINT) AS sum_name_len
             |FROM supplier GROUP BY 1 ORDER BY nk ASC""".stripMargin),
      "Avro OCF sink + source roundtrip (snappy blocks, one file per task, explicit reader schema)"),

    // ------------------------------------------------------------------
    // q233: REAL G.711 sample decode — µ-law and A-law (WAV format tags
    // 7/6), the telephony/voice-corpus codec. Each encoded byte is one
    // sample expanded by the exact ITU integer formulas, and those
    // formulas are replayed per-byte in SQL (bit shifts and all), so the
    // gate is decode-exact, not invariant-bounded: a wrong segment
    // shift, bias, or sign convention on either side is a red hash.
    // 100 TB: pure map work at the codec boundary; only 5 stat columns
    // per media row ever shuffle.
    GQuery(
      "q233_g711_decode",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.wavG711(
                  aLaw = id % 2 == 0,
                  samples = (40 + id % 50).toInt,
                  k = (3 + id % 13).toInt,
                  key = id),
                "audio/g711")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val (tag, n, sumV, sumAbs, peak) = Multimodal.AudioCodec.g711Stats(r.payload)
            (r.media_id, tag, n, sumV, sumAbs, peak)
          }
        }.toDF("media_id", "codec_tag", "n_samples", "sum_v", "sum_abs", "peak_abs")
          .orderBy(col("media_id").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, 40 + doc_id % 50 AS ns, 3 + doc_id % 13 AS k
             |  FROM documents),
             |s AS (SELECT doc_id, k, unnest(range(0, ns)) AS i FROM m),
             |b AS (SELECT doc_id, CAST((i * k + 7 * doc_id) % 256 AS INT) AS byte FROM s),
             |v AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN
             |      -- A-law: XOR 0x55, segment expansion (ITU-T G.711)
             |      CASE WHEN xor(byte, 85) >= 128 THEN 1 ELSE -1 END *
             |      CASE (xor(byte, 85) // 16) % 8
             |        WHEN 0 THEN (xor(byte, 85) % 16) * 16 + 8
             |        WHEN 1 THEN (xor(byte, 85) % 16) * 16 + 264
             |        ELSE ((xor(byte, 85) % 16) * 16 + 264)
             |               * (1 << ((xor(byte, 85) // 16) % 8 - 1))
             |      END
             |    ELSE
             |      -- µ-law: invert, bias mantissa by 0x84, segment shift
             |      CASE WHEN (255 - byte) >= 128 THEN -1 ELSE 1 END *
             |      ((((255 - byte) % 16) * 8 + 132)
             |         * (1 << (((255 - byte) // 16) % 8)) - 132)
             |    END AS v
             |  FROM b)
             |SELECT doc_id AS media_id,
             |       CASE WHEN CAST(doc_id % 2 AS INT) = 0 THEN 6 ELSE 7 END AS codec_tag,
             |       CAST(COUNT(*) AS BIGINT) AS n_samples,
             |       CAST(SUM(v) AS BIGINT) AS sum_v,
             |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             |       CAST(MAX(ABS(v)) AS INT) AS peak_abs
             |FROM v GROUP BY doc_id ORDER BY media_id ASC""".stripMargin),
      "G.711 µ-law/A-law sample decode, ITU expansion replayed per-byte in SQL — decode-exact gate"),

    // ------------------------------------------------------------------
    // q234: REAL IMA ADPCM sample decode (WAV format tag 0x11) — the
    // 4-bit differential codec of voice datasets and game audio. The
    // decoder walks blocks (state header + low-first nibbles, bounded by
    // fmt's samplesPerBlock and the fact chunk) through the standard
    // 89-step table machine. Sequential state is not SQL-expressible, so
    // the gate pins what IS exact — sample count (fact-bounded) and the
    // first decoded sample (== block predictor == the waveform formula
    // at 0) — plus reconstruction verdicts with wide margins against the
    // triangle-wave source the synth ENCODED with the mirrored encoder:
    // slope ≤ 9/sample keeps the tracker within ±64 after adaptation
    // (measured ≤ 16 in MultimodalSpec, which also pins spec golden
    // vectors so a shared encoder/decoder bug cannot self-cancel).
    GQuery(
      "q234_adpcm_decode",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.wavAdpcm(
                  samples = (70 + id % 80).toInt,
                  k = (2 + id % 7).toInt,
                  blockAlign = 28 + 8 * (id % 3).toInt,
                  phase = (13 * (id % 307)).toInt),
                "audio/adpcm")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val id = r.media_id
            val k = 2 + id % 7
            val phase = 13L * (id % 307)
            def expected(i: Int): Int =
              (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
            val (n, first, _, _, peak, maxErr) =
              Multimodal.AudioCodec.adpcmStats(r.payload, expected)
            (id, n, first, maxErr <= 64, peak <= 1064)
          }
        }.toDF("media_id", "n_samples", "first_sample", "err_ok", "peak_ok")
          .orderBy(col("media_id").asc)
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(70 + doc_id % 80 AS BIGINT) AS n_samples,
             |       CAST(ABS((13 * (doc_id % 307)) % 4000 - 2000) - 1000 AS INT) AS first_sample,
             |       true AS err_ok, true AS peak_ok
             |FROM documents ORDER BY media_id ASC""".stripMargin),
      "IMA ADPCM block decode: exact count/first-sample + bounded reconstruction error vs encoded triangle wave"),

    // ------------------------------------------------------------------
    // q235: Aho–Corasick blocklist scan — every occurrence of every term
    // in ONE automaton pass per document, O(len + matches) independent of
    // term count (the naive per-term scan a 100 TB corpus cannot afford;
    // a regex alternation backtracks). The automaton builds once on the
    // driver from the artifact-sized term list and rides the task
    // closure. Injected term clusters (a CASE of doc_id) plant known
    // occurrences at all multiplicities; the oracle counts on the SAME
    // assembled text via the replace-length identity, valid because
    // every gated term is border-free.
    GQuery(
      "q235_blocklist_scan",
      (s, d) => {
        import s.implicits._
        val ac = Automaton.build(BlockTerms)
        val assembled = Tables.documents(s, d).select(
          col("doc_id"),
          concat(col("text"), lit(" "),
            when(col("doc_id") % 4 === 0, "xqz7 hazmat9 xqz7")
              .when(col("doc_id") % 4 === 1, "contrabandum")
              .when(col("doc_id") % 4 === 2, "zy0k zy0k qq8line")
              .otherwise("")).as("t"))
        assembled.as[(Long, String)].mapPartitions { rows =>
          rows.flatMap { case (id, t) =>
            val counts = ac.countMatches(t)
            counts.iterator.zipWithIndex.collect {
              case (n, i) if n > 0 => (id, ac.patterns(i), n)
            }
          }
        }.toDF("doc_id", "term", "n_occ")
          .orderBy(col("doc_id").asc, col("term").asc)
      },
      Some(s"""WITH t2 AS (
             |  SELECT doc_id,
             |         text || ' ' || CASE CAST(doc_id % 4 AS INT)
             |           WHEN 0 THEN 'xqz7 hazmat9 xqz7'
             |           WHEN 1 THEN 'contrabandum'
             |           WHEN 2 THEN 'zy0k zy0k qq8line'
             |           ELSE '' END AS t
             |  FROM documents),
             |terms AS (SELECT * FROM (VALUES ${BlockTerms.map(t => s"('$t')").mkString(", ")}) AS v(term)),
             |c AS (
             |  SELECT doc_id, term,
             |         CAST((length(t) - length(replace(t, term, ''))) // length(term) AS BIGINT) AS n_occ
             |  FROM t2 CROSS JOIN terms)
             |SELECT doc_id, term, n_occ FROM c WHERE n_occ > 0
             |ORDER BY doc_id ASC, term ASC""".stripMargin),
      "Aho-Corasick one-pass multi-term scan == replace-length occurrence counts (border-free terms)"),

    // ------------------------------------------------------------------
    // q236: color-image preprocessing — real PNG decode, explicit
    // nearest-neighbor resize to 6x4, center crop 8x8, per-channel sums
    // (the normalization statistic). Integer sampling rule (src =
    // floor(dst·srcDim/dstDim), top-left crop bias) means the oracle
    // recomputes every output from the channel formulas over a generated
    // grid — decode, resample, crop geometry, and channel unpacking all
    // land in the hash. 100 TB: map-only at the codec boundary; six
    // sums per image shuffle, never pixels.
    GQuery(
      "q236_image_preprocess",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.ImageOps.synthPngRgb(id % 97), "image/png")
            }
          }
        media.mapPartitions { rows =>
          rows.flatMap { r =>
            val img = Multimodal.ImageOps.read(r.payload)
            if (img == null) Iterator.empty
            else {
              val (rr, rg, rb) = Multimodal.ImageOps.channelSums(
                Multimodal.ImageOps.resizeNearestRgb(img, 6, 4))
              val (cr, cg, cb) = Multimodal.ImageOps.channelSums(
                Multimodal.ImageOps.centerCropRgb(img, 8, 8))
              Iterator((r.media_id, rr, rg, rb, cr, cg, cb))
            }
          }
        }.toDF("media_id", "rs_r", "rs_g", "rs_b", "cr_r", "cr_g", "cr_b")
          .orderBy(col("media_id").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, doc_id % 97 AS key,
             |         12 + (doc_id % 97) % 11 AS w, 12 + (doc_id % 97) % 7 AS h
             |  FROM documents),
             |rs AS (
             |  SELECT doc_id, key, (ox.ox * w) // 6 AS sx, (oy.oy * h) // 4 AS sy
             |  FROM m, range(0, 6) ox(ox), range(0, 4) oy(oy)),
             |rv AS (
             |  SELECT doc_id,
             |         CAST(SUM((7*sx + 13*sy + 31*key) % 256) AS BIGINT) AS rs_r,
             |         CAST(SUM((11*sx + 3*sy + 17*key) % 256) AS BIGINT) AS rs_g,
             |         CAST(SUM((5*sx + 23*sy + 29*key) % 256) AS BIGINT) AS rs_b
             |  FROM rs GROUP BY doc_id),
             |cr AS (
             |  SELECT doc_id, key, (w - 8) // 2 + cx.cx AS sx, (h - 8) // 2 + cy.cy AS sy
             |  FROM m, range(0, 8) cx(cx), range(0, 8) cy(cy)),
             |cv AS (
             |  SELECT doc_id,
             |         CAST(SUM((7*sx + 13*sy + 31*key) % 256) AS BIGINT) AS cr_r,
             |         CAST(SUM((11*sx + 3*sy + 17*key) % 256) AS BIGINT) AS cr_g,
             |         CAST(SUM((5*sx + 23*sy + 29*key) % 256) AS BIGINT) AS cr_b
             |  FROM cr GROUP BY doc_id)
             |SELECT rv.doc_id AS media_id, rs_r, rs_g, rs_b, cr_r, cr_g, cr_b
             |FROM rv JOIN cv ON cv.doc_id = rv.doc_id
             |ORDER BY media_id ASC""".stripMargin),
      "PNG decode + nearest resize + center crop + channel sums == formula oracle over the pixel grid"),

    // ------------------------------------------------------------------
    // q237: REAL FLAC sample decode — rice-coded fixed-predictor
    // residual reconstruction with per-frame CRC-8/CRC-16 verification
    // (RFC 9639), pure JVM: FLAC is losslessly specified, so unlike
    // MP3/AAC/Vorbis it needs no codec library. The synth side ENCODES
    // the triangle wave (rotating VERBATIM / FIXED-1 / FIXED-2 subframes
    // across frames, CONSTANT when flat), the engine decodes it back,
    // and because FLAC is lossless the oracle checks the decoded samples
    // EXACTLY against the waveform formula — the q143 gate contract
    // lifted to a genuinely compressed codec. FormatDepthSpec pins
    // hand-assembled golden frames so a shared encoder/decoder bit-layout
    // bug cannot self-cancel. 100 TB: map-side decode at the codec
    // boundary, 4 stat columns per media row shuffle.
    GQuery(
      "q237_flac_samples",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val k = (2 + id % 7).toInt
              val phase = (13 * (id % 307)).toInt
              val ns = (150 + id % 100).toInt
              val wave = Array.tabulate(ns)(i =>
                (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt)
              Multimodal.MediaRow(id,
                graft.multimodal.FlacCodec.encodeStream(wave, 8000, 64),
                "audio/flac")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val (n, sumV, sumAbs, peak) =
              graft.multimodal.FlacCodec.decodeStats(r.payload)
            (r.media_id, n, sumV, sumAbs, peak)
          }
        }.toDF("media_id", "n_samples", "sum_v", "sum_abs", "peak_abs")
          .orderBy(col("media_id").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, 150 + doc_id % 100 AS ns, 2 + doc_id % 7 AS k,
             |         13 * (doc_id % 307) AS phase
             |  FROM documents),
             |s AS (SELECT doc_id, k, phase, unnest(range(0, ns)) AS i FROM m),
             |v AS (SELECT doc_id, ABS((i * k + phase) % 4000 - 2000) - 1000 AS v FROM s)
             |SELECT doc_id AS media_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_samples,
             |       CAST(SUM(v) AS BIGINT) AS sum_v,
             |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             |       CAST(MAX(ABS(v)) AS INT) AS peak_abs
             |FROM v GROUP BY doc_id ORDER BY media_id ASC""".stripMargin),
      "real FLAC decode (rice + fixed predictors + CRC walk): lossless, so decoded samples == waveform formula exactly"),

    // ------------------------------------------------------------------
    // q238: audio feature extraction over REAL decoded PCM — the voice
    // pipeline's filtering trio: zero-crossing count (spectral-tilt
    // proxy), peak tumbling-window energy (clipping/loudness screen),
    // and silence-trim bounds (first/last sample over the loudness
    // threshold — the VAD-style head/tail cut). All integer-exact on the
    // decoded s16 samples, so the oracle replays every feature over the
    // waveform formula with window functions — decode AND feature math
    // land in the hash. 100 TB: map-side at the codec boundary, five
    // numbers per clip shuffle.
    GQuery(
      "q238_audio_features",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.wavWave(
                  channels = 1,
                  frames = (160 + id % 200).toInt,
                  k = (3 + id % 11).toInt),
                "audio/wav")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val (n, zc, maxWin, first, last) =
              Multimodal.AudioCodec.pcmFeatures(r.payload, window = 80, thresh = 100)
            (r.media_id, n, zc, maxWin, first, last)
          }
        }.toDF("media_id", "n_samples", "zero_crossings", "max_window_abs",
            "first_loud", "last_loud")
          .orderBy(col("media_id").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, 160 + doc_id % 200 AS ns, 3 + doc_id % 11 AS k
             |  FROM documents),
             |v AS (
             |  SELECT doc_id, i.i AS i, (i.i * k) % 2001 - 1000 AS v
             |  FROM m, range(0, 360) i(i) WHERE i.i < ns),
             |zc AS (
             |  SELECT doc_id,
             |         CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) != (pv >= 0))
             |                  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
             |  FROM (SELECT doc_id, v,
             |               LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
             |        FROM v)
             |  GROUP BY doc_id),
             |w AS (
             |  SELECT doc_id, CAST(MAX(ws) AS BIGINT) AS max_window_abs
             |  FROM (SELECT doc_id, i // 80 AS wi, SUM(ABS(v)) AS ws
             |        FROM v GROUP BY doc_id, wi)
             |  GROUP BY doc_id),
             |l AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
             |         CAST(COALESCE(MIN(CASE WHEN ABS(v) > 100 THEN i END), -1) AS BIGINT) AS first_loud,
             |         CAST(COALESCE(MAX(CASE WHEN ABS(v) > 100 THEN i END), -1) AS BIGINT) AS last_loud
             |  FROM v GROUP BY doc_id)
             |SELECT l.doc_id AS media_id, n_samples, zero_crossings, max_window_abs,
             |       first_loud, last_loud
             |FROM l JOIN zc ON zc.doc_id = l.doc_id JOIN w ON w.doc_id = l.doc_id
             |ORDER BY media_id ASC""".stripMargin),
      "PCM decode + zero-crossings + peak window energy + silence-trim bounds == formula oracle with window functions"),

    // ------------------------------------------------------------------
    // q239: scene-cut detection over REAL multi-frame decode — the video
    // curation primitive (shot segmentation before frame sampling). Each
    // GIF frame is decoded and thumbnailed by the q201 machinery; a cut
    // is a frame whose 8x8-luma sum jumps more than the threshold from
    // its predecessor (lag window per media, ordered by frame). The
    // oracle replays the resized luma sums relationally and applies the
    // same LAG — decode, resampling, and the temporal diff all land in
    // the hash. 100 TB: frame features are map-side; the lag shuffles
    // one sum per frame, never pixels.
    GQuery(
      "q239_scene_cuts",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val media = mediaIds(s, d).map { id =>
          Multimodal.MediaRow(id, Multimodal.ImageOps.synthGif(id % 89), "image/gif")
        }
        val frames = Multimodal.ImageOps.gifFrameFeatures(media)
          .select(col("media_id"), col("frame_idx"), col("sum_lum"))
        val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx").asc)
        frames
          .withColumn("lum_delta", col("sum_lum") - lag(col("sum_lum"), 1).over(w))
          .filter(col("lum_delta").isNotNull)
          .select(col("media_id"), col("frame_idx"), col("lum_delta"),
            (abs(col("lum_delta")) > 1000).as("is_cut"))
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
             |  SELECT doc_id, f,
             |         (7*((x.x*w)//8) + 13*((y.y*h)//8) + 29*f + 31*key) % 256 AS l
             |  FROM fr, range(0,8) y(y), range(0,8) x(x)),
             |s AS (SELECT doc_id, f, CAST(SUM(l) AS BIGINT) AS sum_lum
             |      FROM px GROUP BY doc_id, f),
             |lagd AS (
             |  SELECT doc_id, f, sum_lum,
             |         sum_lum - LAG(sum_lum) OVER (PARTITION BY doc_id ORDER BY f) AS lum_delta
             |  FROM s)
             |SELECT doc_id AS media_id, f AS frame_idx,
             |       CAST(lum_delta AS BIGINT) AS lum_delta,
             |       ABS(lum_delta) > 1000 AS is_cut
             |FROM lagd WHERE lum_delta IS NOT NULL
             |ORDER BY media_id ASC, frame_idx ASC""".stripMargin),
      "real multi-frame decode + lag-window luma-delta scene cuts == formula oracle with the same LAG"),

    // ------------------------------------------------------------------
    // q240: PNG tEXt metadata extraction — the caption/provenance tags a
    // multimodal corpus keys on, parsed by a real chunk walk with CRC32
    // validation (the PNG integrity rule). Each synthesized image
    // carries two valid tagged chunks (formula keyword/value) and one
    // deliberately CRC-corrupted chunk the walk must SKIP — so both the
    // extraction and the integrity check land in the hash. 100 TB:
    // map-side walk, tag strings shuffle, never image bytes.
    GQuery(
      "q240_png_text_tags",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              var png = Multimodal.ImageOps.synthPngRgb(id % 97)
              png = Multimodal.ImageOps.withPngText(png, "source", "crawl-" + (id % 7))
              png = Multimodal.ImageOps.withPngText(png, "caption", "img " + (id % 101))
              png = Multimodal.ImageOps.withPngText(png, "junk", "dropme")
              png(33 + 8) = (png(33 + 8) ^ 0x01).toByte // corrupt the junk chunk's CRC
              Multimodal.MediaRow(id, png, "image/png")
            }
          }
        media.mapPartitions { rows =>
          rows.flatMap { r =>
            Multimodal.ImageOps.pngTextChunks(r.payload).iterator
              .map { case (k, v) => (r.media_id, k, v) }
          }
        }.toDF("media_id", "tag_key", "tag_value")
          .orderBy(col("media_id").asc, col("tag_key").asc)
      },
      Some("""SELECT doc_id AS media_id, tag_key, tag_value FROM (
             |  SELECT doc_id, 'source' AS tag_key,
             |         'crawl-' || CAST(doc_id % 7 AS VARCHAR) AS tag_value
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, 'caption', 'img ' || CAST(doc_id % 101 AS VARCHAR)
             |  FROM documents)
             |ORDER BY media_id ASC, tag_key ASC""".stripMargin),
      "PNG tEXt chunk walk with CRC32 validation: valid tags extracted, corrupt chunk skipped"),

    // ------------------------------------------------------------------
    // q241: box-filter ("area") downscale by an integer factor — the
    // exact-mean resampling a vision pipeline uses for 2x thumbnails.
    // Each output pixel is the floor mean of its 2x2 block per channel;
    // the oracle replays block sums + floor division over the pixel
    // formula, so decode, block geometry, and the rounding rule are all
    // hash-checked. 100 TB: map-side, channel sums shuffle.
    GQuery(
      "q241_box_downscale",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.ImageOps.synthPngRgb(id % 97), "image/png")
            }
          }
        media.mapPartitions { rows =>
          rows.flatMap { r =>
            val img = Multimodal.ImageOps.read(r.payload)
            if (img == null) Iterator.empty
            else {
              val pix = Multimodal.ImageOps.downscaleBoxRgb(img, 2)
              val (cr, cg, cb) = Multimodal.ImageOps.channelSums(pix)
              Iterator((r.media_id, pix.length.toLong, cr, cg, cb))
            }
          }
        }.toDF("media_id", "n_px", "sum_r", "sum_g", "sum_b")
          .transform(Multimodal.sortDecoded("media_id"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id, doc_id % 97 AS key,
             |         12 + (doc_id % 97) % 11 AS w, 12 + (doc_id % 97) % 7 AS h
             |  FROM documents),
             |blk AS (
             |  SELECT doc_id, ox.ox AS ox, oy.oy AS oy,
             |         SUM((7*(2*ox.ox + dx.dx) + 13*(2*oy.oy + dy.dy) + 31*key) % 256) AS rs,
             |         SUM((11*(2*ox.ox + dx.dx) + 3*(2*oy.oy + dy.dy) + 17*key) % 256) AS gs,
             |         SUM((5*(2*ox.ox + dx.dx) + 23*(2*oy.oy + dy.dy) + 29*key) % 256) AS bs
             |  FROM m, range(0, 11) ox(ox), range(0, 9) oy(oy),
             |       range(0, 2) dx(dx), range(0, 2) dy(dy)
             |  WHERE ox.ox < w // 2 AND oy.oy < h // 2
             |  GROUP BY doc_id, ox.ox, oy.oy),
             |agg AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
             |         CAST(SUM(rs // 4) AS BIGINT) AS sum_r,
             |         CAST(SUM(gs // 4) AS BIGINT) AS sum_g,
             |         CAST(SUM(bs // 4) AS BIGINT) AS sum_b
             |  FROM blk GROUP BY doc_id)
             |SELECT doc_id AS media_id, n_px, sum_r, sum_g, sum_b
             |FROM agg ORDER BY media_id ASC""".stripMargin),
      "2x box-filter downscale: floor-mean blocks per channel == block-sum formula oracle"),

    // ------------------------------------------------------------------
    // q242: REAL JPEG roundtrip — the dominant web image format, through
    // the JDK's actual DCT codec (javax.imageio ships a real JPEG
    // encoder+decoder; nothing fake in the path). JPEG is LOSSY and its
    // IDCT rounding is implementation-defined, so exact pixel equality
    // is not spec-guaranteed — the gate therefore pins what IS exact
    // (dimensions, pixel count) and bounds the reconstruction: on a
    // smooth clamp-free gradient the decoded per-channel SUM must sit
    // within ±8/pixel of the analytic sum (measured ≤ ~2 in spec). The
    // verdict margins are the q70-style invariant contract: a broken
    // encode, decode, or color pipeline (e.g. a colorspace flip) blows
    // the bound and reds the hash. 100 TB: map-side codec work only.
    GQuery(
      "q242_jpeg_roundtrip",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val key = (id % 97).toInt
              val w = 12 + key % 11; val h = 12 + key % 7
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  // smooth, clamp-free linear channels (max 63+42+63 < 256)
                  val r = 3 * x + 2 * y + key % 64
                  val g = 2 * x + 3 * y + key % 32
                  val b = x + y + key % 16
                  img.setRGB(x, y, (r << 16) | (g << 8) | b)
                  x += 1
                }
                y += 1
              }
              Multimodal.MediaRow(id, Multimodal.ImageOps.write(img, "jpg"), "image/jpeg")
            }
          }
        media.mapPartitions { rows =>
          rows.flatMap { r =>
            val img = Multimodal.ImageOps.read(r.payload)
            if (img == null) Iterator.empty
            else {
              val key = (r.media_id % 97).toInt
              val w = img.getWidth; val h = img.getHeight
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                  x += 1
                }
                y += 1
              }
              // analytic sums of the linear gradients
              def tri(n: Int): Long = n.toLong * (n - 1) / 2
              val n = w.toLong * h
              val ar = 3 * tri(w) * h + 2 * tri(h) * w + (key % 64).toLong * n
              val ag = 2 * tri(w) * h + 3 * tri(h) * w + (key % 32).toLong * n
              val ab = tri(w) * h + tri(h) * w + (key % 16).toLong * n
              val tol = 8L * n
              Iterator((r.media_id, w, h, n,
                math.abs(sr - ar) <= tol,
                math.abs(sg - ag) <= tol,
                math.abs(sb - ab) <= tol))
            }
          }
        }.toDF("media_id", "width", "height", "n_px", "r_ok", "g_ok", "b_ok")
          .orderBy(col("media_id").asc)
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(12 + (doc_id % 97) % 11 AS INT) AS width,
             |       CAST(12 + (doc_id % 97) % 7 AS INT) AS height,
             |       CAST((12 + (doc_id % 97) % 11) * (12 + (doc_id % 97) % 7) AS BIGINT) AS n_px,
             |       true AS r_ok, true AS g_ok, true AS b_ok
             |FROM documents ORDER BY media_id ASC""".stripMargin),
      "real JPEG encode+decode (JDK DCT codec): exact dims + bounded per-channel reconstruction verdicts"),

    // ------------------------------------------------------------------
    // q243: ID3v2 text-frame extraction — title/artist/album metadata
    // from MP3 payloads, the audio-side analogue of q240's PNG tags.
    // Even docs carry a v2.4 tag (synchsafe frame sizes), odd docs v2.3
    // (plain big-endian) — both parser branches land in the hash. The
    // tag precedes a real CBR frame run, so the walk must stop at the
    // tag boundary rather than reading into audio bytes. 100 TB:
    // map-side walk, tag strings shuffle.
    GQuery(
      "q243_id3_tags",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val tag = Multimodal.SyntheticMedia.id3Tag(
                Seq(
                  "TIT2" -> ("track " + (id % 53)),
                  "TPE1" -> ("artist-" + (id % 11)),
                  "TALB" -> ("album " + (id % 29))),
                v24 = id % 2 == 0)
              val audio = Multimodal.SyntheticMedia.mp3(
                kbpsIdx = 9, srIdx = 0, frames = 3, mono = true, id3Size = 0)
              Multimodal.MediaRow(id, tag ++ audio, "audio/mpeg")
            }
          }
        media.mapPartitions { rows =>
          rows.flatMap { r =>
            Multimodal.ContainerCodec.id3TextFrames(r.payload).iterator
              .map { case (fid, text) => (r.media_id, fid, text) }
          }
        }.toDF("media_id", "frame_id", "text")
          .orderBy(col("media_id").asc, col("frame_id").asc)
      },
      Some("""SELECT doc_id AS media_id, frame_id, text FROM (
             |  SELECT doc_id, 'TIT2' AS frame_id,
             |         'track ' || CAST(doc_id % 53 AS VARCHAR) AS text FROM documents
             |  UNION ALL
             |  SELECT doc_id, 'TPE1', 'artist-' || CAST(doc_id % 11 AS VARCHAR) FROM documents
             |  UNION ALL
             |  SELECT doc_id, 'TALB', 'album ' || CAST(doc_id % 29 AS VARCHAR) FROM documents)
             |ORDER BY media_id ASC, frame_id ASC""".stripMargin),
      "ID3v2.3/2.4 text-frame walk (synchsafe vs BE frame sizes) over real tagged MP3 payloads"),

    // ------------------------------------------------------------------
    // q248 (r8c): Arrow IPC (Feather V2) sink + source — the COLUMNAR
    // interchange sibling of q232's row-oriented Avro OCF, via the
    // arrow-vector library on Spark's own classpath: the format feature
    // stores and pandas/polars DataFrame exchanges speak natively. Write
    // is one .arrow file per task (record batches of 4096 rows bound the
    // memory, Hadoop FileSystem stream); read is shard-per-task via
    // binaryFile + ArrowFileReader streaming one batch at a time, columns
    // resolved BY NAME (appended-column evolution reads). The gate
    // roundtrips supplier with a different aggregation than q232 (min/max
    // over the string column exercise Utf8 byte round-tripping; the
    // boolean column exercises validity bits) and the oracle aggregates
    // the parquet source directly — any writer/reader drift is a hash
    // mismatch.
    GQuery(
      "q248_arrow_roundtrip",
      (s, d) => {
        val tmp = Graft.scratch("arrow")
        val src = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
            col("s_acctbal").cast("double").as("bal"),
            (col("s_acctbal") > 0).as("in_credit"))
        graft.sources.ArrowIO.write(src, tmp)
        graft.sources.ArrowIO.read(s, tmp, src.schema)
          .groupBy(col("s_nationkey").as("nk"))
          .agg(count(lit(1)).as("n"),
            sum(col("bal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"),
            sum(when(col("in_credit"), 1L).otherwise(0L)).as("n_credit"),
            min(col("s_name")).as("min_name"),
            max(col("s_name")).as("max_name"))
          .orderBy(col("nk").asc)
      },
      Some("""SELECT s_nationkey AS nk, COUNT(*) AS n,
             |       CAST(SUM(CAST(CAST(s_acctbal AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
             |       CAST(SUM(CASE WHEN s_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_credit,
             |       MIN(s_name) AS min_name, MAX(s_name) AS max_name
             |FROM supplier GROUP BY 1 ORDER BY nk ASC""".stripMargin),
      "Arrow IPC (Feather V2) sink + source roundtrip (batch-bounded columnar write, by-name column resolution)"),

    // ------------------------------------------------------------------
    // q249 (r8c): protobuf wire-format record walk — delimited message
    // streams (varint length framing, the writeDelimitedTo shape) parsed
    // from the PUBLIC encoding spec with no generated classes: varints,
    // field keys, length-delimited strings, PACKED repeated varints,
    // zigzag sint64, little-endian i64 doubles — plus the contract that
    // makes the format what it is: unknown fields (7: varint, 8: i32 in
    // the synthesized shards) are skipped by wire type. Every 7th shard
    // is truncated → the walk stops at the fully-framed prefix (one
    // record lost — messages are >10 bytes by construction). Every gated
    // field is a pure formula of (key, i): the oracle never sees a byte
    // (q206/q227 discipline). 100 TB: map-side record fan-out at the
    // codec boundary, payload bytes never shuffle.
    GQuery(
      "q249_proto_records",
      (s, d) => {
        import s.implicits._
        import graft.sources.ProtoWire
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val key = id % 101
              val full = ProtoWire.Synthetic.shard(key, (2 + key % 3).toInt)
              val payload = if (id % 7 == 0) full.dropRight(10) else full
              Multimodal.MediaRow(id, payload, "application/x-protobuf")
            }
          }
        ProtoWire.protoRecordRows(media)
          .orderBy(col("shard_id").asc, col("rec_idx").asc)
      },
      Some("""WITH k AS (
             |  SELECT doc_id, doc_id % 101 AS key,
             |         CASE WHEN doc_id % 7 = 0 THEN 1 + (doc_id % 101) % 3
             |              ELSE 2 + (doc_id % 101) % 3 END AS n_vis
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, key, CAST(i.i AS INT) AS i,
             |         1 + (key + i.i) % 3 AS n_tags
             |  FROM k, range(0, 4) i(i) WHERE i.i < k.n_vis),
             |t AS (
             |  SELECT r.doc_id, r.i,
             |         CAST(SUM((r.key + (j.j + 1) * r.i + j.j) % 17) AS BIGINT) AS tag_sum
             |  FROM r, range(0, 3) j(j) WHERE j.j < r.n_tags
             |  GROUP BY r.doc_id, r.i)
             |SELECT r.doc_id AS shard_id, r.i AS rec_idx,
             |       CAST(1000 * r.key + r.i AS BIGINT) AS id,
             |       'rec ' || CAST((r.key * 7 + r.i) % 41 AS VARCHAR) AS title,
             |       CAST(r.n_tags AS BIGINT) AS n_tags,
             |       t.tag_sum,
             |       CAST(r.key - 50 + r.i AS BIGINT) AS sdelta,
             |       CAST(((r.key * 13 + r.i) % 97) AS DOUBLE) / 8.0 AS score
             |FROM r JOIN t ON t.doc_id = r.doc_id AND t.i = r.i
             |ORDER BY shard_id ASC, rec_idx ASC""".stripMargin),
      "protobuf delimited-stream walk: varint/zigzag/packed/i64 fields + unknown-field skip + truncation clamp == formula oracle"),

    // ------------------------------------------------------------------
    // q250 (r8c): SPECTRAL perceptual image hash — the pHash construction
    // (low-frequency transform coefficients thresholded at their median)
    // with the Walsh–Hadamard transform in place of the DCT: WHT
    // coefficients are ±1-signed INTEGER sums, so the hash is
    // bit-reproducible and the oracle replays it EXACTLY from the pixel
    // formula (sign = parity of popcount(u&x)+popcount(v&y) via SQL
    // bit_count) — a cos()-based DCT would be engine-dependent. Uniform
    // brightness shift moves only the DC coefficient (integer theorem),
    // so this is a true perceptual hash, invariant where dHash (q195) is
    // gradient-sensitive. Real javax.imageio PNG decode feeds a 16×16
    // integer luma grid; dedup = the q195 window over the 8-byte hash.
    // 100 TB: decode + transform map-side at the codec boundary, the
    // group-by shuffles 8 bytes per image, never pixels.
    GQuery(
      "q250_image_phash",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val media = mediaIds(s, d).map { id =>
          Multimodal.MediaRow(id, Multimodal.ImageOps.synthPng(id % 97), "image/png")
        }
        Multimodal.ImageOps.imageSpectralRows(media)
          .withColumn("dup_group_size",
            count(lit(1)).over(Window.partitionBy(col("phash"))))
          .orderBy(col("media_id").asc)
      },
      Some("""WITH dim AS (
             |  SELECT doc_id, doc_id % 97 AS key,
             |         CAST(16 + (doc_id % 97) % 17 AS INT) AS w,
             |         CAST(16 + (doc_id % 97) % 13 AS INT) AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, y.y AS y, x.x AS x,
             |         (7*((x.x*w)//16) + 13*((y.y*h)//16) + 31*key) % 256 AS l
             |  FROM dim, range(0,16) y(y), range(0,16) x(x)),
             |uv AS (SELECT u.u AS u, v.v AS v FROM range(0,4) u(u), range(0,4) v(v)
             |       WHERE NOT (u.u = 0 AND v.v = 0)),
             |co AS (
             |  SELECT p.doc_id, uv.u, uv.v,
             |         CAST(SUM(CASE WHEN (bit_count(uv.u & p.x) + bit_count(uv.v & p.y)) % 2 = 0
             |                       THEN p.l ELSE -p.l END) AS BIGINT) AS c
             |  FROM px p CROSS JOIN uv
             |  GROUP BY p.doc_id, uv.u, uv.v),
             |med AS (
             |  SELECT doc_id, MAX(CASE WHEN rn = 8 THEN c END) AS median
             |  FROM (SELECT doc_id, c,
             |          row_number() OVER (PARTITION BY doc_id ORDER BY c ASC) AS rn
             |        FROM co)
             |  GROUP BY doc_id),
             |hsh AS (
             |  SELECT co.doc_id,
             |         CAST(SUM(CASE WHEN co.c > med.median
             |                  THEN CAST(1 AS BIGINT) << CAST(co.u*4 + co.v - 1 AS INT)
             |                  ELSE 0 END) AS BIGINT) AS phash
             |  FROM co JOIN med USING (doc_id)
             |  GROUP BY co.doc_id)
             |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height, h.phash,
             |       CAST(COUNT(*) OVER (PARTITION BY h.phash) AS BIGINT) AS dup_group_size
             |FROM dim d JOIN hsh h ON h.doc_id = d.doc_id
             |ORDER BY media_id ASC""".stripMargin),
      "Walsh-Hadamard spectral perceptual hash over real PNG decode: integer-exact pHash + dedup grouping == formula oracle"),

    // ------------------------------------------------------------------
    // q261 (r9): STEREO + LPC FLAC decode — the r8 verdict's top format
    // gap closed: real-world FLAC corpora are overwhelmingly stereo with
    // LPC subframes, which the q237 decoder didn't cover. The synth side
    // encodes a decorrelated stereo pair (triangle left, saw right)
    // ROTATING ALL FOUR channel assignments across frames (independent,
    // left/side, right/side, mid/side — side channels at 17 bits) and
    // all subframe types including a genuine quantized-coefficient LPC
    // predictor; the engine reconstructs the inter-channel transforms
    // and LPC exactly (RFC 9639 integer semantics), and losslessness
    // makes the oracle a pure waveform-formula replay over BOTH
    // channels. Golden hand-assembled mid/side, left/side, and LPC
    // frames in FormatDepthSpec pin the bit layout independently of the
    // encoder. 100 TB: map-side decode at the codec boundary, 4 stat
    // columns per media row shuffle.
    GQuery(
      "q261_flac_stereo",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              val ns = (120 + id % 80).toInt
              val k = (2 + id % 5).toInt
              val j = (3 + id % 7).toInt
              val phase = (11 * (id % 253)).toInt
              val left = Array.tabulate(ns)(i =>
                (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt)
              val right = Array.tabulate(ns)(i => ((i.toLong * j) % 2001L - 1000L).toInt)
              Multimodal.MediaRow(id,
                graft.multimodal.FlacCodec.encodeStereoStream(left, right, 8000, 32),
                "audio/flac")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val (n, sumV, sumAbs, peak) =
              graft.multimodal.FlacCodec.decodeStats(r.payload)
            (r.media_id, n, sumV, sumAbs, peak)
          }
        }.toDF("media_id", "n_samples", "sum_v", "sum_abs", "peak_abs")
          .orderBy(col("media_id").asc)
      },
      Some("""WITH m AS (
             |  SELECT doc_id, 120 + doc_id % 80 AS ns, 2 + doc_id % 5 AS k,
             |         3 + doc_id % 7 AS j, 11 * (doc_id % 253) AS phase
             |  FROM documents),
             |s AS (SELECT doc_id, k, j, phase, unnest(range(0, ns)) AS i FROM m),
             |v AS (
             |  SELECT doc_id, ABS((i * k + phase) % 4000 - 2000) - 1000 AS v FROM s
             |  UNION ALL
             |  SELECT doc_id, (i * j) % 2001 - 1000 AS v FROM s)
             |SELECT doc_id AS media_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_samples,
             |       CAST(SUM(v) AS BIGINT) AS sum_v,
             |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             |       CAST(MAX(ABS(v)) AS INT) AS peak_abs
             |FROM v GROUP BY doc_id ORDER BY media_id ASC""".stripMargin),
      "stereo+LPC FLAC decode (all four channel assignments, 17-bit side channels, quantized LPC): lossless, so decoded samples == both waveform formulas exactly"),

    // ------------------------------------------------------------------
    // q262 (r9): REAL MS ADPCM sample decode (WAV format tag 0x0002) —
    // the OTHER ubiquitous 4-bit WAV codec next to IMA (q234), and a
    // structurally different one: a per-block 2-tap FIR predictor chosen
    // from 7 published coefficient pairs (incl. the "no prediction"
    // (0,0) pair), C-truncating predictor division, verbatim 2-sample
    // history in the block header, HIGH-first nibble packing (IMA is
    // low-first), and multiplicative delta adaptation. The synth side
    // rotates ALL 7 predictor pairs across blocks and sizes each block's
    // initial delta off the first prediction error (what a real encoder's
    // block scan does). Gate pins what is exact — sample count
    // (fact-bounded) and the first decoded sample (verbatim header ==
    // the waveform formula at 0) — plus reconstruction verdicts ≤ 256
    // against the encoded triangle (measured ≤ 140 across the fixture;
    // FormatDepthSpec pins spec golden step vectors incl. the truncation
    // semantics so a shared encoder/decoder bug cannot self-cancel).
    // 100 TB: map-side decode at the codec boundary.
    GQuery(
      "q262_msadpcm_decode",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.wavMsAdpcm(
                  samples = (70 + id % 80).toInt,
                  k = (2 + id % 7).toInt,
                  blockAlign = 24 + 8 * (id % 3).toInt,
                  phase = (13 * (id % 307)).toInt),
                "audio/ms-adpcm")
            }
          }
        media.mapPartitions { rows =>
          rows.map { r =>
            val id = r.media_id
            val k = 2 + id % 7
            val phase = 13L * (id % 307)
            def expected(i: Int): Int =
              (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
            val (n, first, _, _, peak, maxErr) =
              Multimodal.AudioCodec.msAdpcmStats(r.payload, expected)
            (id, n, first, maxErr <= 256, peak <= 1256)
          }
        }.toDF("media_id", "n_samples", "first_sample", "err_ok", "peak_ok")
          .orderBy(col("media_id").asc)
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(70 + doc_id % 80 AS BIGINT) AS n_samples,
             |       CAST(ABS((13 * (doc_id % 307)) % 4000 - 2000) - 1000 AS INT) AS first_sample,
             |       true AS err_ok, true AS peak_ok
             |FROM documents ORDER BY media_id ASC""".stripMargin),
      "MS ADPCM block decode (7 rotating predictor pairs, high-first nibbles): exact count/first-sample + bounded reconstruction error vs encoded triangle wave"),

    // ------------------------------------------------------------------
    // q270 (r9): REAL compressed-VIDEO frame decode — MJPEG (fourcc
    // MJPG), the codec of capture cards and legacy cameras, and the one
    // compressed video format a pure JVM can genuinely decode (each
    // '00dc' chunk is a complete JPEG; the JDK's own ImageIO does the
    // entropy decode). This moves the video tier past the container
    // walk (q205 decodes uncompressed DIB): geometry and frame COUNT
    // gate exactly (a frame that fails to decode is dropped, so the
    // row count itself is the corruption signal), and per-frame channel
    // sums gate against the smooth-gradient formula within the measured
    // JPEG margin (±8/pixel; FormatDepthSpec's roundtrip precedent
    // measures ≤ 4). 100 TB: map-side decode at the codec boundary,
    // five numbers per frame shuffle.
    GQuery(
      "q270_mjpeg_frames",
      (s, d) => {
        import s.implicits._
        val media = mediaIds(s, d)
          .mapPartitions { ids =>
            ids.map { id =>
              Multimodal.MediaRow(id,
                Multimodal.SyntheticMedia.aviMjpeg(id % 97), "video/x-mjpeg")
            }
          }
        val raw = Multimodal.VideoOps.mjpegFrameFeatures(media)
        val w = col("width").cast("long")
        val h = col("height").cast("long")
        val key = col("media_id") % 97
        val f = col("frame_idx").cast("long")
        val sx = w * (w - 1) / 2 // Σx over a row
        val sy = h * (h - 1) / 2 // Σy over a column
        val expR = lit(3L) * h * sx + lit(2L) * w * sy + w * h * ((f * 17 + key) % 64)
        val expG = lit(2L) * h * sx + lit(3L) * w * sy + w * h * ((f * 11 + key) % 32)
        val expB = h * sx + w * sy + w * h * ((f * 7 + key) % 16)
        val margin = w * h * 8L
        raw.select(col("media_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames"), w.as("width"), h.as("height"),
          (abs(col("sum_r") - expR) <= margin).as("r_ok"),
          (abs(col("sum_g") - expG) <= margin).as("g_ok"),
          (abs(col("sum_b") - expB) <= margin).as("b_ok"))
          .orderBy(col("media_id").asc, col("frame_idx").asc)
      },
      Some("""WITH g AS (
             |  SELECT doc_id, 16 + (doc_id % 97) % 13 AS w,
             |         16 + (doc_id % 97) % 9 AS h, 2 + (doc_id % 97) % 3 AS n
             |  FROM documents)
             |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
             |       CAST(n AS BIGINT) AS n_frames,
             |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |       true AS r_ok, true AS g_ok, true AS b_ok
             |FROM g, LATERAL (SELECT unnest(range(0, n)) AS f) t
             |ORDER BY media_id ASC, frame_idx ASC""".stripMargin),
      "MJPEG video decode (real per-frame JPEG via ImageIO): exact frame count/geometry + channel sums within the measured codec margin"),
  )
}
