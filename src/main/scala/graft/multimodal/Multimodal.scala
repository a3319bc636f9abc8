package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY.md §2.11): media payloads travel as
  * opaque BINARY columns (dbkit BLOB, reference src/types.rs:28) next to a
  * typed metadata struct; decode/feature steps run per-partition over the
  * binary batch.
  *
  * Image decode is REAL for the formats the JDK ships codecs for —
  * PNG/JPEG/GIF/BMP via `javax.imageio` ([[ImageCodec]]), dispatched on the
  * payload's magic bytes. Payloads of any other type (audio/video — no
  * codec libs in this container) fall back to [[FakeCodec]], a
  * deterministic stand-in (dimensions derived from md5 bytes) that keeps
  * the plumbing (schema, partitioning, batch shape, typed mapPartitions
  * signature) testable end-to-end. Swapping in further codecs is a
  * one-function change.
  *
  * Scale notes: binary payloads make row sizes large — keep
  * `spark.sql.files.maxPartitionBytes` small enough that a partition of
  * blobs fits in executor memory, and never collect. The mapPartitions
  * boundary is exactly where a vectorized native decoder (or GPU batch)
  * would plug in: it sees an iterator over the partition, amortizing codec
  * init across rows — the same "batch-at-a-time extension" contract as the
  * reference's Operation/Cursor protocol (src/operation/mod.rs:35-40).
  *
  * Codec-boundary rule (decode each payload on every core, and once where
  * the decode is costly): spread ids before synthesis
  * (`graft.queries.mediaIds`) — a one-file table is one partition, so one
  * task would build and decode every payload; only the 8-byte ids cross
  * the exchange, and on multi-file input (the 100 TB shape) the spread is
  * a no-op. A global sort straight over a decode runs the decode twice,
  * because `RangePartitioner` samples by evaluating its child.
  * [[sortDecoded]] trades that second decode pass for one extra shuffle
  * of the decoded rows: worth it only when the decode costs more than the
  * shuffle, so it goes only where a benchmark measured the gain.
  *
  * One-walk rule: each byte format has ONE bounds-checked walk, and
  * consumers never re-walk the bytes — they call the walk and read what
  * they need from its layout or visits, or extend the layout. Here:
  * `walkWav` (RIFF/WAV), `walkAviList` (AVI LIST chunks), `walkFlac`
  * (FLAC metadata blocks), `synchsafe` (ID3v2 sizes), and
  * [[ImageOps.withReader]] / [[ImageOps.read]] / [[ImageOps.write]]
  * (javax.imageio; [[ImageOps.synthGif]]'s multi-frame sequence writer
  * is the one other encoder); [[Shards]] holds the tar walk and the capped
  * inflate. A bounds fix or a fuzz property then lands once, not once
  * per copy (GraftInstallSpec locks each walk's marker to its walk).
  */
object Multimodal {

  /** Ascending global sort of decoded rows behind a hash exchange on the
    * sort keys, so the range sample reads shuffle output (rule above). */
  def sortDecoded(keys: String*)(decoded: DataFrame): DataFrame =
    decoded.repartition(keys.map(col): _*).orderBy(keys.map(col(_).asc): _*)

  /** A media row: payload + typed metadata (the engine-visible schema). */
  case class MediaRow(media_id: Long, payload: Array[Byte], media_type: String)

  /** Decoded-media features produced by the (stubbed) codec. */
  case class MediaMeta(
      media_id: Long,
      n_bytes: Long,
      content_hash: String,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Deterministic fake codec: "dimensions" from the payload digest,
    * "frame count" from the payload size. Covers the payload types the
    * JVM has no decoder for (audio/video) without touching any Spark
    * plumbing.
    */
  object FakeCodec {
    def decode(payload: Array[Byte]): (String, Int, Int, Int) = {
      val hex = md5Hex(payload)
      val w = 64 + (java.lang.Long.parseLong(hex.substring(0, 7), 16) % 1856L).toInt
      val h = 64 + (java.lang.Long.parseLong(hex.substring(7, 14), 16) % 1856L).toInt
      val frames = (payload.length / 64) + 1
      (hex, w, h, frames)
    }
  }

  private def md5Hex(payload: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(payload)
      .map("%02x".format(_)).mkString

  /** Real still-image codec over the JDK's built-in `javax.imageio` readers
    * (PNG/JPEG/GIF/BMP — zero extra jars). A payload whose magic matches a
    * supported format but fails to decode is CORRUPT media: reported as
    * 0×0 with 0 frames (the contract [[sampleFrames]] already documents —
    * corrupt media fans out to no frame rows) rather than failing the job
    * or silently falling back to fake dimensions.
    *
    * Deliberately HEADER-ONLY: `ImageReader.getWidth/getHeight(0)` parse
    * image metadata without allocating the raster. A full decode
    * ([[ImageOps.read]]) would (a) decode every pixel of every image just to emit metadata —
    * pure waste at corpus scale — and (b) allocate whatever the header
    * DECLARES: a 38-byte payload claiming 40000×40000 is a 6.4 GB
    * allocation and an executor-killing OutOfMemoryError on attacker- or
    * crawler-supplied bytes. The input stream is a MemoryCacheImageInputStream
    * — ImageIO's default path round-trips every payload through a disk
    * temp file, which is both slow and a spurious failure mode.
    */
  object ImageCodec {
    private def startsWith(p: Array[Byte], magic: Int*): Boolean =
      p.length >= magic.length &&
        magic.zipWithIndex.forall { case (m, i) => p(i) == m.toByte }

    /** Magic-byte sniff for the formats `javax.imageio` decodes. Kept
      * strict (full GIF87a/GIF89a signature; BMP requires a known DIB
      * header size at offset 14) because payloads are untyped bytes and a
      * 2-byte "BM" prefix matches ordinary text ("BM25 ...") — a false
      * positive would route a non-image through the corrupt-media path.
      * JPEG's 0xFF lead byte cannot appear in UTF-8 text.
      */
    def isSupportedImage(p: Array[Byte]): Boolean =
      startsWith(p, 0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ||  // PNG
        startsWith(p, 0xff, 0xd8, 0xff) ||                           // JPEG
        startsWith(p, 'G', 'I', 'F', '8', '7', 'a') ||               // GIF87a
        startsWith(p, 'G', 'I', 'F', '8', '9', 'a') ||               // GIF89a
        (startsWith(p, 'B', 'M') && p.length > 14 &&                 // BMP +
          Set(12, 40, 52, 56, 64, 108, 124).contains(p(14).toInt))   // DIB size

    def decode(payload: Array[Byte]): (String, Int, Int, Int) = {
      val hex = md5Hex(payload)
      ImageOps.withReader(payload, (hex, 0, 0, 0)) { r =>
        try {
          // GIF is the one still-image container with REAL multi-frame
          // content (animations): count frames with getNumImages(true) —
          // a block-structure walk that skips each frame's LZW data
          // without decoding pixels, so it stays metadata-priced. Every
          // other format reports 1 (getNumImages would be 1 anyway, and
          // the allowSearch scan is wasted work on a 100 TB corpus).
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          val frames =
            if (startsWith(payload, 'G', 'I', 'F', '8'))
              // truncated animation data: the header dims above stand,
              // but the block walk can hit EOF — degrade to 1 frame
              // instead of discarding the whole record as corrupt
              try r.getNumImages(true)
              catch { case scala.util.control.NonFatal(_) => 1 }
            else 1
          (hex, w, h, frames)
        } catch {
          // corrupt header: decodes to nothing, never fails the task
          case scala.util.control.NonFatal(_) => (hex, 0, 0, 0)
        }
      }
    }
  }

  /** Real audio/video CONTAINER parsing, pure JVM (VERDICT r4 #5): the
    * sandbox has no sample/frame codecs, but container headers are plain
    * structured bytes — WAV/RIFF chunks (little-endian) and the ISO BMFF
    * (MP4/M4A/MOV) box tree (big-endian) — so duration, sample rate,
    * track count, declared dimensions, and frame/sample-frame counts are
    * all recoverable without decoding a single sample. Only the frame
    * PIXEL/PCM decode itself remains behind [[FakeCodec]] (the honest
    * codec boundary).
    *
    * Both parsers are bounds-checked on attacker-shaped input: every read
    * is validated against the payload length, box sizes that would loop
    * (size < 8, size == 0 at a non-terminal position) abort the walk, and
    * any structural violation reports the corrupt-media contract
    * (all-zero metadata, so downstream frame fan-out emits no rows) —
    * never an exception out of the task.
    */
  object ContainerCodec {
    /** Little-endian u32 read — the one copy for every RIFF-family walk
      * in this file (the one-walk rule).
      */
    private[multimodal] def le32(p: Array[Byte], o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)

    /** FourCC compare at offset `o` (caller guarantees o+4 in bounds). */
    private[multimodal] def fccIs(p: Array[Byte], o: Int, s: String): Boolean =
      p(o) == s.charAt(0) && p(o + 1) == s.charAt(1) &&
        p(o + 2) == s.charAt(2) && p(o + 3) == s.charAt(3)

    /** Everything a WAV consumer needs from the RIFF chunk walk: the fmt
      * fields, the optional MS-extension samplesPerBlock and fact sample
      * count, and the (truncation-clamped) data span. `null` for non-WAV
      * or structurally broken payloads.
      */
    private[multimodal] final case class WavLayout(
        tag: Int, channels: Int, rate: Int, byteRate: Long, blockAlign: Int,
        bits: Int, spbExt: Int, factSamples: Long, dataOff: Int, dataLen: Int)

    /** THE RIFF chunk walk for every WAV consumer in this file
      * (parseWav / pcmStats / pcmFeatures / g711Stats / adpcmStats):
      * [id(4) size(4LE) payload(size, padded to even)], every read
      * bounds-checked, data size clamped to the bytes actually present,
      * zero/overflowing steps abort.
      */
    private[multimodal] def walkWav(p: Array[Byte]): WavLayout = {
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def le32L(o: Int) = ContainerCodec.le32(p, o)
      if (!isWav(p)) return null
      var off = 12
      var fmtSeen = false
      var tag = 0; var channels = 0; var rate = 0; var byteRate = 0L
      var blockAlign = 0; var bits = 0; var spbExt = -1
      var factSamples = -1L
      var dataOff = -1; var dataLen = 0
      while (off + 8 <= p.length && (!fmtSeen || dataOff < 0)) {
        val id = new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val sz = le32L(off + 4)
        if (id == "fmt " && !fmtSeen && sz >= 16 && off + 8 + 16 <= p.length) {
          fmtSeen = true
          tag = le16(off + 8)
          channels = le16(off + 10)
          rate = le32L(off + 12).toInt
          byteRate = le32L(off + 16)
          blockAlign = le16(off + 20)
          bits = le16(off + 22)
          // MS fmt extension: cbSize(2) + samplesPerBlock(2)
          if (sz >= 20 && off + 8 + 20 <= p.length && le16(off + 24) >= 2)
            spbExt = le16(off + 26)
        } else if (id == "fact" && sz >= 4 && off + 12 <= p.length) {
          factSamples = le32L(off + 8)
        } else if (id == "data" && dataOff < 0) {
          dataOff = off + 8
          dataLen = math.min(sz, (p.length - dataOff).toLong).toInt
        }
        val step = 8L + sz + (sz & 1L) // chunks are word-aligned
        if (step <= 8L || off + step > Int.MaxValue) return null
        off += step.toInt
      }
      WavLayout(tag, channels, rate, byteRate, blockAlign, bits, spbExt,
        factSamples, dataOff, dataLen)
    }

    /** (sample_rate, n_channels, duration_ms, n_sample_frames) or zeros. */
    def parseWav(p: Array[Byte]): (Int, Int, Long, Long) = {
      val w = walkWav(p)
      if (w == null || w.rate <= 0 || w.channels <= 0 || w.blockAlign <= 0 ||
        w.dataOff < 0) (0, 0, 0L, 0L)
      else (w.rate, w.channels,
        if (w.byteRate > 0) w.dataLen.toLong * 1000L / w.byteRate else 0L,
        w.dataLen.toLong / w.blockAlign)
    }

    /** (timescale, duration_ms, n_tracks, width, height, n_frames) or
      * zeros. Width/height come from the first video trak's tkhd
      * (16.16 fixed point); n_frames is the sum of that trak's stts
      * sample counts — the real frame count, no decode needed.
      */
    def parseMp4(p: Array[Byte]): (Long, Long, Int, Int, Int, Long) = {
      def be32(o: Int) = (p(o) & 0xffL) << 24 | (p(o + 1) & 0xffL) << 16 |
        (p(o + 2) & 0xffL) << 8 | (p(o + 3) & 0xffL)
      def be64(o: Int) = (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (p(o + i) & 0xffL))
      if (!isMp4(p)) return (0L, 0L, 0, 0, 0, 0L)

      /** Children (type, payloadStart, payloadEnd) of the box run [start, end). */
      def children(start: Int, end: Int): Seq[(String, Int, Int)] = {
        val out = Seq.newBuilder[(String, Int, Int)]
        var off = start
        var ok = true
        while (ok && off + 8 <= end) {
          val sz0 = be32(off)
          val typ = new String(p, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val (sz, hdr) =
            if (sz0 == 1L && off + 16 <= end) (be64(off + 8), 16)
            else if (sz0 == 0L) ((end - off).toLong, 8) // box extends to end
            else (sz0, 8)
          if (sz < hdr || off + sz > end) ok = false // malformed: stop the walk
          else {
            out += ((typ, off + hdr, off + sz.toInt))
            off += sz.toInt
          }
        }
        out.result()
      }
      def child(cs: Seq[(String, Int, Int)], t: String): Option[(Int, Int)] =
        cs.collectFirst { case (`t`, a, b) => (a, b) }

      val top = children(0, p.length)
      child(top, "moov").map { case (ms, me) =>
        val moov = children(ms, me)
        val (timescale, durationTicks) = child(moov, "mvhd").map { case (a, b) =>
          if (b - a < 4) (0L, 0L)
          else p(a) match { // version byte
            case 1 => if (b - a >= 28 + 4) (be32(a + 20), be64(a + 24)) else (0L, 0L)
            case _ => if (b - a >= 20 + 4) (be32(a + 12), be32(a + 16)) else (0L, 0L)
          }
        }.getOrElse((0L, 0L))
        val traks = moov.filter(_._1 == "trak")
        // per-trak: tkhd dimensions (16.16 fixed) + stts sample-count sum
        val perTrak = traks.map { case (_, a, b) =>
          val cs = children(a, b)
          val dims = child(cs, "tkhd").map { case (ta, tb) =>
            val v = if (tb - ta >= 1) p(ta).toInt else -1
            // v0: ver/flags(4) times(8) id(4) res(4) dur(4) res(8)
            //     layer+alt+vol+res(8) matrix(36) w(4) h(4)  → w @ 76
            // v1: times are 8 bytes each, dur 8                → w @ 88
            val wOff = if (v == 1) ta + 88 else ta + 76
            if (v >= 0 && wOff + 8 <= tb)
              ((be32(wOff) >> 16).toInt, (be32(wOff + 4) >> 16).toInt)
            else (0, 0)
          }.getOrElse((0, 0))
          val frames = (for {
            mdia <- child(cs, "mdia")
            minf <- child(children(mdia._1, mdia._2), "minf")
            stbl <- child(children(minf._1, minf._2), "stbl")
            stts <- child(children(stbl._1, stbl._2), "stts")
          } yield stts).map { case (sa, sb) =>
            if (sb - sa < 8) 0L
            else {
              // entry_count is attacker-controlled: clamp to the entries
              // the box payload can actually hold, or a crafted count
              // near 2^32 burns billions of iterations and (i*8).toInt
              // wraps into a negative array index — the two ways this
              // walk could violate the never-throw contract
              val n = math.min(be32(sa + 4), ((sb - sa - 8) / 8).toLong)
              (0L until n).foldLeft(0L) { (acc, i) =>
                val eo = sa + 8 + (i * 8).toInt
                acc + be32(eo)
              }
            }
          }.getOrElse(0L)
          (dims, frames)
        }
        // the video track = first trak declaring nonzero dimensions; its
        // stts gives the real frame count. An audio-only MP4 (M4A) falls
        // back to the first trak's sample count.
        val video = perTrak.find(t => t._1._1 > 0 && t._1._2 > 0)
        val (w, h) = video.map(_._1).getOrElse((0, 0))
        val frames = video.map(_._2)
          .orElse(perTrak.headOption.map(_._2)).getOrElse(0L)
        val durMs = if (timescale > 0) durationTicks * 1000L / timescale else 0L
        (timescale, durMs, traks.size, w, h, frames)
      }.getOrElse((0L, 0L, 0, 0, 0, 0L))
    }

    /** MPEG-1 Layer III bitrate table (kbps), header index 1..14 (0 is
      * "free format", 15 is forbidden) and the MPEG-1 sample-rate table —
      * both from the public header layout (ISO/IEC 11172-3 frame header).
      */
    private[multimodal] val Mp3BitrateKbps =
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    private[multimodal] val Mp3SampleRate = Array(44100, 48000, 32000)

    /** (sample_rate, n_channels, first_frame_bitrate_kbps, n_frames,
      * duration_ms) over an MPEG-1 Layer III stream (optionally ID3v2-
      * tagged), or zeros. This is a frame-HEADER walk — each frame's byte
      * length is computed from its own header (144000·kbps/rate + padding)
      * and the Huffman-coded body is skipped without decoding, so the parse
      * stays metadata-priced like the WAV/BMFF walks; only the SAMPLE
      * decode remains behind [[FakeCodec]] (no MP3 codec in the JVM). The
      * walk stops at the first non-frame byte (trailing ID3v1 tags, junk)
      * or version/layer/sample-rate flip; a truncated trailing frame is
      * not counted (same clamp discipline as parseWav). VBR streams are
      * counted frame-by-frame (per-frame lengths honor each header's own
      * bitrate); the reported kbps is the FIRST frame's. Duration is
      * n_frames · 1152 samples / sample_rate, exact in integer ms.
      */
    def parseMp3(p: Array[Byte]): (Int, Int, Int, Long, Long) = {
      if (!isMp3(p)) return (0, 0, 0, 0L, 0L)
      var off: Long =
        if (hasId3v2(p)) {
          // ID3v2: 10-byte header + tag body, EXCLUDING the optional
          // 10-byte footer (flags bit 4 — v2.4 §3.1: a footered tag may
          // not be padded, and the size field does not count the footer)
          10L + synchsafe(p, 6) + (if ((p(5) & 0x10) != 0) 10L else 0L)
        } else 0L
      // tolerate zero padding between the tag and the first frame (some
      // encoders leave it outside the declared tag size); only 0x00 bytes
      // are skipped — anything else must be a sync or the walk stops
      while (off < p.length && p(off.toInt) == 0) off += 1
      var sr = 0; var ch = 0; var kbps0 = 0; var frames = 0L
      var ok = true
      while (ok && off + 4 <= p.length) {
        val o = off.toInt
        val b2 = p(o + 1) & 0xff; val b3 = p(o + 2) & 0xff
        // sync (11 set bits) + MPEG-1 (version bits 11) + Layer III (01):
        // 0xFF then 1111101x (x = CRC-protection flag)
        if ((p(o) & 0xff) != 0xff || (b2 & 0xfe) != 0xfa) ok = false
        else {
          val bi = (b3 >> 4) & 0xf
          val si = (b3 >> 2) & 0x3
          val pad = (b3 >> 1) & 0x1
          if (bi < 1 || bi > 14 || si > 2) ok = false
          else {
            val rate = Mp3SampleRate(si)
            if (sr == 0) {
              sr = rate; kbps0 = Mp3BitrateKbps(bi)
              ch = if (((p(o + 3) & 0xff) >> 6) == 3) 1 else 2 // mode 11 = mono
            }
            if (rate != sr) ok = false // sample-rate flip: malformed stream
            else {
              val flen = 144000 * Mp3BitrateKbps(bi) / rate + pad
              if (off + flen > p.length) ok = false // truncated last frame
              else { frames += 1; off += flen }
            }
          }
        }
      }
      if (frames == 0L) (0, 0, 0, 0L, 0L)
      else (sr, ch, kbps0, frames, frames * 1152L * 1000L / sr)
    }

    /** What a FLAC consumer needs from the metadata block walk: the
      * first STREAMINFO's fields (all zero when there is none, or when
      * its sample rate is the invalid 0) and the offset of the first
      * audio frame — just past the block that carries the last-block
      * flag, or -1 when the walk never reaches one inside the payload.
      */
    private[multimodal] final case class FlacLayout(
        rate: Int, channels: Int, bits: Int, total: Long, frameOff: Int)

    /** THE FLAC metadata walk — for parseFlac and FlacCodec.decodeStats
      * (public spec, RFC 9639): after the "fLaC" magic, each block is
      * [1-byte header: last-flag(1) + type(7)] [3-byte BE length]
      * [payload]; STREAMINFO (type 0, 34 bytes, spec-required first)
      * packs sample rate (20 bits), channels−1 (3), bits−1 (5) and a
      * 36-bit total-sample count into the 8 bytes after the block/frame
      * size fields. A truncated later block leaves the STREAMINFO read
      * before it standing. Long offset: block lengths are attacker-
      * controlled 24-bit values, and an Int accumulator could wrap
      * negative near a 2 GiB payload. `null` for non-FLAC payloads.
      */
    private[multimodal] def walkFlac(p: Array[Byte]): FlacLayout = {
      if (!isFlac(p)) return null
      var rate = 0; var channels = 0; var bits = 0; var total = 0L
      var infoSeen = false
      var off = 4L
      var last = false
      while (!last && off + 4 <= p.length) {
        val o = off.toInt
        val hdr = p(o) & 0xff
        val len = ((p(o + 1) & 0xff) << 16) | ((p(o + 2) & 0xff) << 8) |
          (p(o + 3) & 0xff)
        if (!infoSeen && (hdr & 0x7f) == 0 && len >= 34 && off + 4 + 34 <= p.length) {
          infoSeen = true
          // bytes 10..17 of STREAMINFO: sr(20) ch-1(3) bps-1(5) total(36)
          val base = o + 4 + 10
          var packed = 0L
          var i = 0
          while (i < 8) { packed = (packed << 8) | (p(base + i) & 0xffL); i += 1 }
          rate = (packed >>> 44).toInt
          if (rate > 0) {
            channels = ((packed >>> 41) & 0x7).toInt + 1
            bits = ((packed >>> 36) & 0x1f).toInt + 1
            total = packed & 0xfffffffffL // low 36 bits
          }
        }
        off += 4 + len
        last = (hdr & 0x80) != 0
      }
      FlacLayout(rate, channels, bits, total,
        if (last && off <= p.length) off.toInt else -1)
    }

    /** (sample_rate, n_channels, bits_per_sample, total_samples,
      * duration_ms) from a FLAC STREAMINFO block ([[walkFlac]]), or
      * zeros. Header-priced like the other container walks; FLAC SAMPLE
      * decode is [[FlacCodec]].
      */
    def parseFlac(p: Array[Byte]): (Int, Int, Int, Long, Long) = {
      val f = walkFlac(p)
      if (f == null || f.rate <= 0) (0, 0, 0, 0L, 0L)
      else (f.rate, f.channels, f.bits, f.total, f.total * 1000L / f.rate)
    }

    def isFlac(p: Array[Byte]): Boolean =
      p.length >= 8 && p(0) == 'f' && p(1) == 'L' && p(2) == 'a' && p(3) == 'C'

    /** (frame_id, text) of every T*** text frame in a leading ID3v2.3/4
      * tag — the title/artist/album metadata an audio-corpus pipeline
      * keys on. Handles the version split on FRAME sizes (v2.4 synchsafe
      * vs v2.3 plain BE), text encodings 0 (latin-1) and 3 (UTF-8) with
      * trailing-NUL strip, stops at padding (zero id byte), and clamps
      * every read to both the declared tag size and the payload — a
      * truncated or lying tag yields the frames actually present, never
      * an exception. Non-ID3 payloads → empty.
      */
    def id3TextFrames(p: Array[Byte]): Seq[(String, String)] = {
      if (!hasId3v2(p)) return Nil
      val v24 = p(3) == 4
      val end = math.min(10L + synchsafe(p, 6), p.length.toLong).toInt
      val out = Seq.newBuilder[(String, String)]
      var off = 10
      var done = false
      while (!done && off + 10 <= end) {
        if (p(off) == 0) done = true // padding
        else {
          val id = new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val sz =
            if (v24) synchsafe(p, off + 4)
            else ((p(off + 4) & 0xff) << 24) | ((p(off + 5) & 0xff) << 16) |
              ((p(off + 6) & 0xff) << 8) | (p(off + 7) & 0xff)
          if (sz < 0 || off + 10L + sz > end) done = true
          else {
            if (id.nonEmpty && id.charAt(0) == 'T' &&
              id.forall(c => c.isUpper || c.isDigit) && sz >= 1) {
              val enc = p(off + 10) & 0xff
              val cs = enc match {
                case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
                case 3 => java.nio.charset.StandardCharsets.UTF_8
                case _ => null // UTF-16 variants: out of gated scope
              }
              if (cs != null) {
                var len = sz - 1
                while (len > 0 && p(off + 10 + len) == 0) len -= 1 // NUL strip
                out += ((id, new String(p, off + 11, len, cs)))
              }
            }
            off += 10 + sz
          }
        }
      }
      out.result()
    }

    /** Structural ID3v2 header check — NOT just the 3 ASCII magic bytes.
      * Ordinary text can begin "ID3 ..." (the same hazard the BMP sniff
      * documents for "BM"), and q46 deliberately routes document TEXT
      * through the media path; a loose sniff would steal those payloads
      * from FakeCodec and break the gate. Validated: version major in
      * 2..4 (never 0xFF), version minor != 0xFF, and all four synchsafe
      * size bytes with the MSB clear (spec-required) — ASCII after "ID3 "
      * fails the version test.
      */
    private def hasId3v2(p: Array[Byte]): Boolean =
      p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3' &&
        p(3) >= 2 && p(3) <= 4 && (p(4) & 0xff) != 0xff &&
        (p(6) & 0x80) == 0 && (p(7) & 0x80) == 0 &&
        (p(8) & 0x80) == 0 && (p(9) & 0x80) == 0

    /** The ID3v2 SYNCHSAFE integer at `o`: 4 bytes, 7 bits each — the
      * tag size at 6 (header and footer not counted) and v2.4 frame sizes.
      */
    private def synchsafe(p: Array[Byte], o: Int): Int =
      ((p(o) & 0x7f) << 21) | ((p(o + 1) & 0x7f) << 14) | ((p(o + 2) & 0x7f) << 7) | (p(o + 3) & 0x7f)

    def isMp3(p: Array[Byte]): Boolean =
      p.length >= 4 &&
        (hasId3v2(p) || ((p(0) & 0xff) == 0xff && (p(1) & 0xfe) == 0xfa))

    def isWav(p: Array[Byte]): Boolean =
      p.length >= 44 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

    def isMp4(p: Array[Byte]): Boolean =
      p.length >= 12 && p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p'

    /** Structural Ogg sniff — the "OggS" capture pattern alone is four
      * printable ASCII bytes (the "ID3 "/"BM" text hazard again), so the
      * check also requires stream-structure version 0 (the only version
      * RFC 3533 defines) and the reserved high bits of header_type clear;
      * ordinary text beginning "OggS..." fails both.
      */
    def isOgg(p: Array[Byte]): Boolean =
      p.length >= 27 && p(0) == 'O' && p(1) == 'g' && p(2) == 'g' &&
        p(3) == 'S' && p(4) == 0 && (p(5) & 0xf8) == 0

    /** (sample_rate, n_channels, nominal_bitrate_kbps, total_samples,
      * duration_ms) over an Ogg/Vorbis stream, or zeros. Page walk per the
      * public Ogg framing spec (RFC 3533): each page is a 27-byte header
      * ["OggS", version, header_type, 64-bit LE granule position, serial,
      * sequence, CRC, n_segments] plus the lacing table whose byte values
      * sum to the payload length (255-valued entries continue into the
      * next — the sum handles that for free). The first page's packet must
      * be a Vorbis identification header (Vorbis I §4.2.2: 0x01 "vorbis",
      * version 0, channels u8, rate u32 LE, three s32 LE bitrates), which
      * yields rate/channels/nominal bitrate; the LAST page's granule
      * position is the stream's total PCM sample count, giving exact
      * integer-ms duration. Header-priced like the other container walks —
      * lacing tables are read, packet bodies are skipped, page CRCs are
      * NOT verified (integrity checking is a different operation from
      * metadata extraction). A truncated trailing page is not counted
      * (parseWav's clamp discipline); -1 granules (page ends mid-packet)
      * are ignored for the duration. Vorbis SAMPLE decode (MDCT) stays
      * behind [[FakeCodec]] — no JVM codec exists here.
      */
    def parseOgg(p: Array[Byte]): (Int, Int, Int, Long, Long) = {
      if (!isOgg(p)) return (0, 0, 0, 0L, 0L)
      // Long offset: lacing sums are attacker-controlled (up to 255*255
      // per page) — same never-throw discipline as the MP3/FLAC walks
      var off = 0L
      var sr = 0; var ch = 0; var kbps = 0
      var lastGranule = 0L; var pages = 0L
      var ok = true
      while (ok && off + 27 <= p.length) {
        val o = off.toInt
        if (p(o) != 'O' || p(o + 1) != 'g' || p(o + 2) != 'g' ||
          p(o + 3) != 'S' || p(o + 4) != 0) ok = false
        else {
          var granule = 0L
          var i = 0
          while (i < 8) { granule |= (p(o + 6 + i) & 0xffL) << (8 * i); i += 1 }
          val nsegs = p(o + 26) & 0xff
          if (off + 27 + nsegs > p.length) ok = false
          else {
            var payloadLen = 0L
            i = 0
            while (i < nsegs) { payloadLen += p(o + 27 + i) & 0xff; i += 1 }
            val bodyOff = off + 27 + nsegs
            if (bodyOff + payloadLen > p.length) ok = false // truncated page
            else {
              if (pages == 0L) {
                // BOS packet must be the Vorbis identification header
                val b = bodyOff.toInt
                val isVorbisId = payloadLen >= 30 && p(b) == 0x01 &&
                  p(b + 1) == 'v' && p(b + 2) == 'o' && p(b + 3) == 'r' &&
                  p(b + 4) == 'b' && p(b + 5) == 'i' && p(b + 6) == 's' &&
                  p(b + 7) == 0 && p(b + 8) == 0 && p(b + 9) == 0 && p(b + 10) == 0
                if (!isVorbisId) return (0, 0, 0, 0L, 0L)
                ch = p(b + 11) & 0xff
                sr = (p(b + 12) & 0xff) | ((p(b + 13) & 0xff) << 8) |
                  ((p(b + 14) & 0xff) << 16) | ((p(b + 15) & 0xff) << 24)
                val nominal = (p(b + 20) & 0xff) | ((p(b + 21) & 0xff) << 8) |
                  ((p(b + 22) & 0xff) << 16) | ((p(b + 23) & 0xff) << 24)
                kbps = if (nominal > 0) nominal / 1000 else 0
              }
              if (granule >= 0) lastGranule = granule
              pages += 1
              off = bodyOff + payloadLen
            }
          }
        }
      }
      if (pages == 0L || sr <= 0) (0, 0, 0, 0L, 0L)
      else {
        // granule is a raw 64-bit field: split the ms conversion so the
        // *1000 can't wrap (remainder < sr ≤ Int.Max), clamping only the
        // physically impossible >292-million-year case
        val secPart = lastGranule / sr
        val durMs =
          if (secPart > Long.MaxValue / 1000L) Long.MaxValue
          else secPart * 1000L + (lastGranule % sr) * 1000L / sr
        (sr, ch, kbps, lastGranule, durMs)
      }
    }

    /** Structural AVI sniff: the RIFF magic plus the 'AVI ' form type at
      * offset 8 (the WAV sniff's shape with a different form) — text
      * beginning "RIFF" alone never matches.
      */
    def isAvi(p: Array[Byte]): Boolean =
      p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

    /** THE AVI chunk walk — every AVI consumer (parseAvi, VideoOps'
      * frame decoders) reads chunks through it. Visits (fourcc offset,
      * size) of each leaf chunk inside every top-level LIST of type
      * `listType` ("hdrl", "movi"); the leaf body is p[off + 8, off + 8 +
      * size). RIFF layout: fourcc + LE32 size, bodies padded to even
      * length. Long offsets: chunk sizes are attacker-controlled u32 (the
      * never-throw discipline of the MP3/FLAC/Ogg walks). A truncated
      * LIST is walked up to the bytes actually present (parseWav's clamp
      * rule); a truncated LEAF ends that LIST's walk, never partially
      * read. Non-AVI payloads visit nothing.
      */
    private[multimodal] def walkAviList(p: Array[Byte], listType: String)(
        visit: (Int, Int) => Unit): Unit = {
      if (!isAvi(p)) return
      var off = 12L
      while (off + 12 <= p.length) {
        val o = off.toInt
        val size = le32(p, o + 4)
        val body = off + 8
        if (fccIs(p, o, "LIST") && size >= 4 && fccIs(p, o + 8, listType)) {
          var so = body + 4
          val end = math.min(body + size, p.length.toLong)
          var sok = true
          while (sok && so + 8 <= end) {
            val ssz = le32(p, so.toInt + 4)
            if (so + 8 + ssz > end) sok = false
            else {
              visit(so.toInt, ssz.toInt)
              so += 8 + ssz + (ssz & 1)
            }
          }
        }
        off = body + size + (size & 1)
      }
    }

    /** (width, height, total_frames, usec_per_frame, duration_ms) from an
      * AVI main header ('avih' inside LIST/hdrl — the public RIFF/AVI
      * layout, read by [[walkAviList]]), or zeros. Any structural
      * violation reports the corrupt-media contract. Frame PIXEL decode
      * for the uncompressed-DIB case is [[VideoOps]]; this is the
      * header-priced metadata half.
      */
    def parseAvi(p: Array[Byte]): (Int, Int, Long, Long, Long) = {
      var w = 0L; var h = 0L; var n = 0L; var mspf = 0L
      walkAviList(p, "hdrl") { (s, ssz) =>
        if (fccIs(p, s, "avih") && ssz >= 40) {
          mspf = le32(p, s + 8)
          n = le32(p, s + 8 + 16)
          w = le32(p, s + 8 + 32)
          h = le32(p, s + 8 + 36)
        }
      }
      // DWORD fields above Int.MaxValue are physically impossible declared
      // dimensions → corrupt, not a negative-Int surprise downstream
      if (w <= 0 || h <= 0 || mspf <= 0 || w > Int.MaxValue || h > Int.MaxValue)
        (0, 0, 0L, 0L, 0L)
      else {
        val durMs =
          if (n > Long.MaxValue / mspf) Long.MaxValue
          else n * mspf / 1000L
        (w.toInt, h.toInt, n, mspf, durMs)
      }
    }

    /** decodeMeta-compatible projection: (hash, width, height, n_frames).
      * Audio: 0×0, n_frames = PCM sample-frame count. Video: declared
      * dimensions, container frame count. Corrupt: all zeros.
      */
    def decode(payload: Array[Byte]): (String, Int, Int, Int) = {
      val hex = md5Hex(payload)
      if (isWav(payload)) {
        val (rate, _, _, sampleFrames) = parseWav(payload)
        if (rate <= 0) (hex, 0, 0, 0)
        else (hex, 0, 0, math.min(sampleFrames, Int.MaxValue.toLong).toInt)
      } else if (isMp4(payload)) {
        val (ts, _, _, w, h, frames) = parseMp4(payload)
        if (ts <= 0) (hex, 0, 0, 0)
        else (hex, w, h, math.min(frames, Int.MaxValue.toLong).toInt)
      } else if (isMp3(payload)) {
        val (sr, _, _, frames, _) = parseMp3(payload)
        if (sr <= 0) (hex, 0, 0, 0)
        else (hex, 0, 0, math.min(frames, Int.MaxValue.toLong).toInt)
      } else if (isFlac(payload)) {
        val (sr, _, _, total, _) = parseFlac(payload)
        if (sr <= 0) (hex, 0, 0, 0)
        else (hex, 0, 0, math.min(total, Int.MaxValue.toLong).toInt)
      } else if (isOgg(payload)) {
        val (sr, _, _, total, _) = parseOgg(payload)
        if (sr <= 0) (hex, 0, 0, 0)
        else (hex, 0, 0, math.min(total, Int.MaxValue.toLong).toInt)
      } else if (isAvi(payload)) {
        val (w, h, frames, _, _) = parseAvi(payload)
        if (w <= 0) (hex, 0, 0, 0)
        else (hex, w, h, math.min(frames, Int.MaxValue.toLong).toInt)
      } else (hex, 0, 0, 0)
    }
  }

  /** Real PCM SAMPLE decode (the audio half of what used to be the
    * FakeCodec boundary): 16-bit PCM WAV needs no codec library — the data
    * chunk IS the samples, little-endian signed 16-bit interleaved by
    * channel — so decoding them is plain byte parsing, same as the
    * container walk. After this — and [[ImageOps.gifFrameFeatures]]' real
    * multi-frame GIF decode — FakeCodec covers only COMPRESSED media
    * (MP3/AAC samples / H.264 frames — genuinely impossible without codec
    * libs in this container).
    *
    * Stats are integer-exact on purpose: a downstream gate can recompute
    * them relationally (sum/abs/max over the sample formula) with zero
    * float drift, so the decode path is verifiable bit-for-bit
    * cross-engine. Non-PCM or non-16-bit payloads report the corrupt-media
    * contract (all zeros), never an exception.
    */
  object AudioCodec {
    /** (n_samples, sum_v, sum_abs, peak_abs) over the decoded s16le
      * samples of a 16-bit PCM WAV; zeros for anything else. A truncated
      * data chunk decodes the samples actually present (same clamp rule as
      * [[ContainerCodec.parseWav]]).
      */
    def pcmStats(p: Array[Byte]): (Long, Long, Long, Int) = {
      // audioFormat 1 = uncompressed PCM; only 16 bits/sample decodes
      // (any channel count — samples are counted interleaved)
      val w = ContainerCodec.walkWav(p)
      if (w == null || w.tag != 1 || w.bits != 16 || w.dataOff < 0)
        return (0L, 0L, 0L, 0)
      val dataOff = w.dataOff
      val n = w.dataLen / 2 // whole s16le samples only
      var i = 0
      var sumV = 0L; var sumAbs = 0L; var peak = 0
      while (i < n) {
        val o = dataOff + i * 2
        // sign-extension is the correctness crux: high byte is signed
        val v = (((p(o + 1) << 8) | (p(o) & 0xff)).toShort).toInt
        sumV += v
        val a = math.abs(v) // |Short.MinValue| fits in Int
        sumAbs += a
        if (a > peak) peak = a
        i += 1
      }
      (n.toLong, sumV, sumAbs, peak)
    }

    /** Audio FEATURE extraction over the decoded samples of a MONO 16-bit
      * PCM WAV — the voice-corpus filtering primitives (VAD-style silence
      * trim, zero-crossing rate, peak windowed energy), all integer-exact
      * so a SQL oracle replays them over the sample formula:
      * (n_samples, zero_crossings, max_window_abs, first_loud, last_loud)
      * where zero_crossings counts sign flips (x ≥ 0 vs < 0) between
      * adjacent samples, max_window_abs is the max over `window`-sized
      * tumbling windows of Σ|v| (the last window may be partial), and
      * first/last_loud are the outermost indices with |v| > thresh (the
      * silence-trim bounds; -1 when the whole clip is quiet). Non-mono or
      * non-PCM payloads report the corrupt-media contract (all zeros,
      * loud indices -1).
      */
    def pcmFeatures(p: Array[Byte], window: Int, thresh: Int): (Long, Long, Long, Long, Long) = {
      require(window > 0)
      val w = ContainerCodec.walkWav(p)
      if (w == null || w.tag != 1 || w.channels != 1 || w.bits != 16 ||
        w.dataOff < 0) return (0L, 0L, 0L, -1L, -1L)
      val dataOff = w.dataOff
      val n = w.dataLen / 2
      var zc = 0L; var maxWin = 0L; var winSum = 0L
      var firstLoud = -1L; var lastLoud = -1L
      var prevNonNeg = false
      var i = 0
      while (i < n) {
        val o = dataOff + i * 2
        val v = (((p(o + 1) << 8) | (p(o) & 0xff)).toShort).toInt
        val nonNeg = v >= 0
        if (i > 0 && nonNeg != prevNonNeg) zc += 1
        prevNonNeg = nonNeg
        val a = math.abs(v)
        if (a > thresh) { if (firstLoud < 0) firstLoud = i; lastLoud = i }
        winSum += a
        if ((i + 1) % window == 0 || i == n - 1) {
          if (winSum > maxWin) maxWin = winSum
          winSum = 0L
        }
        i += 1
      }
      (n.toLong, zc, maxWin, firstLoud, lastLoud)
    }

    /** ITU-T G.711 µ-law byte → linear PCM sample (±32124 range). Pure
      * integer formula (the CCITT reference expansion: invert, bias the
      * mantissa by 0x84, shift by the segment, un-bias), so a SQL oracle
      * replays it with bit arithmetic — the decode itself is gate-exact,
      * not invariant-bounded.
      */
    def ulawToLinear(b: Int): Int = {
      val u = ~b & 0xff
      val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }

    /** ITU-T G.711 A-law byte → linear PCM sample (±32256 range). The
      * even-bit XOR 0x55 mask, then per-segment expansion; segment 0 is
      * the linear-step special case (+8), higher segments bias by 0x108
      * and shift. Same gate-exact SQL-replayable contract as µ-law.
      */
    def alawToLinear(b: Int): Int = {
      val a = b ^ 0x55
      val m = (a & 0x0f) << 4
      val seg = (a & 0x70) >> 4
      val t = seg match {
        case 0 => m + 8
        case 1 => m + 0x108
        case s => (m + 0x108) << (s - 1)
      }
      if ((a & 0x80) != 0) t else -t
    }

    /** (codec_tag, n_samples, sum_v, sum_abs, peak_abs) over the decoded
      * samples of a G.711 WAV (format tag 6 = A-law, 7 = µ-law, 8
      * bits/sample): every data byte is one sample, decoded by the exact
      * ITU formulas above. Non-G.711 payloads report the corrupt-media
      * contract (tag 0, all zeros) — 16-bit PCM stays [[pcmStats]]'s job.
      */
    def g711Stats(p: Array[Byte]): (Int, Long, Long, Long, Int) = {
      val w = ContainerCodec.walkWav(p)
      // mono only, like every other sample walk in this object — a
      // stereo G.711 stream must hit the corrupt-media contract, not be
      // silently flattened into one interleaved channel
      if (w == null || (w.tag != 6 && w.tag != 7) || w.channels != 1 ||
        w.bits != 8 || w.dataOff < 0) return (0, 0L, 0L, 0L, 0)
      val tag = w.tag
      val dataOff = w.dataOff; val dataLen = w.dataLen
      var i = 0
      var sumV = 0L; var sumAbs = 0L; var peak = 0
      while (i < dataLen) {
        val v =
          if (tag == 7) ulawToLinear(p(dataOff + i) & 0xff)
          else alawToLinear(p(dataOff + i) & 0xff)
        sumV += v
        val a = math.abs(v)
        sumAbs += a
        if (a > peak) peak = a.toInt
        i += 1
      }
      (tag, dataLen.toLong, sumV, sumAbs, peak)
    }

    /** IMA/DVI ADPCM tables (public IMA ADPCM spec / MS WAVE format tag
      * 0x11): 89-entry step-size table and the 3-bit index adjustment.
      */
    private[multimodal] val ImaStep: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    private[multimodal] val ImaIndexAdj: Array[Int] =
      Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** One IMA decode step: (predictor, stepIndex, nibble) → (sample,
      * predictor', stepIndex'). The shared state machine for decode AND
      * the synth-side encoder (which mirrors the decoder to stay
      * drift-free, as every real IMA encoder does).
      */
    private[graft] def imaStep(pred: Int, idx: Int, n: Int): (Int, Int, Int) = {
      val step = ImaStep(idx)
      var diff = step >> 3
      if ((n & 1) != 0) diff += step >> 2
      if ((n & 2) != 0) diff += step >> 1
      if ((n & 4) != 0) diff += step
      val p2 = math.max(-32768, math.min(32767,
        if ((n & 8) != 0) pred - diff else pred + diff))
      val i2 = math.max(0, math.min(88, idx + ImaIndexAdj(n & 7)))
      (p2, p2, i2)
    }

    /** Encode one sample against (pred, idx) → (nibble, pred', idx').
      * Standard IMA quantization: magnitude bits set greedily against
      * step, step/2, step/4; state advances through [[imaStep]] so the
      * encoder tracks exactly what the decoder will reconstruct.
      */
    private[graft] def imaEncode(sample: Int, pred: Int, idx: Int): (Int, Int, Int) = {
      val step = ImaStep(idx)
      var delta = sample - pred
      var n = 0
      if (delta < 0) { n = 8; delta = -delta }
      if (delta >= step) { n |= 4; delta -= step }
      if (delta >= (step >> 1)) { n |= 2; delta -= step >> 1 }
      if (delta >= (step >> 2)) n |= 1
      val (_, p2, i2) = imaStep(pred, idx, n)
      (n, p2, i2)
    }

    /** Decoded-sample walk of a mono IMA ADPCM WAV (format tag 0x11, 4
      * bits/sample): per block a 4-byte state header (initial predictor
      * s16le — which IS the block's first output sample — step index u8,
      * reserved u8) followed by data bytes carrying two nibbles each, LOW
      * nibble first. Returns (n_samples, first_sample, sum_v, sum_abs,
      * peak_abs, max_err) where max_err is the max |decoded - expected|
      * against the caller's expected-sample function (the reconstruction
      * bound a gate turns into a verdict); zeros for non-ADPCM payloads.
      * A truncated final block decodes the nibbles actually present —
      * the same clamp discipline as [[pcmStats]].
      */
    def adpcmStats(p: Array[Byte], expected: Int => Int): (Long, Int, Long, Long, Int, Int) = {
      val w = ContainerCodec.walkWav(p)
      if (w == null || w.tag != 0x11 || w.channels != 1 || w.bits != 4 ||
        w.dataOff < 0) return (0L, 0, 0L, 0L, 0, 0)
      val blockAlign = w.blockAlign
      // MS ADPCM-family fmt extension when present; spec default otherwise
      val spb = if (w.spbExt > 0) w.spbExt else (blockAlign - 4) * 2 + 1
      // the fact chunk is the authoritative decoded-length bound
      val factSamples = if (w.factSamples >= 0) w.factSamples else Long.MaxValue
      val dataOff = w.dataOff; val dataLen = w.dataLen
      if (blockAlign < 5 || spb < 1) return (0L, 0, 0L, 0L, 0, 0)
      var n = 0L; var first = 0; var sumV = 0L; var sumAbs = 0L
      var peak = 0; var maxErr = 0
      def emit(v: Int): Unit = {
        if (n == 0L) first = v
        val e = math.abs(v - expected(n.toInt))
        if (e > maxErr) maxErr = e
        sumV += v
        val a = math.abs(v)
        sumAbs += a
        if (a > peak) peak = a
        n += 1
      }
      var b0 = dataOff
      while (b0 + 4 <= dataOff + dataLen && n < factSamples) {
        val blockEnd = math.min(b0 + blockAlign, dataOff + dataLen)
        var pred = ((p(b0 + 1) << 8) | (p(b0) & 0xff)).toShort.toInt
        var idx = math.max(0, math.min(88, p(b0 + 2) & 0xff))
        var inBlock = 0
        def room: Boolean = inBlock < spb && n < factSamples
        if (room) { emit(pred); inBlock += 1 }
        var o = b0 + 4
        while (o < blockEnd && room) {
          val byte = p(o) & 0xff
          val (s1, p1, i1) = imaStep(pred, idx, byte & 0x0f)
          emit(s1); pred = p1; idx = i1; inBlock += 1
          if (room) {
            val (s2, p2, i2) = imaStep(pred, idx, (byte >> 4) & 0x0f)
            emit(s2); pred = p2; idx = i2; inBlock += 1
          }
          o += 1
        }
        b0 += blockAlign
      }
      (n, first, sumV, sumAbs, peak, maxErr)
    }

    // ----------------------------------------------------------- MS ADPCM
    // WAV format tag 0x0002 (ADPCMWAVEFORMAT, public Microsoft RIFF spec):
    // adaptive 4-bit differential coding with a 2-tap FIR predictor chosen
    // per block from 7 published coefficient pairs, and a per-nibble delta
    // adaptation table. All tables below are the spec's own constants.
    private[multimodal] val MsAdaptTable: Array[Int] = Array(
      230, 230, 230, 230, 307, 409, 512, 614,
      768, 614, 512, 409, 307, 230, 230, 230)
    private[multimodal] val MsCoef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
    private[multimodal] val MsCoef2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)

    /** One MS ADPCM decode step: signed 4-bit nibble against history
      * (s1 = previous, s2 = before that) → (sample, delta'). The
      * predictor division is C-style truncation toward zero — the spec's
      * pseudo-code semantics (`(s1*c1 + s2*c2) / 256` on ints), which
      * differs from an arithmetic shift on negative sums; delta
      * adaptation is the positive-domain `(table[nib] * delta) >> 8`
      * floored at 16. Shared by decode AND the synth-side encoder so the
      * two can never drift.
      */
    private[graft] def msStep(nib: Int, s1: Int, s2: Int, delta: Int, c1: Int, c2: Int): (Int, Int) = {
      val signed = if (nib >= 8) nib - 16 else nib
      val pred = (s1 * c1 + s2 * c2) / 256
      val sample = math.max(-32768, math.min(32767, pred + delta * signed))
      var d2 = (MsAdaptTable(nib) * delta) >> 8
      if (d2 < 16) d2 = 16
      (sample, d2)
    }

    /** Encode one sample against (s1, s2, delta) under coef pair (c1, c2):
      * rounded quantization of the prediction error, then the state
      * advances through [[msStep]] — the encoder tracks exactly what the
      * decoder will reconstruct (drift-free, like every real encoder).
      * Returns (nibble, reconstructed, delta').
      */
    private[graft] def msEncode(sample: Int, s1: Int, s2: Int, delta: Int, c1: Int, c2: Int): (Int, Int, Int) = {
      val pred = (s1 * c1 + s2 * c2) / 256
      val diff = sample - pred
      val q0 = (diff + (if (diff >= 0) delta / 2 else -delta / 2)) / delta
      val nib = math.max(-8, math.min(7, q0)) & 0x0f
      val (rec, d2) = msStep(nib, s1, s2, delta, c1, c2)
      (nib, rec, d2)
    }

    /** Decoded-sample walk of a mono MS ADPCM WAV (format tag 0x0002,
      * 4 bits/sample): per block a 7-byte state header (predictor index
      * u8 ≤ 6, initial delta s16le, sample1 s16le, sample2 s16le — the
      * two history samples ARE the block's first two outputs, oldest
      * first) followed by data bytes carrying two nibbles each, HIGH
      * nibble first (the opposite packing of IMA's — spec, not
      * convention). Returns (n_samples, first_sample, sum_v, sum_abs,
      * peak_abs, max_err) against the caller's expected-sample function;
      * zeros for non-MS-ADPCM payloads; a predictor index above 6 stops
      * the walk at the corrupt-media contract.
      */
    def msAdpcmStats(p: Array[Byte], expected: Int => Int): (Long, Int, Long, Long, Int, Int) = {
      val w = ContainerCodec.walkWav(p)
      if (w == null || w.tag != 0x0002 || w.channels != 1 || w.bits != 4 ||
        w.dataOff < 0) return (0L, 0, 0L, 0L, 0, 0)
      val blockAlign = w.blockAlign
      val spb = if (w.spbExt > 0) w.spbExt else (blockAlign - 7) * 2 + 2
      val factSamples = if (w.factSamples >= 0) w.factSamples else Long.MaxValue
      val dataOff = w.dataOff; val dataLen = w.dataLen
      if (blockAlign < 8 || spb < 2) return (0L, 0, 0L, 0L, 0, 0)
      var n = 0L; var first = 0; var sumV = 0L; var sumAbs = 0L
      var peak = 0; var maxErr = 0
      def emit(v: Int): Unit = {
        if (n == 0L) first = v
        val e = math.abs(v - expected(n.toInt))
        if (e > maxErr) maxErr = e
        sumV += v
        val a = math.abs(v)
        sumAbs += a
        if (a > peak) peak = a
        n += 1
      }
      def le16(o: Int): Int = ((p(o + 1) << 8) | (p(o) & 0xff)).toShort.toInt
      var b0 = dataOff
      while (b0 + 7 <= dataOff + dataLen && n < factSamples) {
        val blockEnd = math.min(b0 + blockAlign, dataOff + dataLen)
        val predIdx = p(b0) & 0xff
        if (predIdx > 6) return (n, first, sumV, sumAbs, peak, maxErr)
        val c1 = MsCoef1(predIdx); val c2 = MsCoef2(predIdx)
        var delta = math.max(16, le16(b0 + 1))
        var s1 = le16(b0 + 3) // newer history sample
        var s2 = le16(b0 + 5) // older history sample
        var inBlock = 0
        def room: Boolean = inBlock < spb && n < factSamples
        if (room) { emit(s2); inBlock += 1 } // oldest first
        if (room) { emit(s1); inBlock += 1 }
        var o = b0 + 7
        while (o < blockEnd && room) {
          val byte = p(o) & 0xff
          val (v1, d1) = msStep((byte >> 4) & 0x0f, s1, s2, delta, c1, c2)
          emit(v1); s2 = s1; s1 = v1; delta = d1; inBlock += 1
          if (room) {
            val (v2, d2) = msStep(byte & 0x0f, s1, s2, delta, c1, c2)
            emit(v2); s2 = s1; s1 = v2; delta = d2; inBlock += 1
          }
          o += 1
        }
        b0 += blockAlign
      }
      (n, first, sumV, sumAbs, peak, maxErr)
    }
  }

  /** FLAC STREAMINFO row — carries the bits_per_sample field the generic
    * ContainerMeta schema has no slot for.
    */
  case class FlacMeta(
      media_id: Long,
      sample_rate: Int,
      n_channels: Int,
      bits_per_sample: Int,
      total_samples: Long,
      duration_ms: Long)

  /** Per-partition FLAC STREAMINFO parse at the codec boundary; rows whose
    * payload is not a parseable FLAC stream report the corrupt-media
    * contract (all zeros).
    */
  def flacMeta(media: Dataset[MediaRow]): Dataset[FlacMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).map { r =>
        val (sr, ch, bps, total, durMs) = ContainerCodec.parseFlac(r.payload)
        FlacMeta(r.media_id, sr, ch, bps, total, durMs)
      }
    }
  }

  /** Rich container metadata row (audio/video header parse). */
  case class ContainerMeta(
      media_id: Long,
      n_bytes: Long,
      content_hash: String,
      media_kind: String, // "audio" | "video" | "image" | "other"
      sample_rate: Int,
      n_channels: Int,
      duration_ms: Long,
      n_tracks: Int,
      width: Int,
      height: Int,
      n_frames: Long,
      bitrate_kbps: Int = 0) // nonzero only where the container declares it (MP3 frame headers, Vorbis nominal bitrate)

  /** Per-partition container parse — the audio/video analog of
    * [[decodeMeta]], surfacing the full header metadata (duration, sample
    * rate, channel/track counts) the narrow MediaMeta schema cannot carry.
    */
  def containerMeta(media: Dataset[MediaRow]): Dataset[ContainerMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).map { r =>
        val p = r.payload
        val hex = md5Hex(p)
        if (ContainerCodec.isWav(p)) {
          val (rate, ch, durMs, sframes) = ContainerCodec.parseWav(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "audio",
            rate, ch, durMs, if (rate > 0) 1 else 0, 0, 0, sframes)
        } else if (ContainerCodec.isMp4(p)) {
          val (_, durMs, tracks, w, h, frames) = ContainerCodec.parseMp4(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "video",
            0, 0, durMs, tracks, w, h, frames)
        } else if (ContainerCodec.isMp3(p)) {
          val (rate, ch, kbps, frames, durMs) = ContainerCodec.parseMp3(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "audio",
            rate, ch, durMs, if (rate > 0) 1 else 0, 0, 0, frames, kbps)
        } else if (ContainerCodec.isFlac(p)) {
          val (rate, ch, _, total, durMs) = ContainerCodec.parseFlac(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "audio",
            rate, ch, durMs, if (rate > 0) 1 else 0, 0, 0, total)
        } else if (ContainerCodec.isOgg(p)) {
          val (rate, ch, kbps, total, durMs) = ContainerCodec.parseOgg(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "audio",
            rate, ch, durMs, if (rate > 0) 1 else 0, 0, 0, total, kbps)
        } else if (ContainerCodec.isAvi(p)) {
          val (w, h, frames, _, durMs) = ContainerCodec.parseAvi(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "video",
            0, 0, durMs, if (w > 0) 1 else 0, w, h, frames)
        } else if (ImageCodec.isSupportedImage(p)) {
          val (_, w, h, frames) = ImageCodec.decode(p)
          ContainerMeta(r.media_id, p.length.toLong, hex, "image",
            0, 0, 0L, if (w > 0) 1 else 0, w, h, frames.toLong)
        } else {
          ContainerMeta(r.media_id, p.length.toLong, hex, "other",
            0, 0, 0L, 0, 0, 0, 0L)
        }
      }
    }
  }

  /** Per-partition decode: iterator-in/iterator-out so codec state is
    * initialized once per partition, not per row (mapPartitions is the
    * sanctioned last-resort tier of SURVEY.md §2.9 — justified here because
    * codecs are imperative native code, not expressions).
    */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // native codec contexts init here, once per partition; null payloads
      // (nullable binary columns) are skipped, not decoded. Dispatch:
      // media_type is the schema-level truth — declared images go through
      // the REAL ImageIO path, declared non-images (text/audio/video)
      // through the deterministic stand-in even if their bytes happen to
      // start with an image magic ("BM25 ..." is text, not a bitmap);
      // only UNTYPED payloads (empty / octet-stream, e.g. binaryFile
      // ingestion) fall back to the magic-byte sniff.
      rows.filter(_.payload != null).map { r =>
        val declaredImage = r.media_type != null && r.media_type.startsWith("image/")
        val declaredAv = r.media_type != null &&
          (r.media_type.startsWith("audio/") || r.media_type.startsWith("video/"))
        val untyped = r.media_type == null || r.media_type.isEmpty ||
          r.media_type == "application/octet-stream"
        val isContainer = ContainerCodec.isWav(r.payload) ||
          ContainerCodec.isMp4(r.payload) || ContainerCodec.isMp3(r.payload) ||
          ContainerCodec.isFlac(r.payload) || ContainerCodec.isOgg(r.payload) ||
          ContainerCodec.isAvi(r.payload)
        val (hex, w, h, frames) =
          if (declaredImage || (untyped && ImageCodec.isSupportedImage(r.payload)))
            ImageCodec.decode(r.payload)
          // audio/video whose bytes really are a WAV/ISO-BMFF container →
          // REAL header metadata (ContainerCodec); declared a/v of any
          // other byte shape keeps the deterministic FakeCodec stand-in —
          // that is the documented codec-less boundary q46 exercises with
          // text payloads under a video/ label
          else if ((declaredAv || untyped) && isContainer)
            ContainerCodec.decode(r.payload)
          else FakeCodec.decode(r.payload)
        MediaMeta(r.media_id, r.payload.length.toLong, hex, w, h, frames)
      }
    }
  }

  /** Deterministic frame sampling: every `stride`-th frame index. Pure
    * relational (explode over a sequence) — the shape a video pipeline uses
    * to fan one row out to frame rows before a decode step.
    */
  def sampleFrames(meta: DataFrame, stride: Int): DataFrame =
    meta
      // a real codec reports 0 frames for corrupt/empty media; emit no frame
      // rows rather than letting sequence(0, -1) abort the whole job
      .filter(col("n_frames") > 0)
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** REAL image feature extraction — the resize + perceptual-fingerprint
    * tier of the image pipeline, with NO fake in the path: payloads are
    * decoded by `javax.imageio` (PNG roundtrip is lossless), downsampled
    * by explicit integer nearest-neighbor sampling, and fingerprinted
    * with a 56-bit row-gradient dHash (difference hash — the standard
    * perceptual near-dup fingerprint: bit (y,x) = [L(x+1,y) > L(x,y)]
    * over an 8×8 luminance thumbnail; identical content → identical
    * hash regardless of original resolution, so grouping by dhash IS
    * image-modality dedup, the q34/q35 ladder extended to pixels).
    *
    * Everything is integer math on pixel values (no float resampling, no
    * platform-dependent interpolation), so a SQL oracle that knows the
    * source pixel formula can recompute width/height/sum_lum/dhash
    * without ever seeing the bytes — the same never-self-consistent gate
    * contract as [[SyntheticMedia]]/q173.
    *
    * Scale shape: pure map work at the [[decodeMeta]] mapPartitions
    * boundary — no shuffle until the (tiny) fingerprint aggregation, so
    * at 100 TB this is scan-bound and embarrassingly parallel; the dHash
    * group-by shuffles 8 bytes per image, not the pixels.
    */
  object ImageOps {

    // ImageIO's stream-based write wraps its argument in a
    // createImageOutputStream, which with the default useCache=true is a
    // FILE-backed cache: every synth would round-trip the payload through
    // a temp file on disk. All payloads here are in-memory byte arrays,
    // so the disk cache is off process-wide (the flag only selects
    // Memory- vs FileCache streams; encoded bytes are identical). Set
    // here, in the object that owns [[withReader]] and [[write]], so it
    // is set before any read or write.
    javax.imageio.ImageIO.setUseCache(false)

    /** Runs `f` on the first `javax.imageio` reader that claims `bytes`
      * (its input set to an in-memory stream; disposed after), or returns
      * `none` when no reader does. THE reader-open of the image tier:
      * [[read]], [[ImageCodec.decode]] and [[gifFrameFeatures]]. Metadata
      * is ignored, as `ImageIO.read` does: the PNG reader then skips the
      * ancillary chunks, whose zTXt/iTXt/iCCP inflate has no size cap (a
      * deflate bomb in a text chunk would exhaust the executor) and whose
      * parse errors would lose an image with intact pixels. Random access
      * stays on for `getNumImages(true)` and `read(i)`.
      */
    private[multimodal] def withReader[T](bytes: Array[Byte], none: T)(
        f: javax.imageio.ImageReader => T): T = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) none
        else {
          val r = readers.next()
          try { r.setInput(iis, false, true); f(r) } finally r.dispose()
        }
      } finally iis.close()
    }

    /** THE full image decode: the first image of an encoded
      * PNG/JPEG/GIF/BMP, or null when the bytes do not decode — unknown
      * format, corrupt or truncated data. A JPEG cut inside its
      * entropy-coded scan decodes "successfully" to a gray-filled image
      * with only a "premature end of data segment" warning, so that
      * warning (and libjpeg's "premature end of JPEG file") counts as
      * corrupt. Other warnings keep the image: "N extraneous bytes before
      * marker", common in camera and web JPEGs, and a missing EOI marker
      * after a complete scan lose no pixels. Every caller maps null to
      * the corrupt-media contract (no row), never a task failure.
      */
    def read(bytes: Array[Byte]): java.awt.image.BufferedImage =
      try withReader[java.awt.image.BufferedImage](bytes, null) { r =>
        var cut = false
        r.addIIOReadWarningListener((_, msg) =>
          if (msg != null && msg.toLowerCase(java.util.Locale.ROOT).contains("premature end")) cut = true)
        val img = r.read(0)
        if (cut) null else img
      } catch { case scala.util.control.NonFatal(_) => null }

    /** Encode `img` in `format` ("png", "jpg", ...) with the JDK writer.
      * The one single-image encode; [[synthGif]]'s multi-frame sequence
      * writer is the one other encoder.
      */
    def write(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }

    /** Luminance grid of `img` downsampled to tw×th by top-left
      * nearest-neighbor (src = floor(dst·srcDim/dstDim)) — explicit
      * integer sampling, bit-reproducible everywhere. Luminance = the
      * blue channel (callers synthesize gray images, r=g=b).
      */
    def lumaGrid(img: java.awt.image.BufferedImage, tw: Int, th: Int): Array[Array[Int]] =
      Array.tabulate(th, tw)((y, x) =>
        img.getRGB(x * img.getWidth / tw, y * img.getHeight / th) & 0xff)

    /** 56-bit row-gradient dHash over an 8×8 luminance grid: bit
      * (y·7 + x) set iff L(x+1,y) > L(x,y), x∈[0,7), y∈[0,8). 56 bits
      * keeps the value in positive BIGINT range on both engines.
      */
    def dHash56(g: Array[Array[Int]]): Long = {
      var h = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 7) {
          if (g(y)(x + 1) > g(y)(x)) h |= 1L << (y * 7 + x)
          x += 1
        }
        y += 1
      }
      h
    }

    /** Deterministic gray PNG: w = 16 + key%17, h = 16 + key%13,
      * L(x,y) = (7x + 13y + 31·key) mod 256. A pure formula of `key`, so
      * the oracle recomputes every downstream feature relationally.
      */
    def synthPng(key: Long): Array[Byte] = {
      val w = 16 + (key % 17).toInt
      val h = 16 + (key % 13).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val l = ((7L * x + 13L * y + 31L * key) % 256L).toInt
          img.setRGB(x, y, (l << 16) | (l << 8) | l)
          x += 1
        }
        y += 1
      }
      write(img, "png")
    }

    /** Deterministic COLOR PNG: w = 12 + key%11, h = 12 + key%7, channel
      * formulas r=(7x+13y+31k)%256, g=(11x+3y+17k)%256, b=(5x+23y+29k)%256.
      * PNG TYPE_INT_RGB roundtrips losslessly, so the decoded pixel is
      * the formula byte exactly — the q195 gate contract, per channel.
      */
    def synthPngRgb(key: Long): Array[Byte] = {
      val w = 12 + (key % 11).toInt
      val h = 12 + (key % 7).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((7L * x + 13L * y + 31L * key) % 256L).toInt
          val g = ((11L * x + 3L * y + 17L * key) % 256L).toInt
          val b = ((5L * x + 23L * y + 29L * key) % 256L).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      write(img, "png")
    }

    /** Nearest-neighbor resize to tw×th, packed 0xRRGGBB row-major — the
      * [[lumaGrid]] sampling rule (src = floor(dst·srcDim/dstDim), the
      * top-left convention) applied to full color: explicit integer
      * sampling, bit-reproducible, SQL-replayable. This is the
      * model-input preprocessing primitive (thumbnail for a vision
      * encoder); stats over its output gate the op end-to-end.
      */
    def resizeNearestRgb(img: java.awt.image.BufferedImage, tw: Int, th: Int): Array[Int] = {
      val out = new Array[Int](tw * th)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          out(y * tw + x) =
            img.getRGB(x * img.getWidth / tw, y * img.getHeight / th) & 0xffffff
          x += 1
        }
        y += 1
      }
      out
    }

    /** Center crop cw×ch (top-left-biased for odd margins: x0=(w-cw)/2),
      * packed 0xRRGGBB row-major. Requires the crop to fit.
      */
    def centerCropRgb(img: java.awt.image.BufferedImage, cw: Int, ch: Int): Array[Int] = {
      val w = img.getWidth; val h = img.getHeight
      require(cw <= w && ch <= h, s"crop ${cw}x$ch exceeds ${w}x$h")
      val x0 = (w - cw) / 2; val y0 = (h - ch) / 2
      val out = new Array[Int](cw * ch)
      var y = 0
      while (y < ch) {
        var x = 0
        while (x < cw) {
          out(y * cw + x) = img.getRGB(x0 + x, y0 + y) & 0xffffff
          x += 1
        }
        y += 1
      }
      out
    }

    /** Per-channel (r,g,b) sums over packed pixels — the normalization
      * statistic a vision pipeline computes before mean/std scaling.
      */
    def channelSums(pix: Array[Int]): (Long, Long, Long) = {
      var r = 0L; var g = 0L; var b = 0L
      var i = 0
      while (i < pix.length) {
        val p = pix(i)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        i += 1
      }
      (r, g, b)
    }

    /** Insert a PNG tEXt chunk (keyword NUL text, CRC32 over type+data —
      * the real PNG chunk integrity rule) immediately after IHDR. IHDR is
      * spec-required first and fixed-size, so the insert point is
      * signature(8) + 4+4+13+4 = 33. The result stays a valid PNG (tEXt
      * is ancillary; decoders skip it).
      */
    def withPngText(png: Array[Byte], keyword: String, text: String): Array[Byte] = {
      require(keyword.nonEmpty && keyword.length <= 79 && keyword.indexOf(' ') < 0,
        s"invalid tEXt keyword: '$keyword'")
      val data = keyword.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
        Array(0.toByte) ++
        text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val typ = "tEXt".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32
      crc.update(typ); crc.update(data)
      val chunk = java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ).put(data).putInt(crc.getValue.toInt)
        .array()
      val at = 33 // end of IHDR
      png.take(at) ++ chunk ++ png.drop(at)
    }

    /** (keyword, text) pairs of every CRC-valid tEXt chunk — the image
      * caption/provenance metadata a multimodal curation pipeline keys
      * on. Chunks whose CRC32 fails are SKIPPED (integrity is the point
      * of carrying the CRC); a structurally broken walk stops and
      * returns what was validated. Non-PNG payloads → empty.
      */
    def pngTextChunks(p: Array[Byte]): Seq[(String, String)] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      if (p.length < 8 || !sig.indices.forall(i => p(i) == sig(i))) return Nil
      def be32(o: Int): Long =
        ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
          ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
      val out = Seq.newBuilder[(String, String)]
      var off = 8L
      var done = false
      while (!done && off + 8 <= p.length) {
        val o = off.toInt
        val len = be32(o)
        if (len > Int.MaxValue - 12 || off + 12 + len > p.length) done = true
        else {
          val typ = new String(p, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
          if (typ == "tEXt") {
            val crc = new java.util.zip.CRC32
            crc.update(p, o + 4, 4 + len.toInt)
            if (crc.getValue == be32(o + 8 + len.toInt)) {
              val data = java.util.Arrays.copyOfRange(p, o + 8, o + 8 + len.toInt)
              val nul = data.indexOf(0.toByte)
              if (nul > 0) out += ((
                new String(data, 0, nul, java.nio.charset.StandardCharsets.ISO_8859_1),
                new String(data, nul + 1, data.length - nul - 1,
                  java.nio.charset.StandardCharsets.ISO_8859_1)))
            }
          }
          if (typ == "IEND") done = true
          off += 12 + len
        }
      }
      out.result()
    }

    /** Box-filter downscale by integer factor m (the "area" resampling a
      * vision pipeline uses when the scale divides): truncate to the
      * largest m-multiple frame, then each output pixel is the floor mean
      * of its m×m block, per channel. Integer-exact (sum / m² floor), so
      * a SQL oracle replays it with a block-sum join.
      */
    def downscaleBoxRgb(img: java.awt.image.BufferedImage, m: Int): Array[Int] = {
      require(m >= 1)
      val ow = img.getWidth / m; val oh = img.getHeight / m
      val out = new Array[Int](ow * oh)
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) {
          var r = 0; var g = 0; var b = 0
          var dy = 0
          while (dy < m) {
            var dx = 0
            while (dx < m) {
              val p = img.getRGB(x * m + dx, y * m + dy)
              r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
              dx += 1
            }
            dy += 1
          }
          val mm = m * m
          out(y * ow + x) = ((r / mm) << 16) | ((g / mm) << 8) | (b / mm)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Deterministic multi-frame gray GIF: w = 8 + key%9, h = 8 + key%7,
      * n_frames = 2 + key%4, L(x,y,f) = (7x + 13y + 29f + 31·key) mod 256.
      * A pure formula of `key`, so the oracle recomputes every per-frame
      * feature relationally (the q195/q173 never-self-consistent gate
      * contract, extended to the time axis).
      *
      * Pixels are written through an EXPLICIT 256-entry gray
      * IndexColorModel raster, not setRGB on TYPE_BYTE_GRAY: TYPE_BYTE_GRAY
      * routes setRGB through an sRGB→linear-gray colorspace transform
      * (lossy, platform-calibrated), while an indexed raster stores the
      * formula's byte verbatim and the GIF writer emits that palette
      * unchanged — the decode side returns bit-identical luminance.
      */
    def synthGif(key: Long): Array[Byte] = {
      val w = 8 + (key % 9).toInt
      val h = 8 + (key % 7).toInt
      val n = 2 + (key % 4).toInt
      val ramp = Array.tabulate(256)(_.toByte)
      val cm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < n) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0,
                ((7L * x + 13L * y + 29L * f + 31L * key) % 256L).toInt)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      bos.toByteArray
    }

    /** REAL multi-frame decode (VERDICT r6 #6 — the last FakeCodec
      * retirement): every frame of an animated GIF is decoded by
      * `javax.imageio`'s GIF reader and feature-extracted like
      * [[imageFeatures]] — (media_id, frame_idx, n_frames, width, height,
      * sum_lum, dhash), one row per frame. Frames are read independently
      * (each synthesized frame is a full image, no inter-frame disposal
      * compositing to model). Corrupt/undecodable media fans out to no
      * rows (the q46 contract); a single corrupt FRAME drops only that
      * frame.
      *
      * Scale shape: identical to [[imageFeatures]] — pure map work at the
      * mapPartitions codec boundary, the reader init amortized per
      * partition-row, no shuffle until the downstream (frame-sized, not
      * pixel-sized) aggregation.
      */
    def gifFrameFeatures(media: Dataset[MediaRow]): DataFrame = {
      import media.sparkSession.implicits._
      media.mapPartitions { rows =>
        rows.filter(_.payload != null).flatMap { r =>
          withReader(r.payload, IndexedSeq.empty[(Long, Int, Int, Int, Int, Long, Long)]) { rd =>
            val n =
              try rd.getNumImages(true)
              catch { case scala.util.control.NonFatal(_) => 0 }
            (0 until n).flatMap { i =>
              val img =
                try rd.read(i)
                catch { case scala.util.control.NonFatal(_) => null }
              if (img == null || img.getWidth < 8 || img.getHeight < 8) None
              else {
                val g = lumaGrid(img, 8, 8)
                Some((r.media_id, i, n, img.getWidth, img.getHeight,
                  g.map(_.map(_.toLong).sum).sum, dHash56(g)))
              }
            }
          }
        }
      }.toDF("media_id", "frame_idx", "n_frames", "width", "height", "sum_lum", "dhash")
    }

    /** Per-image features after a REAL decode+resize:
      * (media_id, width, height, sum_lum, dhash) — corrupt/undecodable
      * payloads fan out to no row (the q46 corrupt-media contract).
      */
    def imageFeatures(media: Dataset[MediaRow]): DataFrame = {
      import media.sparkSession.implicits._
      media.mapPartitions { rows =>
        rows.filter(_.payload != null).flatMap { r =>
          val img = read(r.payload)
          if (img == null || img.getWidth < 8 || img.getHeight < 8) None
          else {
            val g = lumaGrid(img, 8, 8)
            Some((r.media_id, img.getWidth, img.getHeight,
              g.map(_.map(_.toLong).sum).sum, dHash56(g)))
          }
        }
      }.toDF("media_id", "width", "height", "sum_lum", "dhash")
    }

    /** 15-bit SPECTRAL perceptual hash over a 16×16 luminance grid via the
      * Walsh–Hadamard transform — the pHash construction (low-frequency
      * transform coefficients thresholded at their median) with WHT in
      * place of the DCT, because WHT coefficients are ±1-signed INTEGER
      * sums: bit-reproducible everywhere and exactly replayable in SQL
      * (sign = parity of popcount(u&x)+popcount(v&y)), where a DCT's
      * cos() would make the oracle engine-dependent. Coefficients (u,v) ∈
      * [0,4)² minus DC form the low-frequency block; bit i = [c_i >
      * median]. Uniform brightness shift moves ONLY the DC coefficient
      * (Σ(-1)^… of a constant is exactly 0 in integers), so the hash is
      * brightness-invariant by theorem, not by tolerance — the property
      * that makes it a PERCEPTUAL hash rather than a checksum.
      */
    def whtHash16(g: Array[Array[Int]]): Long = {
      val coeffs = new Array[Long](15)
      var i = 0
      var u = 0
      while (u < 4) {
        var v = 0
        while (v < 4) {
          if (u != 0 || v != 0) {
            var c = 0L
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                val sign = if (((Integer.bitCount(u & x) + Integer.bitCount(v & y)) & 1) == 0) 1 else -1
                c += sign * g(y)(x)
                x += 1
              }
              y += 1
            }
            coeffs(i) = c
            i += 1
          }
          v += 1
        }
        u += 1
      }
      val median = coeffs.sorted.apply(7) // 8th smallest of 15 — exact
      var h = 0L
      i = 0
      while (i < 15) {
        if (coeffs(i) > median) h |= 1L << i
        i += 1
      }
      h
    }

    /** Real decode → 16×16 luma grid → spectral hash, at the codec
      * boundary (same contract as [[imageFeatures]]): corrupt payloads
      * and sub-16px images fan out to no rows; only (id, dims, 8-byte
      * hash) ever leave the task.
      */
    def imageSpectralRows(media: Dataset[MediaRow]): DataFrame = {
      import media.sparkSession.implicits._
      media.mapPartitions { rows =>
        rows.filter(_.payload != null).flatMap { r =>
          val img = read(r.payload)
          if (img == null || img.getWidth < 16 || img.getHeight < 16) None
          else Some((r.media_id, img.getWidth, img.getHeight,
            whtHash16(lumaGrid(img, 16, 16))))
        }
      }.toDF("media_id", "width", "height", "phash")
    }
  }

  /** Real VIDEO sample decode for the codec-less container: AVI frames
    * stored as uncompressed bottom-up BGR24 DIBs ('00db' chunks, BI_RGB —
    * the public RIFF/AVI + BITMAPINFOHEADER layout) need no codec library;
    * the chunk body IS the pixels, rows padded to 4 bytes and stored
    * bottom-up. This retires video-frame decode from [[FakeCodec]] for the
    * uncompressed family the same way [[AudioCodec]] did for PCM WAV;
    * compressed video (H.264/VP9 — no JVM codec here) honestly stays
    * behind FakeCodec.
    *
    * Per-frame features mirror [[ImageOps.gifFrameFeatures]]: top-left
    * nearest-neighbor 8×8 luminance grid (blue channel — callers
    * synthesize gray, r=g=b) → sum_lum + 56-bit dHash. Integer math only,
    * so a SQL oracle that knows the source pixel formula recomputes every
    * feature without seeing a byte.
    *
    * Scale shape: pure map work at the mapPartitions codec boundary —
    * frame decode never shuffles pixels; output is frame-metadata-sized.
    */
  object VideoOps {
    /** One row per decodable frame: (media_id, frame_idx, n_frames, width,
      * height, duration_ms, sum_lum, dhash). Corrupt/undecodable media
      * fans out to no rows; a malformed FRAME chunk (size ≠ the DIB
      * geometry) drops only that frame, its stream position preserved —
      * frame_idx counts every video chunk walked, emitted or not.
      */
    def aviFrameFeatures(media: Dataset[MediaRow]): DataFrame = {
      import media.sparkSession.implicits._
      media.mapPartitions { rows =>
        rows.filter(_.payload != null).flatMap(r => decodeAviFrames(r.media_id, r.payload))
      }.toDF("media_id", "frame_idx", "n_frames", "width", "height",
        "duration_ms", "sum_lum", "dhash")
    }

    private[graft] def decodeAviFrames(id: Long, p: Array[Byte])
        : Seq[(Long, Int, Long, Int, Int, Long, Long, Long)] = {
      val (w, h, n, _, durMs) = ContainerCodec.parseAvi(p)
      // frames smaller than the 8×8 grid carry no stable fingerprint —
      // same floor as the image tiers
      if (w < 8 || h < 8) return Seq.empty
      // Long geometry: w/h are attacker-declared u32s (parseAvi only
      // bounds them to Int), so 3*w and rowBytes*h must not wrap. A
      // declared frame larger than the payload can't have a matching
      // '00db' chunk anyway (chunk bodies are bounds-checked below), so
      // rejecting it here also proves every later pixel index fits Int.
      val rowBytesL = (3L * w + 3L) & ~3L
      val frameSize = rowBytesL * h
      if (frameSize > p.length) return Seq.empty
      val rowBytes = rowBytesL.toInt
      val out = Seq.newBuilder[(Long, Int, Long, Int, Int, Long, Long, Long)]
      var idx = 0
      ContainerCodec.walkAviList(p, "movi") { (s, ssz) =>
        // '00db' = stream 0 uncompressed DIB; '00dc' = compressed
        // (kept for stream position, never decoded here)
        val isDib = ContainerCodec.fccIs(p, s, "00db")
        if (isDib && ssz == frameSize) {
          val base = s + 8
          // bottom-up DIB: logical row y lives at file row h-1-y;
          // BGR byte order → the blue channel is byte 0 of a pixel
          val g = Array.tabulate(8, 8) { (y, x) =>
            val sy = y * h / 8
            val sx = x * w / 8
            p(base + (h - 1 - sy) * rowBytes + 3 * sx) & 0xff
          }
          out += ((id, idx, n, w, h, durMs,
            g.map(_.map(_.toLong).sum).sum, ImageOps.dHash56(g)))
        }
        if (isDib || ContainerCodec.fccIs(p, s, "00dc")) idx += 1
      }
      out.result()
    }

    /** REAL compressed-video frame decode: MJPEG (fourcc MJPG) — each
      * '00dc' chunk is a complete JPEG image, decoded with the JDK's own
      * ImageIO codec (the same real-decode tier as the PNG/JPEG image
      * gates; no codec jar). Per frame: container-declared vs decoded
      * geometry and the three channel sums — JPEG is lossy, so a gate
      * compares the sums against the source formula with the measured
      * ±8/pixel margin (the q236 JPEG-roundtrip precedent) instead of
      * exactly. Frames that fail to decode or disagree on geometry are
      * DROPPED (corrupt-media contract), so a frame-count mismatch is
      * itself a gate signal. Scale: payload-local mapPartitions decode,
      * five numbers per frame shuffle.
      */
    def mjpegFrameFeatures(media: Dataset[MediaRow]): DataFrame = {
      import media.sparkSession.implicits._
      media.mapPartitions { rows =>
        rows.filter(_.payload != null).flatMap(r => decodeMjpegFrames(r.media_id, r.payload))
      }.toDF("media_id", "frame_idx", "n_frames", "width", "height",
        "sum_r", "sum_g", "sum_b")
    }

    private[graft] def decodeMjpegFrames(id: Long, p: Array[Byte])
        : Seq[(Long, Int, Long, Int, Int, Long, Long, Long)] = {
      val (w, h, n, _, _) = ContainerCodec.parseAvi(p)
      if (w <= 0 || h <= 0) return Seq.empty
      val out = Seq.newBuilder[(Long, Int, Long, Int, Int, Long, Long, Long)]
      var idx = 0
      ContainerCodec.walkAviList(p, "movi") { (s, ssz) =>
        if (ContainerCodec.fccIs(p, s, "00dc") && ssz >= 4) {
          val img = ImageOps.read(java.util.Arrays.copyOfRange(p, s + 8, s + 8 + ssz))
          if (img != null && img.getWidth == w && img.getHeight == h) {
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            out += ((id, idx, n, w, h, sr, sg, sb))
          }
          idx += 1
        }
      }
      out.result()
    }
  }

  /** Deterministic spec-conformant media payload builders. These exist so
    * the CONTAINER PARSERS above can be driver-gated end-to-end (q173):
    * synthesize a WAV / MP4 whose metadata is a pure formula of the row
    * key, parse the bytes back with [[ContainerCodec]], and let the DuckDB
    * oracle recompute the formulas — a builder/parser disagreement on any
    * field (endianness, box offsets, fixed-point shifts, chunk padding) is
    * a hash mismatch, not a silently-self-consistent roundtrip, because
    * the oracle never sees the bytes.
    */
  object SyntheticMedia {
    /** Canonical 44-byte-header PCM WAV (16-bit), `frames` sample frames
      * of silence.
      */
    def wav(rate: Int, channels: Int, frames: Int): Array[Byte] = {
      val blockAlign = channels * 2
      val dataSize = frames * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)).putInt(36 + dataSize)
        .put("WAVE".getBytes(ascii))
        .put("fmt ".getBytes(ascii)).putInt(16)
        .putShort(1) // PCM
        .putShort(channels.toShort)
        .putInt(rate)
        .putInt(rate * blockAlign) // byte rate
        .putShort(blockAlign.toShort)
        .putShort(16) // bits/sample
        .put("data".getBytes(ascii)).putInt(dataSize)
      bb.array() // remaining zeros = PCM silence
    }

    /** 16-bit PCM WAV carrying an actual waveform: sample at frame `i`,
      * channel `c` is `((i*k + c*997) % 2001) - 1000` — a formula a SQL
      * oracle can replay over a generated series without seeing the bytes
      * (all operands non-negative, so `%` truncation agrees cross-engine).
      * Fixed 8 kHz rate; `k` varies the waveform per row key.
      */
    def wavWave(channels: Int, frames: Int, k: Int): Array[Byte] = {
      val rate = 8000
      val blockAlign = channels * 2
      val dataSize = frames * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)).putInt(36 + dataSize)
        .put("WAVE".getBytes(ascii))
        .put("fmt ".getBytes(ascii)).putInt(16)
        .putShort(1) // PCM
        .putShort(channels.toShort)
        .putInt(rate)
        .putInt(rate * blockAlign)
        .putShort(blockAlign.toShort)
        .putShort(16)
        .put("data".getBytes(ascii)).putInt(dataSize)
      var i = 0
      while (i < frames) {
        var c = 0
        while (c < channels) {
          bb.putShort((((i * k + c * 997) % 2001) - 1000).toShort)
          c += 1
        }
        i += 1
      }
      bb.array()
    }

    /** G.711 WAV (format tag 6 = A-law when `aLaw`, else 7 = µ-law, 8
      * bits/sample): encoded byte at sample index i is
      * `(i*k + 7*key) % 256` — a pure formula, so a SQL oracle replays
      * the exact ITU decode expansion per byte and aggregates without
      * seeing the container. Mono, 8 kHz (the G.711 telephony rate).
      */
    def wavG711(aLaw: Boolean, samples: Int, k: Int, key: Long): Array[Byte] = {
      val rate = 8000
      val bb = java.nio.ByteBuffer.allocate(44 + samples)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)).putInt(36 + samples)
        .put("WAVE".getBytes(ascii))
        .put("fmt ".getBytes(ascii)).putInt(16)
        .putShort(if (aLaw) 6 else 7)
        .putShort(1) // mono
        .putInt(rate)
        .putInt(rate) // byte rate = rate × 1 byte/sample
        .putShort(1) // block align
        .putShort(8) // bits/sample
        .put("data".getBytes(ascii)).putInt(samples)
      var i = 0
      while (i < samples) {
        bb.put((((i.toLong * k + 7L * key) % 256L).toInt & 0xff).toByte)
        i += 1
      }
      bb.array()
    }

    /** Mono IMA ADPCM WAV (format tag 0x11, 4 bits/sample) carrying the
      * ENCODED form of the triangle wave
      * `s(i) = |((i*k + phase) % 4000) - 2000| - 1000` (continuous — the
      * slope is ±k everywhere, so a small-step tracker can follow): the
      * encoder mirrors the decoder's state machine ([[AudioCodec.imaStep]]),
      * header predictor = s(block start) (so each block's first decoded
      * sample is exact), nibbles packed low-first, `blockAlign`-sized
      * blocks each restarting state from the true waveform value (the
      * seek-point contract real IMA encoders honor). `samples` counts
      * DECODED samples; fmt's samplesPerBlock extension + the fact chunk
      * bound the decode exactly.
      */
    def wavAdpcm(samples: Int, k: Int, blockAlign: Int, phase: Int = 0): Array[Byte] = {
      require(blockAlign >= 8 && samples >= 1 && phase >= 0)
      def s(i: Int): Int =
        (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
      val spb = (blockAlign - 4) * 2 + 1 // samples per full block
      val nBlocks = (samples + spb - 1) / spb
      val buf = new java.io.ByteArrayOutputStream()
      var i = 0
      var blk = 0
      while (blk < nBlocks) {
        val inBlock = math.min(spb, samples - i)
        var pred = s(i)
        var idx = 0
        buf.write(pred & 0xff); buf.write((pred >> 8) & 0xff)
        buf.write(idx); buf.write(0)
        i += 1
        var produced = 1
        var pending = -1 // low nibble awaiting its high partner
        while (produced < inBlock) {
          val (n, p2, i2) = AudioCodec.imaEncode(s(i), pred, idx)
          pred = p2; idx = i2
          if (pending < 0) pending = n
          else { buf.write(pending | (n << 4)); pending = -1 }
          produced += 1
          i += 1
        }
        if (pending >= 0) buf.write(pending) // odd tail: high nibble unused
        // every block except a trailing partial one is padded to
        // blockAlign (mid-stream alignment is what makes IMA blocks
        // seekable); the decoder never decodes padding because fmt's
        // samplesPerBlock extension and the fact chunk bound it
        if (blk < nBlocks - 1) {
          val written = 4 + inBlock / 2
          var pad = blockAlign - written
          while (pad > 0) { buf.write(0); pad -= 1 }
        }
        blk += 1
      }
      val payload = buf.toByteArray
      // fmt(20: base 16 + cbSize 2 + samplesPerBlock 2) + fact + data
      val riffSize = 4 + (8 + 20) + (8 + 4) + (8 + payload.length)
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)).putInt(riffSize)
        .put("WAVE".getBytes(ascii))
        .put("fmt ".getBytes(ascii)).putInt(20)
        .putShort(0x11)
        .putShort(1) // mono
        .putInt(8000)
        .putInt(8000 * blockAlign / spb) // nominal byte rate
        .putShort(blockAlign.toShort)
        .putShort(4) // bits/sample
        .putShort(2) // cbSize
        .putShort(spb.toShort) // samplesPerBlock
        .put("fact".getBytes(ascii)).putInt(4).putInt(samples)
        .put("data".getBytes(ascii)).putInt(payload.length)
        .put(payload)
      bb.array()
    }

    /** Mono MS ADPCM WAV (format tag 0x0002): per block the 7-byte state
      * header (predictor index, initial delta, the first two waveform
      * samples verbatim as history) then HIGH-first nibbles from the
      * mirrored [[AudioCodec.msEncode]] state machine. Predictor pair
      * rotates over all 7 spec coefficients by block so every pair is
      * gate-exercised; the fmt extension carries the full ADPCMWAVEFORMAT
      * form (wSamplesPerBlock, wNumCoef = 7, the 7 published pairs).
      */
    def wavMsAdpcm(samples: Int, k: Int, blockAlign: Int, phase: Int = 0): Array[Byte] = {
      require(blockAlign >= 10 && samples >= 2 && phase >= 0)
      def s(i: Int): Int =
        (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
      val spb = (blockAlign - 7) * 2 + 2
      val nBlocks = (samples + spb - 1) / spb
      val buf = new java.io.ByteArrayOutputStream()
      var i = 0
      var blk = 0
      while (blk < nBlocks) {
        val inBlock = math.min(spb, samples - i)
        val predIdx = blk % 7
        val (c1, c2) = (AudioCodec.MsCoef1(predIdx), AudioCodec.MsCoef2(predIdx))
        // history: s2 = oldest = s(i), s1 = s(i+1); a final 1-sample block
        // repeats the sample as its own history (still decodes to ≥ spb
        // bound, fact clamps the count)
        var s2 = s(i)
        var s1 = if (inBlock >= 2) s(i + 1) else s(i)
        // per-block initial delta sized so the FIRST prediction error is
        // representable in one nibble (a real encoder scans the block to
        // pick iDelta; the first-step error bounds the whole block's
        // reconstruction error because adaptation only refines from there
        // — without this, the (0,0) "no prediction" pair starts 2000
        // off with delta 64 and the tracker lags ~500 for several steps)
        val d0 =
          if (inBlock >= 3) math.abs(s(i + 2) - (s1 * c1 + s2 * c2) / 256)
          else 0
        var delta = math.max(16, d0 / 6)
        buf.write(predIdx)
        buf.write(delta & 0xff); buf.write((delta >> 8) & 0xff)
        buf.write(s1 & 0xff); buf.write((s1 >> 8) & 0xff)
        buf.write(s2 & 0xff); buf.write((s2 >> 8) & 0xff)
        i += math.min(2, inBlock)
        var produced = math.min(2, inBlock)
        var pending = -1 // high nibble awaiting its low partner
        while (produced < inBlock) {
          val (nib, rec, d2) = AudioCodec.msEncode(s(i), s1, s2, delta, c1, c2)
          s2 = s1; s1 = rec; delta = d2
          if (pending < 0) pending = nib
          else { buf.write((pending << 4) | nib); pending = -1 }
          produced += 1
          i += 1
        }
        if (pending >= 0) buf.write(pending << 4) // odd tail: low nibble unused
        if (blk < nBlocks - 1) {
          val written = 7 + (inBlock - 2 + 1) / 2
          var pad = blockAlign - written
          while (pad > 0) { buf.write(0); pad -= 1 }
        }
        blk += 1
      }
      val payload = buf.toByteArray
      // fmt(50: base 16 + cbSize 2 + spb 2 + nCoef 2 + 7 coef pairs 28)
      val riffSize = 4 + (8 + 50) + (8 + 4) + (8 + payload.length)
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)).putInt(riffSize)
        .put("WAVE".getBytes(ascii))
        .put("fmt ".getBytes(ascii)).putInt(50)
        .putShort(0x0002)
        .putShort(1) // mono
        .putInt(8000)
        .putInt(8000 * blockAlign / spb) // nominal byte rate
        .putShort(blockAlign.toShort)
        .putShort(4) // bits/sample
        .putShort(32) // cbSize
        .putShort(spb.toShort) // wSamplesPerBlock
        .putShort(7) // wNumCoef
      for (ci <- 0 until 7)
        bb.putShort(AudioCodec.MsCoef1(ci).toShort)
          .putShort(AudioCodec.MsCoef2(ci).toShort)
      bb.put("fact".getBytes(ascii)).putInt(4).putInt(samples)
        .put("data".getBytes(ascii)).putInt(payload.length)
        .put(payload)
      bb.array()
    }

    /** Real ID3v2 tag carrying text frames — the audio-side analogue of
      * the PNG tEXt builder: frame ids like TIT2/TPE1/TALB with UTF-8
      * payloads (encoding byte 3). `v24` selects synchsafe (v2.4) vs
      * plain big-endian (v2.3) FRAME sizes — the one structural
      * difference a parser must branch on; the TAG size is synchsafe in
      * both.
      */
    def id3Tag(fields: Seq[(String, String)], v24: Boolean): Array[Byte] = {
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val body = new java.io.ByteArrayOutputStream()
      fields.foreach { case (id, text) =>
        require(id.length == 4 && id.forall(c => c.isUpper || c.isDigit), id)
        val data = Array(3.toByte) ++ text.getBytes(utf8) // enc 3 = UTF-8
        body.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        val sz = data.length
        if (v24) {
          body.write((sz >> 21) & 0x7f); body.write((sz >> 14) & 0x7f)
          body.write((sz >> 7) & 0x7f); body.write(sz & 0x7f)
        } else {
          body.write((sz >> 24) & 0xff); body.write((sz >> 16) & 0xff)
          body.write((sz >> 8) & 0xff); body.write(sz & 0xff)
        }
        body.write(0); body.write(0) // frame flags
        body.write(data)
      }
      val b = body.toByteArray
      val hdr = new Array[Byte](10)
      hdr(0) = 'I'; hdr(1) = 'D'; hdr(2) = '3'
      hdr(3) = if (v24) 4 else 3
      hdr(6) = ((b.length >> 21) & 0x7f).toByte
      hdr(7) = ((b.length >> 14) & 0x7f).toByte
      hdr(8) = ((b.length >> 7) & 0x7f).toByte
      hdr(9) = (b.length & 0x7f).toByte
      hdr ++ b
    }

    /** CBR MPEG-1 Layer III stream: `frames` frames at bitrate index
      * `kbpsIdx` (1..14) and sample-rate index `srIdx` (0..2), mono when
      * `mono`, no padding bits; an ID3v2 tag of `id3Size` content bytes is
      * prepended when id3Size > 0 (synchsafe size encoding — the skip path
      * parseMp3 must take). Frame bodies are deterministic filler: a
      * header-walk parser must never read them, so a parser that does
      * shows up as garbage frame counts, not a silent pass.
      */
    def mp3(kbpsIdx: Int, srIdx: Int, frames: Int, mono: Boolean,
        id3Size: Int): Array[Byte] = {
      require(kbpsIdx >= 1 && kbpsIdx <= 14 && srIdx >= 0 && srIdx <= 2)
      // header-index tables shared with the parser: builder/parser
      // independence is provided by the q202 formula oracle (which
      // re-derives both tables in SQL) and the golden-bytes spec, so a
      // hand-mirrored copy here would be maintenance risk, not rigor
      val kbps = ContainerCodec.Mp3BitrateKbps(kbpsIdx)
      val rate = ContainerCodec.Mp3SampleRate(srIdx)
      val flen = 144000 * kbps / rate
      val id3 =
        if (id3Size > 0) {
          val t = new Array[Byte](10 + id3Size)
          t(0) = 'I'; t(1) = 'D'; t(2) = '3'; t(3) = 4 // v2.4
          t(6) = ((id3Size >> 21) & 0x7f).toByte
          t(7) = ((id3Size >> 14) & 0x7f).toByte
          t(8) = ((id3Size >> 7) & 0x7f).toByte
          t(9) = (id3Size & 0x7f).toByte
          var i = 0
          while (i < id3Size) { t(10 + i) = ((i * 31 + 7) % 251).toByte; i += 1 }
          t
        } else Array.empty[Byte]
      val out = new Array[Byte](id3.length + frames * flen)
      System.arraycopy(id3, 0, out, 0, id3.length)
      var f = 0
      while (f < frames) {
        val o = id3.length + f * flen
        out(o) = 0xff.toByte
        out(o + 1) = 0xfb.toByte // MPEG-1, Layer III, no CRC
        out(o + 2) = ((kbpsIdx << 4) | (srIdx << 2)).toByte
        out(o + 3) = (if (mono) 0xc0 else 0x00).toByte // mode 11 = single
        var i = 4
        while (i < flen) { out(o + i) = ((o + i) * 17 % 256).toByte; i += 1 }
        f += 1
      }
      out
    }

    /** Minimal FLAC metadata stream: "fLaC" magic, an optional
      * VORBIS_COMMENT-typed filler block, STREAMINFO, and a last PADDING
      * block. When fillerLen > 0 the filler comes FIRST — deliberately:
      * real encoders put STREAMINFO first (the spec requires it) and the
      * parser accepts that, but a leading filler forces the gate to
      * exercise the step-over-by-declared-length path rather than always
      * returning on block one. No audio frames follow (the parse is
      * header-only by design).
      */
    def flac(sampleRate: Int, channels: Int, bitsPerSample: Int,
        totalSamples: Long, fillerLen: Int): Array[Byte] = {
      require(channels >= 1 && channels <= 8 && bitsPerSample >= 4 &&
        bitsPerSample <= 32 && sampleRate > 0 && sampleRate < (1 << 20) &&
        totalSamples >= 0 && totalSamples < (1L << 36) &&
        fillerLen >= 0 && fillerLen < (1 << 24)) // 24-bit block-length field
      def blockHeader(last: Boolean, typ: Int, len: Int): Array[Byte] = Array(
        (((if (last) 0x80 else 0) | typ) & 0xff).toByte,
        ((len >> 16) & 0xff).toByte, ((len >> 8) & 0xff).toByte, (len & 0xff).toByte)
      val si = new Array[Byte](34) // min/max blocksize+framesize left zero
      val packed = (sampleRate.toLong << 44) |
        ((channels - 1).toLong << 41) | ((bitsPerSample - 1).toLong << 36) |
        totalSamples
      var i = 0
      while (i < 8) { si(10 + i) = ((packed >>> (8 * (7 - i))) & 0xff).toByte; i += 1 }
      val filler =
        if (fillerLen > 0) {
          val f = new Array[Byte](fillerLen)
          var j = 0
          while (j < fillerLen) { f(j) = ((j * 13 + 5) % 127).toByte; j += 1 }
          blockHeader(last = false, typ = 4, fillerLen) ++ f // VORBIS_COMMENT
        } else Array.empty[Byte]
      "fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        filler ++
        blockHeader(last = false, typ = 0, 34) ++ si ++
        blockHeader(last = true, typ = 1, 4) ++ new Array[Byte](4) // PADDING
    }

    /** Minimal Ogg/Vorbis stream: a BOS page carrying the 30-byte Vorbis
      * identification header, then `dataPages` payload pages with
      * monotonically increasing granule positions ending at `totalSamples`
      * on the EOS page. Page CRCs are left zero — parseOgg documents that
      * it does not verify them (metadata walk, not integrity check), and
      * the q204 formula oracle provides builder/parser independence the
      * same way the MP3/FLAC gates do. Packet bodies are deterministic
      * filler a header-walk parser must never read.
      */
    def ogg(rate: Int, channels: Int, nominalKbps: Int, dataPages: Int,
        totalSamples: Long): Array[Byte] = {
      require(rate > 0 && channels >= 1 && channels <= 255 &&
        nominalKbps >= 0 && dataPages >= 1 && totalSamples >= 0)
      def page(headerType: Int, granule: Long, seq: Int,
          payload: Array[Byte]): Array[Byte] = {
        // segments < 255 bytes each → one lacing byte per segment; the
        // 255-continuation path is covered by the golden-bytes spec
        require(payload.length < 255)
        val out = new Array[Byte](27 + 1 + payload.length)
        out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
        out(4) = 0 // stream-structure version
        out(5) = headerType.toByte
        var i = 0
        while (i < 8) { out(6 + i) = ((granule >>> (8 * i)) & 0xff).toByte; i += 1 }
        // serial (fixed) + page sequence, both LE
        out(14) = 0x34; out(15) = 0x12
        i = 0
        while (i < 4) { out(18 + i) = ((seq >>> (8 * i)) & 0xff).toByte; i += 1 }
        // bytes 22..25: CRC left zero (not verified by the walk)
        out(26) = 1 // one segment
        out(27) = payload.length.toByte
        System.arraycopy(payload, 0, out, 28, payload.length)
        out
      }
      val id = new Array[Byte](30)
      id(0) = 0x01
      "vorbis".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        .copyToArray(id, 1)
      // bytes 7..10: vorbis_version = 0 (already zero)
      id(11) = channels.toByte
      val bps = nominalKbps * 1000
      var i = 0
      while (i < 4) {
        id(12 + i) = ((rate >>> (8 * i)) & 0xff).toByte
        id(20 + i) = ((bps >>> (8 * i)) & 0xff).toByte // bitrate_nominal
        i += 1
      }
      id(28) = 0x88.toByte // blocksize_1 = blocksize_0 = 256 (2^8)
      id(29) = 0x01 // framing flag
      val bos = page(0x02, 0L, 0, id)
      val data = (1 to dataPages).map { k =>
        val body = new Array[Byte]((50 + 37 * k % 120))
        var j = 0
        while (j < body.length) { body(j) = ((j * 19 + 3) % 251).toByte; j += 1 }
        page(if (k == dataPages) 0x04 else 0x00,
          totalSamples * k / dataPages, k, body)
      }
      data.foldLeft(bos)(_ ++ _)
    }

    /** Minimal ISO-BMFF video: ftyp + moov(mvhd v0, video trak(tkhd w×h,
      * stts with two runs n1+n2 frames), audio trak(tkhd 0×0, stts 1 run)).
      */
    def mp4(timescale: Int, durationTicks: Int, w: Int, h: Int,
        n1: Int, n2: Int): Array[Byte] = {
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      def box(typ: String, payload: Array[Byte]): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
        bb.putInt(8 + payload.length).put(typ.getBytes(ascii)).put(payload)
        bb.array()
      }
      val mvhd = { // v0: ver/flags(4) ctime(4) mtime(4) timescale(4) dur(4) ...
        val bb = java.nio.ByteBuffer.allocate(100)
        bb.putInt(0).putInt(1).putInt(2).putInt(timescale).putInt(durationTicks)
        box("mvhd", bb.array())
      }
      def tkhd(tw: Int, th: Int): Array[Byte] = { // v0, w/h 16.16 fixed @76/80
        val bb = java.nio.ByteBuffer.allocate(84)
        bb.position(76)
        bb.putInt(tw << 16).putInt(th << 16)
        box("tkhd", bb.array())
      }
      def stts(runs: (Int, Int)*): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(8 + 8 * runs.length)
        bb.putInt(0).putInt(runs.length)
        runs.foreach { case (n, d) => bb.putInt(n).putInt(d) }
        box("stts", bb.array())
      }
      val videoTrak = box("trak", tkhd(w, h) ++
        box("mdia", box("minf", box("stbl", stts(n1 -> 100, n2 -> 200)))))
      val audioTrak = box("trak", tkhd(0, 0) ++
        box("mdia", box("minf", box("stbl", stts(160 -> 1)))))
      val ftyp = box("ftyp", "isom".getBytes(ascii) ++ Array.fill[Byte](4)(0))
      ftyp ++ box("moov", mvhd ++ videoTrak ++ audioTrak)
    }

    /** Deterministic uncompressed-DIB AVI: w = 8 + key%11, h = 8 + key%5,
      * n_frames = 2 + key%3, µs/frame = 20000·(1 + key%5), pixel
      * L(x,y,f) = (7x + 13y + 29f + 31·key) mod 256 — the GIF tier's
      * formula over a different container, every field a pure function of
      * `key` so the oracle recomputes all downstream features
      * relationally. Spec-conformant RIFF: LIST/hdrl carries 'avih' +
      * LIST/strl ('strh' 'vids'/'DIB ', 'strf' BITMAPINFOHEADER,
      * BI_RGB 24-bit); LIST/movi carries n '00db' frames, rows padded to
      * 4 bytes and stored bottom-up. Gray is written to all three BGR
      * channels — lossless by construction, no palette or colorspace
      * transform anywhere.
      */
    def avi(key: Long): Array[Byte] = {
      val w = 8 + (key % 11).toInt
      val h = 8 + (key % 5).toInt
      val n = 2 + (key % 3).toInt
      val mspf = (20000L * (1 + key % 5)).toInt
      val rowBytes = (3 * w + 3) & ~3
      val frameSize = rowBytes * h
      val strlSize = 4 + (8 + 56) + (8 + 40)
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
      val moviSize = 4 + n * (8 + frameSize)
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes(ascii)).putInt(riffSize).put("AVI ".getBytes(ascii))
      bb.put("LIST".getBytes(ascii)).putInt(hdrlSize).put("hdrl".getBytes(ascii))
      bb.put("avih".getBytes(ascii)).putInt(56)
        .putInt(mspf) // dwMicroSecPerFrame
        .putInt(0) // dwMaxBytesPerSec
        .putInt(0) // dwPaddingGranularity
        .putInt(0) // dwFlags
        .putInt(n) // dwTotalFrames
        .putInt(0) // dwInitialFrames
        .putInt(1) // dwStreams
        .putInt(frameSize) // dwSuggestedBufferSize
        .putInt(w).putInt(h)
        .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      bb.put("LIST".getBytes(ascii)).putInt(strlSize).put("strl".getBytes(ascii))
      bb.put("strh".getBytes(ascii)).putInt(56)
        .put("vids".getBytes(ascii)).put("DIB ".getBytes(ascii))
        .putInt(0) // dwFlags
        .putShort(0).putShort(0) // wPriority, wLanguage
        .putInt(0) // dwInitialFrames
        .putInt(mspf) // dwScale
        .putInt(1000000) // dwRate → fps = rate/scale
        .putInt(0) // dwStart
        .putInt(n) // dwLength (frames)
        .putInt(frameSize) // dwSuggestedBufferSize
        .putInt(0) // dwQuality
        .putInt(0) // dwSampleSize
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      bb.put("strf".getBytes(ascii)).putInt(40)
        .putInt(40) // biSize
        .putInt(w).putInt(h) // biHeight > 0 = bottom-up
        .putShort(1) // biPlanes
        .putShort(24) // biBitCount
        .putInt(0) // biCompression = BI_RGB
        .putInt(frameSize) // biSizeImage
        .putInt(0).putInt(0).putInt(0).putInt(0) // pels/clr fields
      bb.put("LIST".getBytes(ascii)).putInt(moviSize).put("movi".getBytes(ascii))
      var f = 0
      while (f < n) {
        bb.put("00db".getBytes(ascii)).putInt(frameSize)
        var fy = h - 1 // bottom-up: first stored row is the last logical one
        while (fy >= 0) {
          var x = 0
          while (x < w) {
            val l = ((7L * x + 13L * fy + 29L * f + 31L * key) % 256L).toByte
            bb.put(l).put(l).put(l) // B, G, R — gray
            x += 1
          }
          var pad = rowBytes - 3 * w
          while (pad > 0) { bb.put(0.toByte); pad -= 1 }
          fy -= 1
        }
        f += 1
      }
      bb.array()
    }

    /** AVI carrying REAL MJPEG frames (fourcc MJPG, biCompression MJPG):
      * each '00dc' chunk is a genuine JDK-encoded JPEG of a SMOOTH
      * per-frame RGB gradient (linear terms only — every channel value
      * stays < 256 at these dims, so there are no mod-wrap edges and the
      * codec's roundtrip error stays far inside the gate's ±8/pixel
      * margin; measured ≤ 4 in FormatDepthSpec's JPEG precedent).
      * Geometry/count are formulas of `key`, chunk bodies are sized per
      * frame and padded to even per RIFF.
      */
    def aviMjpeg(key: Long): Array[Byte] = {
      val w = 16 + (key % 13).toInt
      val h = 16 + (key % 9).toInt
      val n = 2 + (key % 3).toInt
      val mspf = (20000L * (1 + key % 5)).toInt
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      val frames = (0 until n).map { f =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = 3 * x + 2 * y + ((f * 17 + key) % 64).toInt
            val g = 2 * x + 3 * y + ((f * 11 + key) % 32).toInt
            val b = x + y + ((f * 7 + key) % 16).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        ImageOps.write(img, "jpg")
      }
      val frameSpace = frames.map(fb => 8 + fb.length + (fb.length & 1)).sum
      val maxFrame = frames.map(_.length).max
      val strlSize = 4 + (8 + 56) + (8 + 40)
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
      val moviSize = 4 + frameSpace
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes(ascii)).putInt(riffSize).put("AVI ".getBytes(ascii))
      bb.put("LIST".getBytes(ascii)).putInt(hdrlSize).put("hdrl".getBytes(ascii))
      bb.put("avih".getBytes(ascii)).putInt(56)
        .putInt(mspf).putInt(0).putInt(0).putInt(0)
        .putInt(n).putInt(0).putInt(1).putInt(maxFrame)
        .putInt(w).putInt(h)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      bb.put("LIST".getBytes(ascii)).putInt(strlSize).put("strl".getBytes(ascii))
      bb.put("strh".getBytes(ascii)).putInt(56)
        .put("vids".getBytes(ascii)).put("MJPG".getBytes(ascii))
        .putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(mspf).putInt(1000000).putInt(0)
        .putInt(n).putInt(maxFrame).putInt(0).putInt(0)
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      bb.put("strf".getBytes(ascii)).putInt(40)
        .putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24)
        .put("MJPG".getBytes(ascii)) // biCompression fourcc
        .putInt(maxFrame)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      bb.put("LIST".getBytes(ascii)).putInt(moviSize).put("movi".getBytes(ascii))
      frames.foreach { fb =>
        bb.put("00dc".getBytes(ascii)).putInt(fb.length).put(fb)
        if ((fb.length & 1) == 1) bb.put(0.toByte)
      }
      bb.array()
    }
  }
}
