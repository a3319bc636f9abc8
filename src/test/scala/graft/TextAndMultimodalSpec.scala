package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.multimodal.Multimodal

class TextAndMultimodalSpec extends SparkTestBase {

  test("fingerprint is invariant to case and whitespace formatting") {
    import spark.implicits._
    val df = Seq(("Hello  World ", 1), ("hello world", 2)).toDF("text", "id")
      .select(TF.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("langId picks marker-majority language with fixed tie precedence") {
    import spark.implicits._
    val df = Seq(
      ("the cat of the house and a dog", "en"),
      ("der hund und die katze und das haus", "de"),
      ("el gato y la casa de madrid", "es"),
      ("xyzzy plugh quux", "und")).toDF("text", "expected")
      .withColumn("pred", TF.langId(col("text")))
    df.collect().foreach(r => assert(r.getString(2) == r.getString(1), r.toString))
  }

  test("quality features on a known string") {
    import spark.implicits._
    val df = Seq("the cat sat").toDF("text")
      .select(TF.qualityFeatures(col("text"), TF.defaultStopwords).map { case (n, c) => c.as(n) }: _*)
    val r = df.collect().head
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_distinct_tokens") == 3L)
    assert(r.getAs[Double]("mean_token_len") == 3.0)  // (11-2)/3
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 1.0 / 3) < 1e-15)
  }

  test("word shingles: counts, distinctness, and short-doc guard") {
    import spark.implicits._
    val df = Seq("a b c d", "a b").toDF("text")
      .select(size(TF.wordShingles(col("text"), 3)).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2, 0))
  }

  test("multimodal decode plumbing is deterministic and partition-shaped") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "hello".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRow(2L, Array.fill[Byte](200)(7), "video/fake")).toDS()
    val meta = Multimodal.decodeMeta(media.repartition(3)).collect().sortBy(_.media_id)
    assert(meta(0).n_bytes == 5L && meta(0).n_frames == 1)
    assert(meta(1).n_bytes == 200L && meta(1).n_frames == 4)
    assert(meta(0).content_hash == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(meta(0).width >= 64 && meta(0).width < 1920 && meta(0).height >= 64)
    // determinism across runs
    val again = Multimodal.decodeMeta(media).collect().sortBy(_.media_id)
    assert(meta.map(_.content_hash).toSeq == again.map(_.content_hash).toSeq)
  }

  test("sortDecoded: a global sort over a decode runs the decode once, not twice") {
    // RangePartitioner samples by evaluating its child in full, so an
    // orderBy straight over a typed map runs the map for the sample job
    // AND for the shuffle map stage. The first assertion pins that Spark
    // behaviour (a Spark upgrade that changes it shows up here); the
    // second, that sortDecoded's hash exchange makes the sample read
    // shuffle output instead.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val rows = 2000L
    def runs(sort: DataFrame => DataFrame): Long = {
      val calls = spark.sparkContext.longAccumulator("decode_calls")
      val decoded = spark.range(0L, rows, 1L, 4).as[Long]
        .map { id => calls.add(1); (id * 7919L) % rows }.toDF("k")
      sort(decoded).write.format("noop").mode("overwrite").save()
      calls.sum
    }
    assert(runs(_.orderBy(col("k").asc)) == 2 * rows)
    assert(runs(_.transform(Multimodal.sortDecoded("k"))) == rows)
  }

  test("real PNG/BMP payloads decode to true dimensions via javax.imageio") {
    import spark.implicits._
    // construct real images in memory: dimensions are ground truth the
    // codec must recover, not derive from a digest
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF8800) // non-uniform content, defeats trivial encoders
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK lacks $fmt writer")
      out.toByteArray
    }
    val png = encode(123, 45, "png")
    val bmp = encode(31, 17, "bmp")
    // corrupt: valid PNG magic, garbage body — must report 0x0/0 frames,
    // not throw and not fall back to fake dimensions
    val corrupt = png.take(8) ++ Array.fill[Byte](32)(99)
    // a huge DECLARED size must not become a huge allocation: real PNG
    // signature + IHDR claiming 40000x40000 with no pixel data. The
    // header-only decode reports the declared dims without materializing
    // the 6.4 GB raster a full ImageIO.read would attempt.
    val hugeClaim = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(40000).putInt(40000).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val crc = new java.util.zip.CRC32()
      crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdr)
      out.write(java.nio.ByteBuffer.allocate(8).putInt(13)
        .put("IHDR".getBytes("US-ASCII")).array())
      out.write(ihdr)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      out.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, png, "image/png"),
      Multimodal.MediaRow(2L, bmp, "image/bmp"),
      Multimodal.MediaRow(3L, corrupt, "image/png"),
      Multimodal.MediaRow(4L, "plain text".getBytes("UTF-8"), "text/plain"),
      // declared text whose bytes START with image magic: media_type wins,
      // so the deterministic stand-in is used, not the image codec
      Multimodal.MediaRow(5L, "BM25 ranking beats tf-idf".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRow(6L, hugeClaim, "image/png")).toDS()
    val meta = Multimodal.decodeMeta(media.repartition(2)).collect()
      .map(m => m.media_id -> m).toMap
    assert(meta(1L).width == 123 && meta(1L).height == 45 && meta(1L).n_frames == 1)
    assert(meta(2L).width == 31 && meta(2L).height == 17 && meta(2L).n_frames == 1)
    assert(meta(3L).width == 0 && meta(3L).height == 0 && meta(3L).n_frames == 0)
    // corrupt media must fan out to zero frame rows downstream
    assert(Multimodal.sampleFrames(
      Multimodal.decodeMeta(media).toDF().filter(col("media_id") === 3L), 1).count() == 0L)
    // non-image payloads keep the deterministic stand-in (q45's oracle)
    assert(meta(4L).width >= 64 && meta(4L).n_frames == 1)
    assert(meta(5L).width >= 64 && meta(5L).n_frames == 1,
      "text/plain payload with BM prefix must not route to the image codec")
    // header-only: declared dims recovered, no raster allocation, no OOM
    assert(meta(6L).width == 40000 && meta(6L).height == 40000)
  }

  test("binaryFile source ingests opaque payloads with file metadata") {
    // the ingestion front door for the multimodal (§2.11) pipeline: raw
    // image/audio bytes land as (path, modificationTime, length, content)
    val dir = java.nio.file.Files.createTempDirectory("graft_binsrc")
    val payloads = Map("a.bin" -> Array[Byte](1, 2, 3, 4, 5),
      "b.bin" -> Array.tabulate[Byte](300)(i => (i % 127).toByte))
    payloads.foreach { case (name, bytes) =>
      java.nio.file.Files.write(dir.resolve(name), bytes)
    }
    val df = spark.read.format("binaryFile").load(dir.toString)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val rows = df.collect().map { r =>
      val name = r.getString(r.fieldIndex("path")).split('/').last
      (name, r.getLong(r.fieldIndex("length")),
        r.getAs[Array[Byte]]("content"))
    }
    assert(rows.length == 2)
    rows.foreach { case (name, len, content) =>
      assert(payloads(name).length.toLong == len)
      assert(content.sameElements(payloads(name)), s"content mismatch for $name")
    }
  }

  test("frame sampling fans out every stride-th frame") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, Array.fill[Byte](300)(1), "video/fake")).toDS()
    val frames = Multimodal.sampleFrames(Multimodal.decodeMeta(media).toDF(), stride = 2)
      .select(col("frame_idx")).collect().map(_.getInt(0)).toSeq
    assert(frames == Seq(0, 2, 4)) // 300/64+1 = 5 frames → 0,2,4
  }

  // ---- real audio/video container headers (VERDICT r4 #5) -------------

  /** Canonical PCM WAV: 44-byte header + data. Ground truth: 8000 Hz,
    * 2 ch, 16-bit → blockAlign 4, byteRate 32000; 1600 sample frames
    * (6400 data bytes) → 200 ms.
    */
  private def wavBytes(extraChunk: Boolean = false): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(64 * 1024)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val data = Array.fill[Byte](6400)(7)
    val listBody = "INFOsoft".getBytes("US-ASCII")
    bb.put("RIFF".getBytes("US-ASCII")).putInt(0 /* patched below */)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(2) // channels
      .putInt(8000) // sample rate
      .putInt(32000) // byte rate
      .putShort(4) // block align
      .putShort(16) // bits
    if (extraChunk) // a LIST chunk BEFORE data exercises the chunk walk
      bb.put("LIST".getBytes("US-ASCII")).putInt(listBody.length).put(listBody)
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    val out = java.util.Arrays.copyOf(bb.array(), bb.position())
    val riffSz = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(out.length - 8).array()
    System.arraycopy(riffSz, 0, out, 4, 4)
    out
  }

  /** Minimal ISO-BMFF (MP4): ftyp + moov(mvhd, video trak(tkhd 320×240,
    * stts 48·Δ100 + 2·Δ200 = 50 frames), audio trak(tkhd 0×0)). Ground
    * truth: timescale 600, duration 1200 ticks → 2000 ms, 2 tracks.
    */
  private def mp4Bytes(): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val mvhd = { // v0, 100-byte payload, timescale@12=600, duration@16=1200
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0).putInt(1).putInt(2).putInt(600).putInt(1200)
      box("mvhd", bb.array())
    }
    def tkhd(w: Int, h: Int): Array[Byte] = { // v0, 84-byte payload
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.position(76)
      bb.putInt(w << 16).putInt(h << 16)
      box("tkhd", bb.array())
    }
    val stts = { // 2 entries: 48 samples @Δ100, 2 @Δ200 → 50 frames
      val bb = java.nio.ByteBuffer.allocate(8 + 16)
      bb.putInt(0).putInt(2).putInt(48).putInt(100).putInt(2).putInt(200)
      box("stts", bb.array())
    }
    val videoTrak = box("trak", tkhd(320, 240) ++
      box("mdia", box("minf", box("stbl", stts))))
    val audioTrak = box("trak", tkhd(0, 0) ++
      box("mdia", box("minf", box("stbl",
        box("stts", java.nio.ByteBuffer.allocate(16)
          .putInt(0).putInt(1).putInt(160).putInt(1).array())))))
    val moov = box("moov", mvhd ++ videoTrak ++ audioTrak)
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0))
    ftyp ++ moov
  }

  test("WAV header parse recovers sample rate, channels, duration, sample frames") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, wavBytes(), "audio/wav"),
      Multimodal.MediaRow(2L, wavBytes(extraChunk = true), "audio/wav"),
      // RIFF/WAVE magic with a garbage chunk list: corrupt-media contract
      Multimodal.MediaRow(3L, wavBytes().take(12) ++ Array.fill[Byte](40)(99), "audio/wav"))
      .toDS()
    val meta = Multimodal.containerMeta(media.repartition(2)).collect()
      .map(m => m.media_id -> m).toMap
    for (id <- Seq(1L, 2L)) {
      val m = meta(id)
      assert(m.media_kind == "audio" && m.sample_rate == 8000 &&
        m.n_channels == 2 && m.duration_ms == 200L &&
        m.n_frames == 1600L && m.n_tracks == 1, s"media $id: $m")
    }
    assert(meta(3L).sample_rate == 0 && meta(3L).n_frames == 0L)
    // decodeMeta dispatch: declared audio + real container → real sample
    // frames (not FakeCodec's size-derived count), zeros for corrupt
    val dm = Multimodal.decodeMeta(media).collect().map(m => m.media_id -> m).toMap
    assert(dm(1L).n_frames == 1600 && dm(1L).width == 0)
    assert(dm(3L).n_frames == 0)
  }

  test("MP4 box walk recovers duration, tracks, video dimensions, frame count") {
    import spark.implicits._
    val mp4 = mp4Bytes()
    val media = Seq(
      Multimodal.MediaRow(1L, mp4, "video/mp4"),
      // ftyp magic, truncated box tree: corrupt-media contract
      Multimodal.MediaRow(2L, mp4.take(20), "video/mp4"),
      // untyped payload with container magic routes through the sniff
      Multimodal.MediaRow(3L, mp4, "application/octet-stream")).toDS()
    val meta = Multimodal.containerMeta(media.repartition(2)).collect()
      .map(m => m.media_id -> m).toMap
    val m = meta(1L)
    assert(m.media_kind == "video" && m.duration_ms == 2000L &&
      m.n_tracks == 2 && m.width == 320 && m.height == 240 &&
      m.n_frames == 50L, s"$m")
    assert(meta(2L).n_tracks == 0 && meta(2L).n_frames == 0L)
    val dm = Multimodal.decodeMeta(media).collect().map(x => x.media_id -> x).toMap
    assert(dm(1L).width == 320 && dm(1L).height == 240 && dm(1L).n_frames == 50)
    assert(dm(3L).width == 320 && dm(3L).n_frames == 50)
    assert(dm(2L).n_frames == 0)
  }

  test("stts entry_count is clamped to the box payload (no overflow, no burn)") {
    // Attacker-shaped stts: declared entry_count 0xFFFFFFF0 (~4.29e9) but
    // the box holds only the 2 real entries. Unclamped, the walk burns
    // billions of iterations and (i*8).toInt wraps into a negative array
    // index — the clamp must read exactly the present entries instead.
    val mp4 = mp4Bytes()
    val sttsSig = "stts".getBytes("US-ASCII")
    val at = mp4.indexOfSlice(sttsSig) // first stts = the video trak's
    assert(at > 0)
    val evil = mp4.clone()
    // entry_count sits after type(4) + version/flags(4)
    evil(at + 8) = 0xff.toByte; evil(at + 9) = 0xff.toByte
    evil(at + 10) = 0xff.toByte; evil(at + 11) = 0xf0.toByte
    val t0 = System.nanoTime()
    val (ts, _, tracks, w, h, frames) = Multimodal.ContainerCodec.parseMp4(evil)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(ts == 600L && tracks == 2 && w == 320 && h == 240)
    assert(frames == 50L, s"clamped walk read $frames frames")
    assert(elapsedMs < 1000, s"stts walk took ${elapsedMs}ms — clamp not applied")
  }

  test("PCM decode matches independent golden bytes (endianness + sign extension)") {
    // Hand-spelled little-endian bytes, NOT built via SyntheticMedia — a
    // shared builder/parser encoding bug cannot self-cancel against this.
    // Samples: 1, -1, 32767 (max), -32768 (min).
    def b(i: Int): Byte = i.toByte
    val golden: Array[Byte] = Array[Byte](
      'R', 'I', 'F', 'F', b(44), 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0,
      1, 0, // PCM
      1, 0, // mono
      b(0x40), b(0x1f), 0, 0, // 8000 Hz
      b(0x80), b(0x3e), 0, 0, // byte rate 16000
      2, 0, // block align
      16, 0, // bits
      'd', 'a', 't', 'a', 8, 0, 0, 0,
      b(0x01), b(0x00), // 1
      b(0xff), b(0xff), // -1
      b(0xff), b(0x7f), // 32767
      b(0x00), b(0x80)) // -32768
    val (n, sumV, sumAbs, peak) = Multimodal.AudioCodec.pcmStats(golden)
    assert(n == 4L, s"n=$n")
    assert(sumV == -1L, s"sumV=$sumV (sign extension broken?)")
    assert(sumAbs == 65537L, s"sumAbs=$sumAbs")
    assert(peak == 32768, s"peak=$peak")
  }

  test("PCM decode: synthetic roundtrip, truncation clamp, non-PCM rejection") {
    // builder → parser roundtrip over the q143 waveform formula
    val p = Multimodal.SyntheticMedia.wavWave(channels = 2, frames = 100, k = 7)
    val want = for (i <- 0 until 100; c <- 0 until 2)
      yield ((i * 7 + c * 997) % 2001) - 1000
    val (n, sumV, sumAbs, peak) = Multimodal.AudioCodec.pcmStats(p)
    assert(n == 200L && sumV == want.map(_.toLong).sum &&
      sumAbs == want.map(v => math.abs(v).toLong).sum &&
      peak == want.map(math.abs).max, s"($n,$sumV,$sumAbs,$peak)")
    // truncated data chunk: decode the samples actually present
    val cut = p.take(44 + 10) // 5 whole samples
    assert(Multimodal.AudioCodec.pcmStats(cut)._1 == 5L)
    // a float-format WAV (fmt tag 3) must not decode as s16le
    val f32 = p.clone(); f32(20) = 3
    assert(Multimodal.AudioCodec.pcmStats(f32) == ((0L, 0L, 0L, 0)))
    // container walk still reads the header of a waveform-bearing WAV
    val (rate, ch, _, frames) = Multimodal.ContainerCodec.parseWav(p)
    assert(rate == 8000 && ch == 2 && frames == 100L)
  }

  test("image dHash: real PNG roundtrip matches the pixel formula; corrupt drops") {
    import spark.implicits._
    import Multimodal.ImageOps
    // decode(synthPng(key)) must reproduce the formula exactly — PNG is
    // lossless, the resampler is integer NN, so equality is bit-for-bit
    val key = 42L
    val (w, h) = (16 + (key % 17).toInt, 16 + (key % 13).toInt)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageOps.synthPng(key)))
    assert(img.getWidth == w && img.getHeight == h)
    val g = ImageOps.lumaGrid(img, 8, 8)
    val want = Array.tabulate(8, 8)((y, x) =>
      ((7L * (x * w / 8) + 13L * (y * h / 8) + 31L * key) % 256L).toInt)
    assert(g.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // dHash packs exactly the row-gradient bits, none above bit 55
    val dh = ImageOps.dHash56(g)
    assert(dh >= 0L && (dh >> 56) == 0L)
    val wantBits = for (y <- 0 until 8; x <- 0 until 7 if want(y)(x + 1) > want(y)(x))
      yield y * 7 + x
    assert(dh == wantBits.map(1L << _).sum)
    // perceptual property: same pattern rendered at a DIFFERENT source
    // resolution thumbnails to the same 8x8 samples only when the formula
    // agrees at the sampled positions; a flipped gradient must differ
    val flipped = Array.tabulate(8, 8)((y, x) => 255 - want(y)(x))
    assert(ImageOps.dHash56(flipped) != dh)
    // corrupt payloads and sub-8x8 images fan out to NO row, never throw
    val media = Seq(
      Multimodal.MediaRow(1L, ImageOps.synthPng(1L), "image/png"),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3), "image/png"),
      Multimodal.MediaRow(3L, null, "image/png")).toDS()
    val rows = ImageOps.imageFeatures(media).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("multi-frame GIF: real decode of every frame matches the pixel formula") {
    import spark.implicits._
    import Multimodal.ImageOps
    // gifFrameFeatures(synthGif(key)) must reproduce the per-frame formula
    // exactly: the synth writes the luminance byte through an explicit
    // 256-gray indexed palette (GIF's native form — no quantization, no
    // colorspace transform), so the javax.imageio roundtrip is lossless
    for (key <- Seq(0L, 7L, 42L, 88L)) {
      val (w, h, n) = (8 + (key % 9).toInt, 8 + (key % 7).toInt, 2 + (key % 4).toInt)
      val payload = ImageOps.synthGif(key)
      // header magic + real frame count through the metadata-tier codec
      assert(Multimodal.ImageCodec.isSupportedImage(payload))
      val (_, dw, dh2, df) = Multimodal.ImageCodec.decode(payload)
      assert((dw, dh2, df) == ((w, h, n)), s"decode meta for key=$key")
      val rows = ImageOps.gifFrameFeatures(
        Seq(Multimodal.MediaRow(key, payload, "image/gif")).toDS())
        .orderBy(col("frame_idx")).collect()
      assert(rows.length == n, s"frame fan-out for key=$key")
      rows.zipWithIndex.foreach { case (r, f) =>
        val grid = Array.tabulate(8, 8)((y, x) =>
          ((7L * (x * w / 8) + 13L * (y * h / 8) + 29L * f + 31L * key) % 256L).toInt)
        assert(r.getInt(1) == f && r.getInt(2) == n)
        assert(r.getInt(3) == w && r.getInt(4) == h)
        assert(r.getLong(5) == grid.map(_.map(_.toLong).sum).sum,
          s"sum_lum key=$key frame=$f")
        assert(r.getLong(6) == ImageOps.dHash56(grid), s"dhash key=$key frame=$f")
      }
    }
    // corrupt payloads and nulls fan out to NO frame row, never throw
    val junk = Seq(
      Multimodal.MediaRow(1L, Array[Byte]('G', 'I', 'F', '8', '9', 'a', 0, 0), "image/gif"),
      Multimodal.MediaRow(2L, null, "image/gif")).toDS()
    assert(ImageOps.gifFrameFeatures(junk).count() == 0L)
  }

  test("MP3 header walk matches independent golden bytes (no builder self-cancel)") {
    import Multimodal.ContainerCodec
    // Two hand-spelled MPEG-1 Layer III frames, NOT built via
    // SyntheticMedia.mp3 — a shared builder/parser bug on any header
    // field cannot self-cancel against these bytes. Header 0xFF 0xFB
    // 0x14 0xC0: bitrate idx 1 (32 kbps), sample-rate idx 1 (48 kHz),
    // mono, no padding → frameLen = 144000·32/48000 = 96 bytes.
    val f96 = {
      val f = new Array[Byte](96)
      f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x14.toByte; f(3) = 0xc0.toByte
      f
    }
    val golden = f96 ++ f96
    val (sr, ch, kbps, n, durMs) = ContainerCodec.parseMp3(golden)
    assert((sr, ch, kbps, n) == ((48000, 1, 32, 2L)), s"got ($sr,$ch,$kbps,$n)")
    assert(durMs == 2L * 1152L * 1000L / 48000L, s"durMs=$durMs") // 48 ms
  }

  test("MP3 parse: ID3v2 skip, truncation clamp, rate-flip stop, garbage rejection") {
    import Multimodal.{ContainerCodec, SyntheticMedia}
    // builder→parser roundtrip across the full q202 parameter lattice
    for (kbpsIdx <- Seq(1, 9, 14); srIdx <- 0 to 2; id3 <- Seq(0, 57)) {
      val p = SyntheticMedia.mp3(kbpsIdx, srIdx, frames = 5, mono = false, id3Size = id3)
      val kbps = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(kbpsIdx)
      val rate = Array(44100, 48000, 32000)(srIdx)
      val (sr, ch, kb, n, durMs) = ContainerCodec.parseMp3(p)
      assert((sr, ch, kb, n) == ((rate, 2, kbps, 5L)), s"idx=($kbpsIdx,$srIdx,$id3)")
      assert(durMs == 5L * 1152L * 1000L / rate)
    }
    // truncated trailing frame is NOT counted (clamp, not crash)
    val full = SyntheticMedia.mp3(5, 2, frames = 3, mono = true, id3Size = 0)
    val cut = full.dropRight(1)
    assert(ContainerCodec.parseMp3(cut)._4 == 2L, "truncated frame dropped")
    // sample-rate flip mid-stream stops the walk at the flip
    val a = SyntheticMedia.mp3(5, 2, frames = 2, mono = true, id3Size = 0)
    val b = SyntheticMedia.mp3(5, 0, frames = 2, mono = true, id3Size = 0)
    assert(ContainerCodec.parseMp3(a ++ b)._4 == 2L, "rate flip stops the walk")
    // garbage, empty, and WAV payloads are rejected as not-MP3
    assert(!ContainerCodec.isMp3(Array[Byte](1, 2, 3, 4)))
    assert(!ContainerCodec.isMp3(Array.empty[Byte]))
    assert(!ContainerCodec.isMp3(SyntheticMedia.wav(8000, 1, 10)))
    // ordinary TEXT beginning with the ASCII letters "ID3" must NOT sniff
    // as MP3 (q46 routes document text through the media path; a loose
    // 3-byte sniff would steal those rows from FakeCodec) — the version
    // byte after the magic is ' ' (0x20), outside the 2..4 structural check
    assert(!ContainerCodec.isMp3(
      "ID3 tags are metadata containers".getBytes("US-ASCII")))
    // ID3v2.4 FOOTER flag: the synchsafe size excludes the 10-byte
    // footer; the walk must skip it or read "3DI..." as a broken frame
    val plain = SyntheticMedia.mp3(5, 2, frames = 2, mono = true, id3Size = 20)
    val footered = {
      val out = plain.clone()
      out(5) = 0x10.toByte // set the footer flag in the tag header
      val tagEnd = 10 + 20
      val footer = new Array[Byte](10)
      footer(0) = '3'; footer(1) = 'D'; footer(2) = 'I'; footer(3) = 4
      // frames shift 10 bytes right to make room for the footer
      out.take(tagEnd) ++ footer ++ out.drop(tagEnd)
    }
    assert(ContainerCodec.parseMp3(footered)._4 == 2L, "footer skipped")
    // zero padding between the tag and the first frame is tolerated
    val padded = plain.take(30) ++ Array.fill[Byte](16)(0) ++ plain.drop(30)
    assert(ContainerCodec.parseMp3(padded)._4 == 2L, "inter-tag padding skipped")
    // ID3 tag with NO frames after it: zeros, never a crash
    val tagOnly = SyntheticMedia.mp3(1, 0, frames = 1, mono = false, id3Size = 30)
      .take(40) // 10-byte header + 30 tag bytes, frame cut entirely
    assert(ContainerCodec.parseMp3(tagOnly) == ((0, 0, 0, 0L, 0L)))
  }

  test("FLAC STREAMINFO matches independent golden bytes (bit-field packing)") {
    import Multimodal.ContainerCodec
    // Hand-packed STREAMINFO, NOT built via SyntheticMedia.flac: 44100 Hz,
    // 2 channels, 16 bits, 0x123456789 total samples. The 64-bit field is
    // sr(20) | ch-1(3) | bps-1(5) | total(36):
    //   44100 = 0x0AC44 → top 20 bits; ch-1=1 (3 bits); bps-1=15 (5 bits)
    //   packed = 0x0AC44<<44 | 1<<41 | 15<<36 | 0x123456789
    val packed = (44100L << 44) | (1L << 41) | (15L << 36) | 0x123456789L
    val si = new Array[Byte](34)
    for (i <- 0 until 8) si(10 + i) = ((packed >>> (8 * (7 - i))) & 0xff).toByte
    val golden = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ si // single (last) block
    val (sr, ch, bps, total, durMs) = ContainerCodec.parseFlac(golden)
    assert((sr, ch, bps, total) == ((44100, 2, 16, 0x123456789L)),
      s"got ($sr,$ch,$bps,$total)")
    assert(durMs == 0x123456789L * 1000L / 44100L)
  }

  test("FLAC parse: block step-over, corrupt rejection, truncation") {
    import Multimodal.{ContainerCodec, SyntheticMedia}
    // builder→parser roundtrip, with and without a leading filler block
    for (filler <- Seq(0, 33); bps <- Seq(16, 24); ch <- Seq(1, 8)) {
      val p = SyntheticMedia.flac(96000, ch, bps, totalSamples = 5432L, fillerLen = filler)
      val (sr, c, b, total, durMs) = ContainerCodec.parseFlac(p)
      assert((sr, c, b, total) == ((96000, ch, bps, 5432L)), s"filler=$filler")
      assert(durMs == 5432L * 1000L / 96000L)
    }
    // magic-only / truncated STREAMINFO / garbage: zeros, never a crash
    assert(ContainerCodec.parseFlac("fLaC".getBytes("US-ASCII")) == ((0, 0, 0, 0L, 0L)))
    val cut = SyntheticMedia.flac(32000, 2, 16, 100L, fillerLen = 0).take(20)
    assert(ContainerCodec.parseFlac(cut) == ((0, 0, 0, 0L, 0L)))
    assert(!ContainerCodec.isFlac("flac is a codec".getBytes("US-ASCII")))
    assert(!ContainerCodec.isFlac(Array.empty[Byte]))
  }

  test("Ogg page walk matches independent golden bytes (incl. 255-lacing continuation)") {
    import Multimodal.ContainerCodec
    // Hand-built, NOT via SyntheticMedia.ogg. Page header: "OggS" v0,
    // header_type, granule LE64, serial, seq, crc, nsegs, lacing.
    def pageHdr(htype: Int, granule: Long, nsegs: Int, lacing: Array[Int]): Array[Byte] = {
      val h = new Array[Byte](27 + nsegs)
      h(0) = 'O'; h(1) = 'g'; h(2) = 'g'; h(3) = 'S'; h(5) = htype.toByte
      for (i <- 0 until 8) h(6 + i) = ((granule >>> (8 * i)) & 0xff).toByte
      h(26) = nsegs.toByte
      for (i <- 0 until nsegs) h(27 + i) = lacing(i).toByte
      h
    }
    // Vorbis ID header: 22050 Hz, 2 ch, nominal 96000 bps
    val id = new Array[Byte](30)
    id(0) = 1; "vorbis".getBytes("US-ASCII").copyToArray(id, 1)
    id(11) = 2
    id(12) = 0x22; id(13) = 0x56 // 22050 = 0x5622 LE
    id(20) = 0x00; id(21) = 0x77; id(22) = 0x01 // 96000 = 0x017700 LE
    val bos = pageHdr(0x02, 0L, 1, Array(30)) ++ id
    // data page whose single packet spans a 255-lacing continuation:
    // payload 255+45 = 300 bytes, granule = 77777 samples, EOS
    val eos = pageHdr(0x04, 77777L, 2, Array(255, 45)) ++ new Array[Byte](300)
    val (sr, ch, kbps, total, durMs) = ContainerCodec.parseOgg(bos ++ eos)
    assert((sr, ch, kbps, total) == ((22050, 2, 96, 77777L)),
      s"got ($sr,$ch,$kbps,$total)")
    assert(durMs == 77777L * 1000L / 22050L)
  }

  test("Ogg parse: builder roundtrip, truncation clamp, -1 granule, garbage rejection") {
    import Multimodal.{ContainerCodec, SyntheticMedia}
    for (pages <- Seq(1, 4); ch <- Seq(1, 2)) {
      val p = SyntheticMedia.ogg(48000, ch, nominalKbps = 128,
        dataPages = pages, totalSamples = 123456L)
      val (sr, c, kbps, total, durMs) = ContainerCodec.parseOgg(p)
      assert((sr, c, kbps, total) == ((48000, ch, 128, 123456L)), s"pages=$pages")
      assert(durMs == 123456L * 1000L / 48000L)
    }
    // truncated final page: its granule must NOT be counted — duration
    // falls back to the last complete page's granule
    val full = SyntheticMedia.ogg(8000, 1, 64, dataPages = 2, totalSamples = 9000L)
    val cut = full.take(full.length - 10)
    val (_, _, _, totalCut, _) = ContainerCodec.parseOgg(cut)
    assert(totalCut == 4500L, s"got $totalCut") // page 1 of 2: 9000*1/2
    // a -1 granule (page ends mid-packet) is skipped for the duration
    val minus1 = {
      val p = SyntheticMedia.ogg(8000, 1, 64, dataPages = 1, totalSamples = 500L)
      // BOS is 28+30=58 bytes; flip the data page's granule to -1, then
      // append a proper EOS page via a second stream walk — simpler: just
      // check the -1 page alone leaves the BOS granule (0) in place
      for (i <- 0 until 8) p(58 + 6 + i) = 0xff.toByte
      p
    }
    assert(ContainerCodec.parseOgg(minus1)._4 == 0L, "-1 granule ignored")
    // ordinary text beginning "OggS" fails the structural sniff (version
    // byte is printable ASCII, not 0) — the ID3 -text hazard
    assert(!ContainerCodec.isOgg("OggS is a capture pattern".getBytes("US-ASCII")))
    // an Ogg page whose first packet is NOT a Vorbis ID header → zeros
    val notVorbis = {
      val p = SyntheticMedia.ogg(8000, 1, 64, dataPages = 1, totalSamples = 10L)
      p(28 + 1) = 'x'.toByte // corrupt the "vorbis" magic inside the packet
      p
    }
    assert(ContainerCodec.parseOgg(notVorbis) == ((0, 0, 0, 0L, 0L)))
    assert(ContainerCodec.parseOgg(Array.empty[Byte]) == ((0, 0, 0, 0L, 0L)))
    // a raw 64-bit granule near Long.MaxValue must not wrap the *1000 ms
    // conversion negative (split-divide discipline)
    val huge = {
      val p = SyntheticMedia.ogg(8000, 1, 64, dataPages = 1, totalSamples = 1L)
      val g = Long.MaxValue - 3
      for (i <- 0 until 8) p(58 + 6 + i) = ((g >>> (8 * i)) & 0xff).toByte
      p
    }
    val (_, _, _, hugeTotal, hugeDur) = ContainerCodec.parseOgg(huge)
    assert(hugeTotal == Long.MaxValue - 3 && hugeDur > 0,
      s"granule overflow: total=$hugeTotal dur=$hugeDur")
    assert(hugeDur == (Long.MaxValue - 3) / 8000L * 1000L +
      (Long.MaxValue - 3) % 8000L * 1000L / 8000L)
  }

  test("decodeMeta routes Ogg payloads through the real page walk") {
    import Multimodal.SyntheticMedia
    import spark.implicits._
    val ogg = SyntheticMedia.ogg(16000, 2, 96, dataPages = 3, totalSamples = 4242L)
    val media = Seq(
      Multimodal.MediaRow(1L, ogg, "audio/ogg"),
      // untyped payload with the OggS magic routes through the sniff
      Multimodal.MediaRow(2L, ogg, "application/octet-stream"),
      // sniffable header but the BOS page is cut mid-payload: corrupt-media
      // zeros, not fake data (a <27-byte stub instead fails the sniff and
      // keeps the documented FakeCodec stand-in for declared a/v)
      Multimodal.MediaRow(3L, ogg.take(40), "audio/ogg")).toDS()
    val dm = Multimodal.decodeMeta(media.repartition(2)).collect()
      .map(m => m.media_id -> m).toMap
    assert(dm(1L).n_frames == 4242 && dm(1L).width == 0, s"${dm(1L)}")
    assert(dm(2L).n_frames == 4242, s"${dm(2L)}")
    assert(dm(3L).n_frames == 0, s"${dm(3L)}")
  }

  test("AVI/DIB: real decode of every frame matches the pixel formula") {
    import spark.implicits._
    import Multimodal.{ImageOps, VideoOps, SyntheticMedia, ContainerCodec}
    for (key <- Seq(0L, 7L, 42L, 96L)) {
      val (w, h, n) = (8 + (key % 11).toInt, 8 + (key % 5).toInt, 2 + (key % 3).toInt)
      val durMs = n.toLong * 20L * (1 + key % 5)
      val payload = SyntheticMedia.avi(key)
      assert(ContainerCodec.isAvi(payload) && !ContainerCodec.isWav(payload))
      val (pw, ph, pn, mspf, pd) = ContainerCodec.parseAvi(payload)
      assert((pw, ph, pn, pd) == ((w, h, n.toLong, durMs)), s"header for key=$key")
      assert(mspf == 20000L * (1 + key % 5))
      val rows = VideoOps.aviFrameFeatures(
        Seq(Multimodal.MediaRow(key, payload, "video/x-msvideo")).toDS())
        .orderBy(col("frame_idx")).collect()
      assert(rows.length == n, s"frame fan-out for key=$key")
      rows.zipWithIndex.foreach { case (r, f) =>
        val grid = Array.tabulate(8, 8)((y, x) =>
          ((7L * (x * w / 8) + 13L * (y * h / 8) + 29L * f + 31L * key) % 256L).toInt)
        assert(r.getInt(1) == f && r.getLong(2) == n.toLong)
        assert(r.getInt(3) == w && r.getInt(4) == h)
        assert(r.getLong(5) == durMs, s"duration key=$key")
        assert(r.getLong(6) == grid.map(_.map(_.toLong).sum).sum,
          s"sum_lum key=$key frame=$f")
        assert(r.getLong(7) == ImageOps.dHash56(grid), s"dhash key=$key frame=$f")
      }
    }
    // text beginning "RIFF...AVI " sniffs structurally but has no hdrl:
    // corrupt-media contract (zeros / no frame rows), never a throw
    val textHazard = "RIFFxxxxAVI not actually a movie".getBytes("US-ASCII")
    assert(ContainerCodec.isAvi(textHazard))
    assert(ContainerCodec.parseAvi(textHazard) == ((0, 0, 0L, 0L, 0L)))
    val junk = Seq(
      Multimodal.MediaRow(1L, textHazard, "video/x-msvideo"),
      Multimodal.MediaRow(2L, null, "video/x-msvideo")).toDS()
    assert(VideoOps.aviFrameFeatures(junk).count() == 0L)
  }

  test("AVI walk matches independent golden bytes (padding, corrupt frame, truncation)") {
    import spark.implicits._
    import Multimodal.{ImageOps, VideoOps, ContainerCodec}
    // Hand-packed 8×8 AVI, independent of SyntheticMedia: a JUNK chunk
    // with an ODD size (exercises RIFF even-padding at the top level),
    // hdrl with only avih, and a movi stream of: valid 00db, a 5-byte
    // 00dc (compressed — skipped but stream position advances), a 00db
    // whose size disagrees with the DIB geometry (191 ≠ 192 — dropped,
    // position advances), and a second valid 00db. Declared total = 4.
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def frame(off: Int): Array[Byte] = {
      val b = new Array[Byte](192) // rowBytes=24, h=8, no pad (3*8=24)
      for (j <- 0 until 8; x <- 0 until 8) {
        val y = 7 - j // bottom-up storage
        val l = ((x * 8 + y + off) % 256).toByte
        b(j * 24 + 3 * x) = l; b(j * 24 + 3 * x + 1) = l; b(j * 24 + 3 * x + 2) = l
      }
      b
    }
    val bb = java.nio.ByteBuffer.allocate(738)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ascii)).putInt(730).put("AVI ".getBytes(ascii))
    bb.put("JUNK".getBytes(ascii)).putInt(7).put(new Array[Byte](8)) // 7 + 1 pad
    bb.put("LIST".getBytes(ascii)).putInt(68).put("hdrl".getBytes(ascii))
    bb.put("avih".getBytes(ascii)).putInt(56)
      .putInt(40000).putInt(0).putInt(0).putInt(0)
      .putInt(4).putInt(0).putInt(1).putInt(192)
      .putInt(8).putInt(8).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("LIST".getBytes(ascii)).putInt(626).put("movi".getBytes(ascii))
    bb.put("00db".getBytes(ascii)).putInt(192).put(frame(0))
    bb.put("00dc".getBytes(ascii)).putInt(5).put(new Array[Byte](6)) // 5 + pad
    bb.put("00db".getBytes(ascii)).putInt(191).put(new Array[Byte](192)) // 191 + pad
    bb.put("00db".getBytes(ascii)).putInt(192).put(frame(100))
    val golden = bb.array()
    assert(ContainerCodec.parseAvi(golden) == ((8, 8, 4L, 40000L, 160L)))
    val rows = VideoOps.decodeAviFrames(9L, golden)
    assert(rows.map(_._2) == Seq(0, 3), "emitted stream positions")
    rows.foreach { case (_, idx, n, w, h, durMs, sumLum, dhash) =>
      val off = if (idx == 0) 0 else 100
      val grid = Array.tabulate(8, 8)((y, x) => (x * 8 + y + off) % 256)
      assert((n, w, h, durMs) == ((4L, 8, 8, 160L)))
      assert(sumLum == grid.map(_.map(_.toLong).sum).sum, s"sum_lum idx=$idx")
      assert(dhash == ImageOps.dHash56(grid), s"dhash idx=$idx")
    }
    // tail truncation: hdrl intact, last frame cut mid-body → the frames
    // actually present decode, the cut one is dropped (clamp rule)
    val cut = VideoOps.decodeAviFrames(9L, golden.dropRight(50))
    assert(cut.map(_._2) == Seq(0), "truncated stream keeps its whole frames")
    // decodeMeta + containerMeta routing: declared video and untyped both
    // reach the real walk; containerMeta reports the video kind + duration
    val media = Seq(
      Multimodal.MediaRow(1L, golden, "video/x-msvideo"),
      Multimodal.MediaRow(2L, golden, "application/octet-stream")).toDS()
    val dm = Multimodal.decodeMeta(media).collect().map(m => m.media_id -> m).toMap
    assert(dm(1L).width == 8 && dm(1L).height == 8 && dm(1L).n_frames == 4)
    assert(dm(2L).n_frames == 4)
    val cm = Multimodal.containerMeta(media).collect().head
    assert(cm.media_kind == "video" && cm.duration_ms == 160L &&
      cm.width == 8 && cm.n_frames == 4L && cm.n_tracks == 1)
  }

  test("htmlToText: tag strip, script/style drop, entity decode-once, whitespace collapse") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    def ext(s: String): String =
      Seq(s).toDF("h").select(TF.htmlToText(col("h"))).collect().head.getString(0)
    assert(ext("<p>hello <b>world</b></p>") == "hello world")
    assert(ext("a<script>var x = '<p>not text</p>';</script>b") == "a b")
    assert(ext("a<style media=\"all\">p{}</style>b") == "a b")
    // entities decode AFTER tag strip: decoded brackets are text
    assert(ext("<div>&lt;kept&gt; &amp; &quot;q&quot; &copy;</div>") == "<kept> & \"q\" ©")
    // decode-once: &amp;lt; is the literal text &lt;, never <
    assert(ext("&amp;lt;") == "&lt;")
    assert(ext("  a \t\n  b  ") == "a b")
    // multi-line script with attributes, case-insensitive tag
    assert(ext("x<SCRIPT type=\"a\">\nline1\nline2\n</SCRIPT>y") == "x y")
    // '>' inside a quoted attribute value must not cut the tag short
    assert(ext("<img alt=\"a>b\">hello") == "hello")
    // comments drop wholesale, even when they contain markup-ish text
    assert(ext("a<!-- x > y <script>junk</script> -->b") == "a b")
    // escape -> embed -> extract is identity on raw text (the q214 law)
    val raw = "tokens & more <odd> text  with   spaces"
    val roundtrip = Seq(raw).toDF("t")
      .select(TF.htmlToText(concat(lit("<p>"), TF.htmlEscape(col("t")), lit("</p>"))))
      .collect().head.getString(0)
    assert(roundtrip == "tokens & more <odd> text with spaces")
  }

  test("domainSuffixes: full dot-suffix chain, single label, deny-depth law") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    def chain(h: String): Seq[String] =
      Seq(h).toDF("h").select(TF.domainSuffixes(col("h"))).collect()
        .head.getSeq[String](0)
    assert(chain("a.b.example.org") == Seq("a.b.example.org", "b.example.org", "example.org", "org"))
    assert(chain("localhost") == Seq("localhost"))
    // the deny-depth law: an entry governs any depth below it
    assert(chain("docs.example.org").contains("example.org"))
    assert(!chain("notexample.org").contains("example.org"),
      "suffix match is label-aligned, never substring")
    // DNS case-insensitivity and the FQDN trailing dot cannot bypass a
    // deny list: the chain is normalized
    assert(chain("Docs.Example.ORG").contains("example.org"))
    assert(chain("docs.example.org.") ==
      Seq("docs.example.org", "example.org", "org"))
  }

  test("AVI frame decode: huge declared width cannot wrap pixel arithmetic") {
    import Multimodal.{ContainerCodec, VideoOps}
    // w chosen so the OLD Int math wrapped: 3*1431655787 = 4294967361
    // ≡ 65 (mod 2^32) → rowBytes 68, frameSize 544 — and a crafted 544-
    // byte '00db' chunk would then pass the size gate and index ~2^29
    // bytes past the array. The Long-geometry gate must instead reject
    // the frame (34 GB > payload) and emit no rows, never throw.
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bb = java.nio.ByteBuffer.allocate(652)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ascii)).putInt(644).put("AVI ".getBytes(ascii))
    bb.put("LIST".getBytes(ascii)).putInt(68).put("hdrl".getBytes(ascii))
    bb.put("avih".getBytes(ascii)).putInt(56)
      .putInt(40000).putInt(0).putInt(0).putInt(0)
      .putInt(1).putInt(0).putInt(1).putInt(544)
      .putInt(1431655787).putInt(8).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("LIST".getBytes(ascii)).putInt(556).put("movi".getBytes(ascii))
    bb.put("00db".getBytes(ascii)).putInt(544).put(new Array[Byte](544))
    val crafted = bb.array()
    val (w, h, n, _, _) = ContainerCodec.parseAvi(crafted)
    assert((w, h, n) == ((1431655787, 8, 1L)), "header parses as declared")
    assert(VideoOps.decodeAviFrames(1L, crafted).isEmpty)
  }
}
