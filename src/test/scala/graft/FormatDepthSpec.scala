package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.functions.Automaton
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{AudioCodec, ImageOps, SyntheticMedia}
import graft.sources.AvroIO

/** Round-8 depth tier: Avro OCF source/sink, G.711 + IMA ADPCM sample
  * decode, Aho–Corasick scanning, image preprocessing. Golden vectors
  * here are INDEPENDENT of the implementation (hand-derived from the
  * public specs), so a builder+parser pair sharing one bug cannot
  * self-cancel through the formula-oracle gates.
  */
class FormatDepthSpec extends SparkTestBase {

  // ---------------------------------------------------------------- Avro

  test("avro OCF roundtrip preserves values, nulls, and types") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = true)))
    val rows = Seq(
      Row(1L, "alpha", 1.5, true, Array[Byte](1, 2, 3)),
      Row(2L, null, null, false, null),
      Row(3L, "", -0.0, true, Array.empty[Byte]))
    val df = spark.createDataFrame(rows.asJava, schema).repartition(2)
    val tmp = Graft.scratch("avro_spec")
    AvroIO.write(df, tmp)
    val back = AvroIO.read(spark, tmp, schema).collect()
      .sortBy(_.getLong(0))
    assert(back.length == 3)
    assert(back(0).getString(1) == "alpha" && back(0).getDouble(2) == 1.5)
    assert(back(1).isNullAt(1) && back(1).isNullAt(2) && !back(1).getBoolean(3))
    assert(back(0).getAs[Array[Byte]](4).toSeq == Seq[Byte](1, 2, 3))
    assert(back(2).getAs[Array[Byte]](4).length == 0)
  }

  test("avro read skips non-OCF payloads (corrupt-shard contract)") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val tmp = Graft.scratch("avro_bad")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "junk.avro"),
      "not an avro file at all".getBytes)
    assert(AvroIO.read(spark, tmp, schema).count() == 0)
  }

  test("avro schema mapping rejects unsupported types eagerly") {
    val bad = StructType(Seq(StructField("d", DateType, nullable = false)))
    val e = intercept[IllegalArgumentException](AvroIO.avroSchema(bad, "r"))
    assert(e.getMessage.contains("unsupported"))
  }

  test("avro reader-schema resolution: subset read of an evolved writer") {
    import scala.jdk.CollectionConverters._
    val writerSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false)))
    val rows = Seq(Row(7L, "seven", 0.5), Row(8L, null, 1.5))
    val df = spark.createDataFrame(rows.asJava, writerSchema)
    val tmp = Graft.scratch("avro_evo")
    AvroIO.write(df, tmp)
    // reader drops the middle column: Avro resolves by FIELD NAME against
    // the writer schema in the file header, so this must read cleanly
    val readerSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val back = AvroIO.read(spark, tmp, readerSchema).collect().sortBy(_.getLong(0))
    assert(back.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, 0.5), (8L, 1.5)))
  }

  // --------------------------------------------------------------- Arrow

  test("arrow IPC roundtrip preserves values, nulls, and types across batches") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ArrowIO
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = true)))
    // > BatchRows rows in one partition so the multi-batch path runs
    val rows = (0L until (ArrowIO.BatchRows + 10L)).map { i =>
      Row(i,
        if (i % 3 == 0) null else s"name-$i",
        if (i % 5 == 0) null else i / 2.0,
        i % 2 == 0,
        if (i % 7 == 0) null else Array[Byte]((i % 127).toByte))
    }
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val tmp = Graft.scratch("arrow_spec")
    ArrowIO.write(df, tmp)
    val back = ArrowIO.read(spark, tmp, schema).collect().sortBy(_.getLong(0))
    assert(back.length == ArrowIO.BatchRows + 10)
    back.foreach { r =>
      val i = r.getLong(0)
      if (i % 3 == 0) assert(r.isNullAt(1)) else assert(r.getString(1) == s"name-$i")
      if (i % 5 == 0) assert(r.isNullAt(2)) else assert(r.getDouble(2) == i / 2.0)
      assert(r.getBoolean(3) == (i % 2 == 0))
      if (i % 7 == 0) assert(r.isNullAt(4))
      else assert(r.getAs[Array[Byte]](4).toSeq == Seq((i % 127).toByte))
    }
  }

  test("arrow read: corrupt payload and missing expected column yield zero rows") {
    import graft.sources.ArrowIO
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val tmp = Graft.scratch("arrow_bad")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "junk.arrow"),
      "definitely not an arrow ipc file".getBytes)
    assert(ArrowIO.read(spark, tmp, schema).count() == 0)
    // valid file, but the expected column name is absent
    import scala.jdk.CollectionConverters._
    val other = StructType(Seq(StructField("something_else", LongType, nullable = false)))
    val tmp2 = Graft.scratch("arrow_miss")
    ArrowIO.write(spark.createDataFrame(Seq(Row(1L)).asJava, other), tmp2)
    assert(ArrowIO.read(spark, tmp2, schema).count() == 0)
  }

  test("arrow and avro empty-dataset roundtrip: zero rows, never a reader crash") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ArrowIO
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val empty = spark.createDataFrame(Seq.empty[Row].asJava, schema)
    val tmpA = Graft.scratch("arrow_empty")
    ArrowIO.write(empty, tmpA)
    assert(ArrowIO.read(spark, tmpA, schema).count() == 0)
    val tmpV = Graft.scratch("avro_empty")
    AvroIO.write(empty, tmpV)
    assert(AvroIO.read(spark, tmpV, schema).count() == 0)
  }

  test("arrow read treats a type-drifted column as corrupt (zero rows, no task failure)") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ArrowIO
    val writerSchema = StructType(Seq(StructField("id", IntegerType, nullable = false)))
    val tmp = Graft.scratch("arrow_drift")
    ArrowIO.write(spark.createDataFrame(Seq(Row(7)).asJava, writerSchema), tmp)
    val readerSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
    assert(ArrowIO.read(spark, tmp, readerSchema).count() == 0)
  }

  test("arrow schema mapping rejects unsupported types eagerly") {
    import graft.sources.ArrowIO
    val bad = StructType(Seq(StructField("d", DateType, nullable = false)))
    val e = intercept[IllegalArgumentException](ArrowIO.arrowSchema(bad))
    assert(e.getMessage.contains("unsupported"))
  }

  test("arrow by-name resolution: subset read of a wider writer") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ArrowIO
    val writerSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false)))
    val rows = Seq(Row(7L, "seven", 0.5), Row(8L, null, 1.5))
    val df = spark.createDataFrame(rows.asJava, writerSchema)
    val tmp = Graft.scratch("arrow_evo")
    ArrowIO.write(df, tmp)
    val readerSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val back = ArrowIO.read(spark, tmp, readerSchema).collect().sortBy(_.getLong(0))
    assert(back.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, 0.5), (8L, 1.5)))
  }

  test("arrow read: truncated file yields zero rows, never a task failure") {
    import scala.jdk.CollectionConverters._
    import graft.sources.ArrowIO
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val rows = (0L until 100L).map(Row(_))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val tmp = Graft.scratch("arrow_trunc")
    ArrowIO.write(df, tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".arrow")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    // chop the footer off: the IPC file format resolves batches via the
    // footer, so a torn tail must surface as corrupt, not crash
    val tmp3 = Graft.scratch("arrow_torn")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp3, "torn.arrow"), bytes.take(bytes.length / 2))
    assert(ArrowIO.read(spark, tmp3, schema).count() == 0)
  }

  // ------------------------------------------- spectral perceptual hash

  test("whtHash16 hand-check: decreasing-x gradient sets exactly the (1,0),(2,0) bits") {
    // L(y,x) = 255 - x: for v != 0 the y-sum of signs cancels exactly,
    // so only the (u,0) coefficients survive. Over x in [0,16) the
    // x-sums of (255-x)·sign are: u=1 (sign by bit0) → each pair
    // (2k,2k+1) nets +1, Σ=+8; u=2 (sign by bit1) → each quad nets +2,
    // Σ=+16; u=3 → every 4-block cancels, Σ=0. So the 15 coefficients
    // are 13 zeros plus two positives at (1,0) and (2,0); the median is
    // 0 and exactly those two bits set:
    // hash = 1<<(1*4+0-1) | 1<<(2*4+0-1) = 1<<3 | 1<<7 = 136.
    val g = Array.tabulate(16, 16)((_, x) => 255 - x)
    assert(graft.multimodal.Multimodal.ImageOps.whtHash16(g) === 136L)
  }

  test("whtHash16 brightness invariance is exact (integer theorem, not tolerance)") {
    val base = Array.tabulate(16, 16)((y, x) => (7 * x + 13 * y + 31) % 200)
    val bright = base.map(_.map(_ + 17))
    val ops = graft.multimodal.Multimodal.ImageOps
    assert(ops.whtHash16(base) === ops.whtHash16(bright))
    val constGrid = Array.fill(16, 16)(42)
    assert(ops.whtHash16(constGrid) === 0L, "constant image has zero AC energy")
  }

  // ------------------------------------------------------------ protobuf

  test("proto golden message: hand-assembled bytes parse to the exact fields") {
    import graft.sources.ProtoWire
    // independent of the builder: every byte below comes from the public
    // encoding spec by hand. id=1, title="a", tags packed [3,16],
    // score=0.5 (LE i64 bits 0x3FE0000000000000), sdelta=-1 (zigzag 1),
    // unknown varint field 7 and unknown i32 field 8 to be skipped.
    val msg = Array[Int](
      0x08, 0x01, // field 1 wt0, varint 1
      0x12, 0x01, 0x61, // field 2 wt2, len 1, 'a'
      0x1a, 0x02, 0x03, 0x10, // field 3 wt2, len 2, packed [3, 16]
      0x21, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xe0, 0x3f, // field 4 wt1, 0.5 LE
      0x28, 0x01, // field 5 wt0, zigzag(-1)
      0x38, 0x2a, // field 7 wt0 (unknown)
      0x45, 0xab, 0xab, 0xab, 0xab // field 8 wt5 (unknown i32)
    ).map(_.toByte)
    val shard = Array[Byte](msg.length.toByte) ++ msg
    val recs = ProtoWire.records(99L, shard)
    assert(recs.length == 1)
    val r = recs.head
    assert(r.id == 1L && r.title == "a" && r.n_tags == 2L && r.tag_sum == 19L)
    assert(r.sdelta == -1L && r.score == 0.5 && r.rec_idx == 0 && r.shard_id == 99L)
  }

  test("proto varint edges: max u64 roundtrips, overlong/truncated varint stops the walk") {
    import graft.sources.ProtoWire
    // id = -1 as u64 (ten 0xff bytes then 0x01) — the max-width varint
    val msg = Array[Int](0x08, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
      0xff, 0xff, 0x01).map(_.toByte)
    val shard = Array[Byte](msg.length.toByte) ++ msg
    val ok = ProtoWire.records(1L, shard)
    assert(ok.length == 1 && ok.head.id == -1L)
    // continuation bit never drops: malformed, no records
    val bad = Array[Int](0x03, 0x08, 0xff, 0xff).map(_.toByte)
    assert(ProtoWire.records(1L, bad).isEmpty)
  }

  test("proto truncation clamps to the framed prefix; garbage yields nothing") {
    import graft.sources.ProtoWire
    val full = ProtoWire.Synthetic.shard(key = 5L, n = 3)
    assert(ProtoWire.records(7L, full).length == 3)
    val cut = full.dropRight(10)
    val recs = ProtoWire.records(7L, cut)
    assert(recs.length == 2, "10 cut bytes must cost exactly the last record")
    assert(recs.map(_.rec_idx) == Seq(0, 1))
    assert(ProtoWire.records(7L, "not protobuf at all..".getBytes).isEmpty)
  }

  test("proto synthetic fields follow the gate formulas (builder/parser non-collusion)") {
    import graft.sources.ProtoWire
    val key = 42L
    val recs = ProtoWire.records(0L, ProtoWire.Synthetic.shard(key, 4))
    recs.zipWithIndex.foreach { case (r, i) =>
      assert(r.id == 1000 * key + i)
      assert(r.title == "rec " + ((key * 7 + i) % 41))
      val nTags = 1 + (key + i) % 3
      assert(r.n_tags == nTags)
      assert(r.tag_sum == (0 until nTags.toInt).map(j => (key + (j + 1) * i + j) % 17).sum)
      assert(r.sdelta == key - 50 + i)
      assert(r.score == ((key * 13 + i) % 97).toDouble / 8.0)
    }
  }

  // --------------------------------------------------------------- ID3v2

  test("ID3v2 golden tag: hand-built v2.3 frames parse independently of the builder") {
    // v2.3: frame sizes are PLAIN big-endian (the branch the builder's
    // v24=false path must match). Frame: TIT2, enc 0 (latin-1), "Hi".
    val frame = "TIT2".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 3, 0, 0) ++ Array[Byte](0) ++ "Hi".getBytes("ISO-8859-1")
    val sz = frame.length
    val tag = Array[Byte]('I', 'D', '3', 3, 0, 0,
      ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
      ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte) ++ frame
    assert(Multimodal.ContainerCodec.id3TextFrames(tag) == Seq(("TIT2", "Hi")))
  }

  test("ID3v2 walk: builder roundtrip both versions, NUL strip, truncation, non-text skip") {
    import Multimodal.{ContainerCodec, SyntheticMedia}
    for (v24 <- Seq(true, false)) {
      val tag = SyntheticMedia.id3Tag(
        Seq("TIT2" -> "Title é", "TPE1" -> "Artist", "TALB" -> ""), v24)
      assert(ContainerCodec.id3TextFrames(tag) ==
        Seq(("TIT2", "Title é"), ("TPE1", "Artist"), ("TALB", "")), s"v24=$v24")
    }
    // trailing NUL in the payload is stripped
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val tag = SyntheticMedia.id3Tag(Seq("TCON" -> "rock\u0000"), v24 = true)
    assert(ContainerCodec.id3TextFrames(tag) == Seq(("TCON", "rock")))
    // truncation mid-frame yields the frames before the cut
    val two = SyntheticMedia.id3Tag(Seq("TIT2" -> "aaa", "TPE1" -> "bbb"), v24 = true)
    assert(ContainerCodec.id3TextFrames(two.dropRight(3)) == Seq(("TIT2", "aaa")))
    // non-T frames are skipped; padding stops the walk
    val mixed = {
      val t = SyntheticMedia.id3Tag(Seq("TIT2" -> "x"), v24 = true)
      // grow the declared tag size and append zero padding
      val pad = 8
      val inner = t.drop(10) ++ new Array[Byte](pad)
      val sz = inner.length
      Array[Byte]('I', 'D', '3', 4, 0, 0,
        ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
        ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte) ++ inner
    }
    assert(ContainerCodec.id3TextFrames(mixed) == Seq(("TIT2", "x")))
    assert(ContainerCodec.id3TextFrames("plain text".getBytes(utf8)).isEmpty)
  }

  // -------------------------------------------------------------- G.711

  test("G.711 golden vectors (public ITU table endpoints)") {
    // µ-law: 0x00 → -32124 (max negative), 0x80 → +32124, 0xFF → 0
    assert(AudioCodec.ulawToLinear(0x00) == -32124)
    assert(AudioCodec.ulawToLinear(0x80) == 32124)
    assert(AudioCodec.ulawToLinear(0xff) == 0)
    assert(AudioCodec.ulawToLinear(0x7f) == 0) // negative zero → 0
    // A-law: 0x55 → -8 (smallest magnitude), 0xD5 → +8,
    //        0x2A → -32256 (max negative), 0xAA → +32256
    assert(AudioCodec.alawToLinear(0x55) == -8)
    assert(AudioCodec.alawToLinear(0xd5) == 8)
    assert(AudioCodec.alawToLinear(0x2a) == -32256)
    assert(AudioCodec.alawToLinear(0xaa) == 32256)
  }

  test("g711Stats decodes a synthesized µ-law WAV byte-exactly") {
    val p = SyntheticMedia.wavG711(aLaw = false, samples = 64, k = 5, key = 3L)
    val (tag, n, sumV, sumAbs, peak) = AudioCodec.g711Stats(p)
    assert(tag == 7 && n == 64)
    val vals = (0 until 64).map(i => AudioCodec.ulawToLinear(((i * 5 + 21) % 256)))
    assert(sumV == vals.map(_.toLong).sum)
    assert(sumAbs == vals.map(v => math.abs(v).toLong).sum)
    assert(peak == vals.map(math.abs).max)
  }

  test("g711Stats reports corrupt-media zeros for PCM and garbage") {
    val pcm = SyntheticMedia.wav(8000, 1, 10)
    assert(AudioCodec.g711Stats(pcm) == ((0, 0L, 0L, 0L, 0)))
    assert(AudioCodec.g711Stats("RIFFxxxx".getBytes) == ((0, 0L, 0L, 0L, 0)))
  }

  // ---------------------------------------------------------- IMA ADPCM

  test("IMA step machine golden vectors (hand-derived from the spec tables)") {
    // (pred=0, idx=0, n=7): step 7 → diff 0+1+3+7=11; idxAdj(7)=+8
    assert(AudioCodec.imaStep(0, 0, 7) == ((11, 11, 8)))
    // (pred=11, idx=8, n=3): step 16 → diff 2+4+8=14; idxAdj(3)=-1
    assert(AudioCodec.imaStep(11, 8, 3) == ((25, 25, 7)))
    // sign nibble: (pred=25, idx=7, n=12): step 14 → diff 1+14=15, minus;
    // idxAdj(12 & 7 = 4) = +2
    assert(AudioCodec.imaStep(25, 7, 12) == ((10, 10, 9)))
    // clamp: predictor saturates at ±32767/-32768, index at [0, 88]
    val (s1, _, _) = AudioCodec.imaStep(32760, 88, 7)
    assert(s1 == 32767)
    val (_, _, i1) = AudioCodec.imaStep(0, 0, 0)
    assert(i1 == 0) // -1 adjustment clamps at 0
  }

  test("MS ADPCM step golden vectors (hand-derived from the published spec tables)") {
    import graft.multimodal.Multimodal.AudioCodec.msStep
    // pred = (100*256 + 50*0)/256 = 100; sample = 100 + 16*3 = 148;
    // delta' = (230*16)>>8 = 14 -> floor 16
    assert(msStep(3, 100, 50, 16, 256, 0) == ((148, 16)))
    // nibble 0xF = -1; pred = (-100*512 + 0)/256 = -200; sample = -300;
    // delta' = (230*100)>>8 = 89
    assert(msStep(0xF, -100, 0, 100, 512, -256) == ((-300, 89)))
    // nibble 8 = -8 over the (0,0) "no prediction" pair; adaptation entry
    // 8 is the table's peak 768: delta' = (768*16)>>8 = 48
    assert(msStep(8, 0, 0, 16, 0, 0) == ((-128, 48)))
    // C-truncation semantics: (-3*192 + -1*64)/256 = -640/256 = -2
    // (an arithmetic >>8 would give -3 — the spec's pseudo-code divides)
    assert(msStep(0, -3, -1, 16, 192, 64) == ((-2, 16)))
    // saturation clamps the sample; delta keeps adapting past int16
    assert(msStep(7, 32767, 32767, 30000, 256, 0) == ((32767, (614 * 30000) >> 8)))
  }

  test("MS ADPCM decode: exact count/first/history, bounded tracking, all 7 predictors") {
    import graft.multimodal.Multimodal
    var worst = 0
    for (id <- 0L until 120L) {
      val samples = (70 + id % 80).toInt
      val k = (2 + id % 7).toInt
      val phase = (13 * (id % 307)).toInt
      val p = Multimodal.SyntheticMedia.wavMsAdpcm(
        samples, k, blockAlign = 24 + 8 * (id % 3).toInt, phase = phase)
      def expected(i: Int): Int =
        (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
      val (n, first, _, _, peak, maxErr) =
        Multimodal.AudioCodec.msAdpcmStats(p, expected)
      assert(n == samples, s"id=$id")
      assert(first == expected(0), s"id=$id") // verbatim header history
      assert(peak <= 1256, s"id=$id peak=$peak")
      if (maxErr > worst) worst = maxErr
    }
    // gate bound is 256; the measured envelope should sit well inside it
    assert(worst <= 200, s"reconstruction drifted: worst=$worst")
    assert(worst > 0, "zero error would mean the nibble path never ran")
  }

  test("MS ADPCM decode: corrupt predictor index stops; garbage and truncation never throw") {
    import graft.multimodal.Multimodal
    val good = Multimodal.SyntheticMedia.wavMsAdpcm(90, 3, 24, 5)
    // corrupt the FIRST block's predictor index (> 6): walk stops with
    // zero samples, the corrupt-media contract, never an exception
    val w = good.clone()
    val dataOff = {
      // find the data chunk payload start: scan for 'data' fourcc
      val idx = (0 until w.length - 4).find(i =>
        w(i) == 'd' && w(i + 1) == 'a' && w(i + 2) == 't' && w(i + 3) == 'a').get
      idx + 8
    }
    w(dataOff) = 9.toByte
    val (n0, _, _, _, _, _) = Multimodal.AudioCodec.msAdpcmStats(w, _ => 0)
    assert(n0 == 0L)
    // truncation mid-block decodes only the nibbles present
    val cut = java.util.Arrays.copyOfRange(good, 0, good.length - 5)
    // patch the data chunk length so the walk clamp engages (walkWav
    // already clamps dataLen to bytes present)
    val (nT, _, _, _, _, _) = Multimodal.AudioCodec.msAdpcmStats(cut, _ => 0)
    assert(nT > 0L && nT < 90L)
    // non-WAV garbage: zeros
    assert(Multimodal.AudioCodec.msAdpcmStats(Array.fill(64)(0x5a.toByte), _ => 0)
      == ((0L, 0, 0L, 0L, 0, 0)))
    // an IMA payload is not an MS payload
    val ima = Multimodal.SyntheticMedia.wavAdpcm(80, 3, 28)
    assert(Multimodal.AudioCodec.msAdpcmStats(ima, _ => 0)._1 == 0L)
  }

  test("ADPCM decode tracks the encoded triangle wave within tight bounds") {
    for (id <- 0L until 12L) {
      val k = 2 + (id % 7).toInt
      val phase = 13 * (id % 307).toInt
      val samples = 70 + (id % 80).toInt
      val p = SyntheticMedia.wavAdpcm(samples, k, 28 + 8 * (id % 3).toInt, phase)
      def expected(i: Int): Int =
        (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
      val (n, first, _, _, peak, maxErr) = AudioCodec.adpcmStats(p, expected)
      assert(n == samples, s"id=$id")
      assert(first == expected(0), s"id=$id first")
      // gate verdict margin is 64; the measured bound is far tighter
      assert(maxErr <= 16, s"id=$id maxErr=$maxErr")
      assert(peak <= 1016, s"id=$id peak=$peak")
    }
  }

  test("ADPCM decode clamps to fact/samplesPerBlock and survives truncation") {
    val p = SyntheticMedia.wavAdpcm(samples = 100, k = 3, blockAlign = 28)
    def exp(i: Int): Int = (math.abs((3L * i) % 4000L - 2000L) - 1000L).toInt
    // spb = 49: two blocks, second partial → exactly 100 samples, not 2·49
    assert(AudioCodec.adpcmStats(p, exp)._1 == 100)
    // cut mid-final-block: decodes only the nibbles present
    val cut = p.dropRight(10)
    val nCut = AudioCodec.adpcmStats(cut, exp)._1
    assert(nCut < 100 && nCut >= 49)
    // non-ADPCM → zeros
    assert(AudioCodec.adpcmStats(SyntheticMedia.wav(8000, 1, 4), exp)._1 == 0L)
  }

  // -------------------------------------------------------- Aho–Corasick

  test("AC automaton: classic {he, she, his, hers} overlap semantics") {
    val ac = Automaton.build(Seq("he", "she", "his", "hers"))
    val counts = ac.countMatches("ushers his")
    val byPat = ac.patterns.zip(counts).toMap
    // "ushers": she@1, he@2, hers@2; " his": his@7
    assert(byPat("she") == 1 && byPat("he") == 1 &&
      byPat("hers") == 1 && byPat("his") == 1)
  }

  test("AC counts equal brute-force indexOf counts on a mixed corpus") {
    val pats = Seq("ab", "aba", "bab", "zz", "q")
    val ac = Automaton.build(pats)
    val texts = Seq("ababab", "abababa", "zzz", "", "qqq", "xyzzyq", "ba")
    def brute(t: String, p: String): Long =
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
    texts.foreach { t =>
      val got = ac.countMatches(t)
      pats.zipWithIndex.foreach { case (p, i) =>
        assert(got(i) == brute(t, p), s"text='$t' pat='$p'")
      }
    }
  }

  test("AC findSpans returns correct positions; build rejects bad input") {
    val ac = Automaton.build(Seq("ana", "na"))
    val spans = ac.findSpans("banana").map { case (s, e, p) => (s, e, ac.patterns(p)) }
    assert(spans.toSet == Set((1, 4, "ana"), (3, 6, "ana"), (2, 4, "na"), (4, 6, "na")))
    intercept[IllegalArgumentException](Automaton.build(Seq.empty))
    intercept[IllegalArgumentException](Automaton.build(Seq("a", "")))
    intercept[IllegalArgumentException](Automaton.build(Seq("x", "x")))
  }

  // ------------------------------------------------------- audio features

  test("pcmFeatures: golden clip pins sign rule, window split, trim bounds") {
    // hand clip: [0, -5, 200, -200, 50] — zero is NON-negative, so the
    // sign flips are 0→-5, -5→200, 200→-200, -200→50 = 4 crossings
    val bb = java.nio.ByteBuffer.allocate(44 + 10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + 10).put("WAVE".getBytes(ascii))
      .put("fmt ".getBytes(ascii)).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes(ascii)).putInt(10)
    Seq(0, -5, 200, -200, 50).foreach(v => bb.putShort(v.toShort))
    val p = bb.array()
    // window=2: sums |.| = [5, 400, 50] (last partial) → max 400
    assert(AudioCodec.pcmFeatures(p, window = 2, thresh = 100) ==
      ((5L, 4L, 400L, 2L, 3L)))
    // all-quiet threshold → trim bounds are -1
    val (_, _, _, f0, l0) = AudioCodec.pcmFeatures(p, 2, 1000)
    assert(f0 == -1L && l0 == -1L)
    // stereo payloads report the corrupt-media contract
    val stereo = SyntheticMedia.wavWave(channels = 2, frames = 16, k = 3)
    assert(AudioCodec.pcmFeatures(stereo, 80, 100) == ((0L, 0L, 0L, -1L, -1L)))
  }

  // --------------------------------------------------------------- FLAC

  /** Spec-local CRCs, written independently from FlacCodec's (table-driven
    * here, bitwise there) so the golden frames below pin the ALGORITHM
    * from RFC 9639, not whatever the codec happens to compute.
    */
  private lazy val crc8Table: Array[Int] = Array.tabulate(256) { b =>
    var c = b
    for (_ <- 0 until 8) c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff
    c
  }
  private def specCrc8(bs: Seq[Int]): Int = bs.foldLeft(0)((c, b) => crc8Table(c ^ (b & 0xff)))
  private lazy val crc16Table: Array[Int] = Array.tabulate(256) { b =>
    var c = b << 8
    for (_ <- 0 until 8) c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff
    c
  }
  private def specCrc16(bs: Seq[Int]): Int =
    bs.foldLeft(0)((c, b) => ((c << 8) & 0xffff) ^ crc16Table(((c >> 8) ^ (b & 0xff)) & 0xff))

  private def flacMetaOnly(total: Long): Array[Byte] =
    SyntheticMedia.flac(8000, 1, 16, total, 0)

  test("FLAC golden frame: hand-assembled CONSTANT subframe decodes exactly") {
    // header: sync FF F8 | blocksize 8-bit-at-end + rate-from-streaminfo
    // 0x60 | mono/16bps 0x08 | frame#0 0x00 | blocksize-1 = 3
    val hdr = Seq(0xff, 0xf8, 0x60, 0x08, 0x00, 0x03)
    val body = Seq(0x00, 0x00, 0x05) // subframe hdr CONSTANT + value 5 (16 bits)
    val frame = hdr ++ Seq(specCrc8(hdr)) ++ body
    val c16 = specCrc16(frame)
    val bytes = flacMetaOnly(4) ++
      (frame ++ Seq(c16 >> 8, c16 & 0xff)).map(_.toByte).toArray
    assert(graft.multimodal.FlacCodec.decodeStats(bytes) == ((4L, 20L, 20L, 5)))
  }

  test("FLAC golden frame: hand-assembled rice-coded FIXED-0 subframe") {
    // samples [3,-2,0,1]: zigzag 6,3,0,2 at param 2 → hand-packed bits
    // (RFC 9639 §9.2.7: q zeros + 1, then param low bits)
    val hdr = Seq(0xff, 0xf8, 0x60, 0x08, 0x00, 0x03)
    val body = Seq(0x10, 0x00, 0x9b, 0xcc) // subfr hdr FIXED-0; 00|0000|0010|residuals|pad
    val frame = hdr ++ Seq(specCrc8(hdr)) ++ body
    val c16 = specCrc16(frame)
    val bytes = flacMetaOnly(4) ++
      (frame ++ Seq(c16 >> 8, c16 & 0xff)).map(_.toByte).toArray
    // 3 + (-2) + 0 + 1 = 2; |.|-sum 6; peak 3
    assert(graft.multimodal.FlacCodec.decodeStats(bytes) == ((4L, 2L, 6L, 3)))
  }

  test("FLAC golden stereo frame: hand-assembled mid/side CONSTANT decodes exactly") {
    // bs=2, chCode 10 (mid/side): mid CONSTANT 4 @16 bits, side CONSTANT
    // 2 @17 bits → mid2 = (4<<1)|(2&1) = 8; L = (8+2)>>1 = 5, R = 3.
    // Assembled from RFC 9639's bit layout by hand so a shared
    // encoder/decoder layout bug cannot self-cancel.
    val hdr = Seq(0xff, 0xf8, 0x60, 0xa8, 0x00, 0x01)
    val body = Seq(0x00, 0x00, 0x04, // subframe 1: CONSTANT, 16-bit value 4
      0x00, 0x00, 0x01, 0x00)        // subframe 2: CONSTANT, 17-bit value 2 + pad
    val frame = hdr ++ Seq(specCrc8(hdr)) ++ body
    val c16 = specCrc16(frame)
    val bytes = SyntheticMedia.flac(8000, 2, 16, 2, 0) ++
      (frame ++ Seq(c16 >> 8, c16 & 0xff)).map(_.toByte).toArray
    assert(graft.multimodal.FlacCodec.decodeStats(bytes) == ((4L, 16L, 16L, 5)))
  }

  test("FLAC golden stereo frame: hand-assembled left/side CONSTANT decodes exactly") {
    // bs=2, chCode 8 (left/side): left CONSTANT 7 @16, side CONSTANT 3
    // @17 → right = 7 − 3 = 4.
    val hdr = Seq(0xff, 0xf8, 0x60, 0x88, 0x00, 0x01)
    val body = Seq(0x00, 0x00, 0x07,
      0x00, 0x00, 0x01, 0x80) // 17-bit value 3: 16 zeros, then "11" + 7 pad
    val frame = hdr ++ Seq(specCrc8(hdr)) ++ body
    val c16 = specCrc16(frame)
    val bytes = SyntheticMedia.flac(8000, 2, 16, 2, 0) ++
      (frame ++ Seq(c16 >> 8, c16 & 0xff)).map(_.toByte).toArray
    assert(graft.multimodal.FlacCodec.decodeStats(bytes) == ((4L, 22L, 22L, 7)))
  }

  test("FLAC golden frame: hand-assembled order-1 LPC subframe decodes exactly") {
    // mono bs=3, LPC order 1 (typ 0x20 → subframe hdr byte 0x40), warmup
    // 10, precision 4 (precM1=3), shift 0, coef +1, rice param 1,
    // residuals [+1, −2] → samples 10, 11, 9. Bits hand-packed:
    // 0011|00000|0001|00|0000|0001|010|011|000 = 0x30 0x08 0x02 0x98.
    val hdr = Seq(0xff, 0xf8, 0x60, 0x08, 0x00, 0x02)
    val body = Seq(0x40, 0x00, 0x0a, 0x30, 0x08, 0x02, 0x98)
    val frame = hdr ++ Seq(specCrc8(hdr)) ++ body
    val c16 = specCrc16(frame)
    val bytes = flacMetaOnly(3) ++
      (frame ++ Seq(c16 >> 8, c16 & 0xff)).map(_.toByte).toArray
    assert(graft.multimodal.FlacCodec.decodeStats(bytes) == ((3L, 30L, 30L, 11)))
  }

  test("FLAC stereo encode∘decode is the identity across channel assignments") {
    import graft.multimodal.FlacCodec
    def stats(ls: Array[Int], rs: Array[Int]): (Long, Long, Long, Int) = {
      val all = ls ++ rs
      (all.length.toLong, all.map(_.toLong).sum, all.map(v => math.abs(v).toLong).sum,
        all.map(math.abs).max)
    }
    val cases: Seq[(Array[Int], Array[Int])] = Seq(
      // slow triangle vs saw — decorrelated enough that side ≠ 0
      (Array.tabulate(500)(i => math.abs((i * 3 + 70) % 4000 - 2000) - 1000),
        Array.tabulate(500)(i => (i * 7) % 2001 - 1000)),
      // identical channels: side ≡ 0 (CONSTANT side subframes)
      (Array.tabulate(130)(i => (i * 11) % 300 - 150),
        Array.tabulate(130)(i => (i * 11) % 300 - 150)),
      // full-range extremes: side needs all 17 bits
      (Array(-32768, 32767, -32768, 32767, -1, 0, 1, 12345),
        Array(32767, -32768, 32767, -32768, 1, 0, -1, -12345)),
      // single sample
      (Array(42), Array(-17)))
    for ((l, r) <- cases; bs <- Seq(1, 7, 64, 256)) {
      val enc = FlacCodec.encodeStereoStream(l, r, 8000, bs)
      assert(FlacCodec.decodeStats(enc) == stats(l, r), s"n=${l.length} bs=$bs")
    }
    // with blocksize < 4·length the frame rotation guarantees all four
    // channel assignments appear — pin that the stream really contains
    // chCodes 1, 8, 9, 10 (byte 3 high nibble of each frame header is
    // not re-derived here; instead: 4+ frames means the rotation wrapped)
    val enc = FlacCodec.encodeStereoStream(
      Array.tabulate(64)(i => i * 13 % 500 - 250),
      Array.tabulate(64)(i => i * 29 % 401 - 200), 8000, 16)
    assert(FlacCodec.decodeStats(enc)._1 == 128L)
  }

  test("FLAC encode∘decode is the identity across subframe types and sizes") {
    import graft.multimodal.FlacCodec
    def stats(xs: Array[Int]): (Long, Long, Long, Int) =
      (xs.length.toLong, xs.map(_.toLong).sum, xs.map(v => math.abs(v).toLong).sum,
        xs.map(math.abs).max)
    val cases = Seq(
      Array.fill(10)(-123),                          // CONSTANT
      Array.tabulate(777)(i => (math.abs((i * 5 + 100) % 4000 - 2000) - 1000)), // triangle
      Array.tabulate(100)(i => ((i * 7919 + 13) % 65536) - 32768), // full-range "noise"
      Array(42),                                     // single sample
      Array(-32768, 32767, -32768, 32767, 0, -1, 1), // extremes
      Array.tabulate(256)(i => i - 128))             // exactly one max block
    for (xs <- cases; bs <- Seq(1, 7, 64, 256)) {
      val enc = FlacCodec.encodeStream(xs, 8000, bs)
      assert(FlacCodec.decodeStats(enc) == stats(xs), s"n=${xs.length} bs=$bs")
    }
  }

  test("FLAC coded number: all 1–7 byte forms round-trip; out-of-range rejects") {
    // ADVICE r8: the encoder stopped at the 4-byte form, so frame indices
    // ≥ 2^21 emitted a lead byte the decoder parsed as a LONGER form —
    // silent corruption of every later frame header. The full RFC 9639
    // ladder (up to 36 bits) must round-trip bit-exactly.
    import graft.multimodal.FlacCodec
    val edges = Seq(0L, 1L, 0x7fL, 0x80L, 0x7ffL, 0x800L, 0xffffL, 0x10000L,
      0x1fffffL, 0x200000L, 0x3ffffffL, 0x4000000L, 0x7fffffffL, 0x80000000L,
      (1L << 36) - 1)
    for (v <- edges) {
      val w = new FlacCodec.BitWriter
      FlacCodec.writeCodedNumber(w, v)
      val bytes = w.toBytes
      val r = new FlacCodec.BitReader(bytes, 0, bytes.length)
      assert(FlacCodec.readCodedNumber(r) === v, s"v=$v")
      assert(!r.failed && r.byteOff === bytes.length, s"v=$v trailing bytes")
    }
    // beyond 36 bits the spec has no form: the encoder must fail loudly,
    // never emit a stream the decoder mis-frames
    assertThrows[IllegalArgumentException] {
      FlacCodec.writeCodedNumber(new FlacCodec.BitWriter, 1L << 36)
    }
  }

  test("FLAC decode: FIXED order beyond blocksize is corrupt-media, not a crash") {
    // crafted frame: CRC-8-valid header with blocksize 2, subframe FIXED
    // order 4 (0x18) — the warmup would write past out(2) without the
    // order>bs guard; contract is zero rows, never an exception
    val hdr = Seq(0xff, 0xf8, 0x60, 0x08, 0x00, 0x01) // bs-1 = 1
    val body = Seq(0x18, 0x00, 0x00, 0x00, 0x00) // FIXED-4 + junk warmup bits
    val frame = hdr ++ Seq(specCrc8(hdr)) ++ body
    val c16 = specCrc16(frame)
    val bytes = flacMetaOnly(2) ++
      (frame ++ Seq(c16 >> 8, c16 & 0xff)).map(_.toByte).toArray
    assert(graft.multimodal.FlacCodec.decodeStats(bytes) == ((0L, 0L, 0L, 0)))
  }

  test("FLAC decode: truncation keeps the verified prefix; corruption stops") {
    import graft.multimodal.FlacCodec
    val xs = Array.tabulate(200)(i => (i * 3) % 500 - 250)
    val enc = FlacCodec.encodeStream(xs, 8000, 64)
    val (full, _, _, _) = FlacCodec.decodeStats(enc)
    assert(full == 200L)
    // cut mid-final-frame: whole frames before the cut survive
    val (nCut, _, _, _) = FlacCodec.decodeStats(enc.dropRight(3))
    assert(nCut == 192L)
    // corrupt one byte in the LAST frame's area: prefix survives, frame dies
    val bad = enc.clone()
    bad(bad.length - 4) = (bad(bad.length - 4) ^ 0x01).toByte
    val (nBad, _, _, _) = FlacCodec.decodeStats(bad)
    assert(nBad == 192L)
    // metadata-only stream (q203 builder) and garbage decode to zero
    assert(FlacCodec.decodeStats(flacMetaOnly(100))._1 == 0L)
    assert(FlacCodec.decodeStats("not flac at all".getBytes)._1 == 0L)
  }

  // ------------------------------------------------------------- images

  test("PNG tEXt walk: extraction, CRC rejection, non-PNG contract") {
    val base = ImageOps.synthPngRgb(5L)
    var png = ImageOps.withPngText(base, "alpha", "one")
    png = ImageOps.withPngText(png, "beta", "two = é") // latin-1 value
    assert(ImageOps.pngTextChunks(png).toSet ==
      Set(("alpha", "one"), ("beta", "two = é")))
    // image still decodes with tags present (tEXt is ancillary)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null && img.getWidth == 12 + 5 % 11)
    // corrupt the newest chunk's data → its CRC fails → skipped, rest kept
    val bad = png.clone()
    bad(33 + 8) = (bad(33 + 8) ^ 0x01).toByte
    assert(ImageOps.pngTextChunks(bad).map(_._1) == Seq("alpha"))
    assert(ImageOps.pngTextChunks("no png here".getBytes).isEmpty)
    intercept[IllegalArgumentException](ImageOps.withPngText(base, "has space", "x"))
  }

  test("box downscale: floor-mean blocks match a brute recompute") {
    val key = 41L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageOps.synthPngRgb(key)))
    val w = img.getWidth; val h = img.getHeight
    for (m <- Seq(2, 3)) {
      val out = ImageOps.downscaleBoxRgb(img, m)
      val ow = w / m; val oh = h / m
      assert(out.length == ow * oh)
      for (oy <- 0 until oh; ox <- 0 until ow) {
        var r = 0; var g = 0; var b = 0
        for (dy <- 0 until m; dx <- 0 until m) {
          val p = img.getRGB(ox * m + dx, oy * m + dy)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        }
        val e = out(oy * ow + ox)
        assert(((e >> 16) & 0xff) == r / (m * m) &&
          ((e >> 8) & 0xff) == g / (m * m) && (e & 0xff) == b / (m * m))
      }
    }
  }

  test("JPEG roundtrip error on smooth gradients is far inside the gate margin") {
    // gate allows ±8/pixel per channel sum; measure the real JDK codec
    for (key <- Seq(0, 13, 41, 96)) {
      val w = 12 + key % 11; val h = 12 + key % 7
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y,
          ((3 * x + 2 * y + key % 64) << 16) | ((2 * x + 3 * y + key % 32) << 8) |
            (x + y + key % 16))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      assert(dec.getWidth == w && dec.getHeight == h)
      var worst = 0.0
      for (c <- 0 until 3) {
        var sDec = 0L; var sSrc = 0L
        for (y <- 0 until h; x <- 0 until w) {
          sDec += (dec.getRGB(x, y) >> (8 * (2 - c))) & 0xff
          sSrc += (img.getRGB(x, y) >> (8 * (2 - c))) & 0xff
        }
        worst = math.max(worst, math.abs(sDec - sSrc).toDouble / (w * h))
      }
      assert(worst <= 4.0, s"key=$key per-pixel mean channel error $worst")
    }
  }

  test("MJPEG AVI: frames decode via real ImageIO within margin; corrupt contracts hold") {
    import graft.multimodal.Multimodal
    for (key <- Seq(0L, 7L, 41L, 96L)) {
      val p = Multimodal.SyntheticMedia.aviMjpeg(key)
      val w = 16 + (key % 13).toInt
      val h = 16 + (key % 9).toInt
      val n = 2 + (key % 3).toInt
      val rows = Multimodal.VideoOps.decodeMjpegFrames(1L, p)
      assert(rows.length == n, s"key=$key decoded ${rows.length} of $n frames")
      rows.foreach { case (_, f, nn, ww, hh, sr, sg, sb) =>
        assert(nn == n && ww == w && hh == h)
        val sx = w.toLong * (w - 1) / 2; val sy = h.toLong * (h - 1) / 2
        val expR = 3L * h * sx + 2L * w * sy + w.toLong * h * ((f * 17 + key) % 64)
        val expG = 2L * h * sx + 3L * w * sy + w.toLong * h * ((f * 11 + key) % 32)
        val expB = h * sx + w * sy + w.toLong * h * ((f * 7 + key) % 16)
        val m = w.toLong * h * 8
        assert(math.abs(sr - expR) <= m && math.abs(sg - expG) <= m &&
          math.abs(sb - expB) <= m, s"key=$key frame=$f sums off")
      }
      // truncation mid-frame: the cut frame is dropped, never a throw
      val cut = java.util.Arrays.copyOfRange(p, 0, p.length - 12)
      assert(Multimodal.VideoOps.decodeMjpegFrames(1L, cut).length < n)
    }
    // a DIB AVI has no '00dc' chunks; garbage is not an AVI — both empty
    assert(Multimodal.VideoOps.decodeMjpegFrames(1L,
      Multimodal.SyntheticMedia.avi(5L)).isEmpty)
    assert(Multimodal.VideoOps.decodeMjpegFrames(1L, Array.fill(64)(0x3c.toByte)).isEmpty)
  }

  test("nearest resize + center crop replay the channel formulas") {
    val key = 37L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageOps.synthPngRgb(key)))
    val w = 12 + (key % 11).toInt; val h = 12 + (key % 7).toInt
    assert(img.getWidth == w && img.getHeight == h)
    def chan(sx: Int, sy: Int): (Long, Long, Long) = (
      (7L * sx + 13L * sy + 31L * key) % 256L,
      (11L * sx + 3L * sy + 17L * key) % 256L,
      (5L * sx + 23L * sy + 29L * key) % 256L)
    val rs = ImageOps.resizeNearestRgb(img, 6, 4)
    for (oy <- 0 until 4; ox <- 0 until 6) {
      val (r, g, b) = chan(ox * w / 6, oy * h / 4)
      val p = rs(oy * 6 + ox)
      assert(((p >> 16) & 0xff) == r && ((p >> 8) & 0xff) == g && (p & 0xff) == b)
    }
    val cr = ImageOps.centerCropRgb(img, 8, 8)
    val (x0, y0) = ((w - 8) / 2, (h - 8) / 2)
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val (r, g, b) = chan(x0 + cx, y0 + cy)
      val p = cr(cy * 8 + cx)
      assert(((p >> 16) & 0xff) == r && ((p >> 8) & 0xff) == g && (p & 0xff) == b)
    }
    intercept[IllegalArgumentException](ImageOps.centerCropRgb(img, w + 1, 8))
  }
}
