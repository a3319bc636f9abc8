package graft

import graft.multimodal.FlacCodec
import graft.multimodal.Multimodal.{ContainerCodec, ImageOps, SyntheticMedia, VideoOps}
import graft.multimodal.Shards.{ArchiveCodec, SyntheticShards}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fuzz properties for the codec layer's single walks (tar, AVI, FLAC
  * metadata, capped inflate, ID3 and the image decode). Each starts from
  * valid payloads made by the in-repo builders and truncates them, flips
  * bits in them or splices two of them, at a fixed seed. Every property
  * requires the walk to return normally, plus the contract it states:
  * a truncated container yields a prefix of the full walk's items.
  */
class CodecFuzzSpec extends AnyFunSuite {

  /** Runs `p` on `n` cases from a fixed seed, without shrinking. */
  private def check(p: Prop, n: Int = 300): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(n).withInitialSeed(Seed(20261019L)), p)
    assert(res.passed, res.status.toString)
  }

  private def truncated(b: Array[Byte]): Gen[Array[Byte]] =
    Gen.choose(0, b.length).map(b.take)

  /** 1–4 bit flips, half of them inside the first 600 bytes (the headers). */
  private def flipped(b: Array[Byte]): Gen[Array[Byte]] =
    Gen.listOfN(4, for {
      head <- Gen.oneOf(true, false)
      bit <- Gen.choose(0, (if (head) math.min(b.length, 600) else b.length) * 8 - 1)
    } yield bit).flatMap(bits => Gen.choose(1, 4).map(bits.take)).map { bits =>
      val c = b.clone()
      bits.foreach(bit => c(bit / 8) = (c(bit / 8) ^ (1 << (bit % 8))).toByte)
      c
    }

  /** A prefix of `a` followed by a suffix of `b`. */
  private def spliced(a: Array[Byte], b: Array[Byte]): Gen[Array[Byte]] =
    for (i <- Gen.choose(0, a.length); j <- Gen.choose(0, b.length))
      yield a.take(i) ++ b.drop(j)

  /** A truncated, bit-flipped or spliced payload of `family`. */
  private def mutated(family: Long => Array[Byte]): Gen[Array[Byte]] =
    for {
      k1 <- Gen.choose(0L, 96L)
      k2 <- Gen.choose(0L, 96L)
      a = family(k1)
      m <- Gen.oneOf(truncated(a), flipped(a), spliced(a, family(k2)))
    } yield m

  /** (full payload, truncated payload) of `family`. */
  private def cut(family: Long => Array[Byte]): Gen[(Array[Byte], Array[Byte])] =
    Gen.choose(0L, 96L).flatMap { k =>
      val full = family(k)
      truncated(full).map(full -> _)
    }

  private def isPrefix[T](part: Seq[T], whole: Seq[T]): Boolean =
    whole.take(part.length) == part

  // ---- tar ---------------------------------------------------------------

  private val tars: Long => Array[Byte] = k =>
    if (k % 2 == 0) SyntheticShards.tarShard(k) else SyntheticShards.wdsImageShard(k)

  test("tar walk: a truncated archive yields a prefix of the full walk's members") {
    check(Prop.forAllNoShrink(cut(tars)) { case (full, part) =>
      isPrefix(ArchiveCodec.tarMembers(1L, part), ArchiveCodec.tarMembers(1L, full)) &&
        isPrefix(ArchiveCodec.tarMemberBytes(part).map { case (n, b) => (n, b.toSeq) },
          ArchiveCodec.tarMemberBytes(full).map { case (n, b) => (n, b.toSeq) })
    })
  }

  test("tar walk: mutated archives walk without throwing; both consumers agree") {
    check(Prop.forAllNoShrink(mutated(tars)) { p =>
      val members = ArchiveCodec.tarMembers(1L, p)
      val bodies = ArchiveCodec.tarMemberBytes(p)
      members.map(_.name) == bodies.map(_._1) &&
        members.zip(bodies).forall { case (m, (_, b)) =>
          m.size == b.length && m.byte_sum == b.map(_ & 0xffL).sum
        } &&
        members.map(_.member_idx) == members.map(_.member_idx).distinct.sorted &&
        ArchiveCodec.isTar(p) == members.nonEmpty
    })
  }

  // ---- AVI ---------------------------------------------------------------

  private val avis: Long => Array[Byte] = k =>
    if (k % 2 == 0) SyntheticMedia.avi(k) else SyntheticMedia.aviMjpeg(k)

  test("AVI walk: a truncated movi list yields a prefix of the full frames") {
    check(Prop.forAllNoShrink(cut(avis)) { case (full, part) =>
      ContainerCodec.parseAvi(part) != ContainerCodec.parseAvi(full) || (
        isPrefix(VideoOps.decodeAviFrames(1L, part), VideoOps.decodeAviFrames(1L, full)) &&
          isPrefix(VideoOps.decodeMjpegFrames(1L, part), VideoOps.decodeMjpegFrames(1L, full)))
    }, n = 200)
  }

  test("AVI walk: mutated payloads walk without throwing; frames keep the header's geometry") {
    check(Prop.forAllNoShrink(mutated(avis)) { p =>
      val (w, h, n, mspf, _) = ContainerCodec.parseAvi(p)
      val header = (w, h, n, mspf) == ((0, 0, 0L, 0L)) || (w > 0 && h > 0 && mspf > 0)
      val frames = VideoOps.decodeAviFrames(1L, p) ++ VideoOps.decodeMjpegFrames(1L, p)
      header && frames.forall(f => f._4 == w && f._5 == h && f._3 == n)
    }, n = 200)
  }

  // ---- FLAC --------------------------------------------------------------

  /** (payload, samples in stream order) of a mono or stereo FLAC stream. */
  private val flacStreams: Gen[(Array[Byte], Array[Int])] = for {
    stereo <- Gen.oneOf(true, false)
    len <- Gen.choose(1, 300)
    block <- Gen.choose(8, 256)
    left <- Gen.listOfN(len, Gen.choose(-32768, 32767))
    right <- Gen.listOfN(len, Gen.choose(-32768, 32767))
  } yield
    if (stereo)
      (FlacCodec.encodeStereoStream(left.toArray, right.toArray, 44100, block),
        left.zip(right).flatMap { case (l, r) => Seq(l, r) }.toArray)
    else (FlacCodec.encodeStream(left.toArray, 44100, block), left.toArray)

  private def stats(s: Array[Int]): (Long, Long, Long, Int) =
    (s.length.toLong, s.map(_.toLong).sum, s.map(v => math.abs(v).toLong).sum,
      if (s.isEmpty) 0 else s.map(math.abs).max)

  test("FLAC walk: truncated or bit-flipped streams decode to a prefix of their samples") {
    val cases = flacStreams.flatMap { case (p, s) =>
      Gen.oneOf(truncated(p), flipped(p)).map(m => (m, s))
    }
    check(Prop.forAllNoShrink(cases) { case (m, samples) =>
      val got = FlacCodec.decodeStats(m)
      got._1 <= samples.length && got == stats(samples.take(got._1.toInt))
    })
  }

  test("FLAC walk: STREAMINFO stands on any cut past it; a cut before it reads zeros") {
    val cases = for {
      filler <- Gen.oneOf(0, 40)
      ch <- Gen.choose(1, 8)
      total <- Gen.choose(0L, 1L << 30)
      full = SyntheticMedia.flac(48000, ch, 16, total, filler)
      part <- truncated(full)
    } yield (full, part, 4 + (if (filler > 0) 4 + filler else 0) + 4 + 34)
    check(Prop.forAllNoShrink(cases) { case (full, part, infoEnd) =>
      ContainerCodec.parseFlac(part) ==
        (if (part.length >= infoEnd) ContainerCodec.parseFlac(full) else (0, 0, 0, 0L, 0L))
    })
  }

  test("FLAC walk: mutated metadata and streams parse without throwing") {
    val flacs: Long => Array[Byte] = k =>
      if (k % 2 == 0) SyntheticMedia.flac(8000 + k.toInt, 1 + (k % 8).toInt, 16, k * 1000, (k % 3).toInt * 20)
      else FlacCodec.encodeStream(Array.tabulate(64 + k.toInt)(i => (i * k * 37 % 20000 - 10000).toInt), 16000, 32)
    check(Prop.forAllNoShrink(mutated(flacs)) { p =>
      val (sr, ch, bps, _, _) = ContainerCodec.parseFlac(p)
      val (n, sum, sumAbs, peak) = FlacCodec.decodeStats(p)
      (sr == 0 || (ch >= 1 && ch <= 8 && bps >= 1)) && n >= 0 && peak >= 0 && sumAbs >= math.abs(sum)
    })
  }

  // ---- ID3 / MP3 ---------------------------------------------------------

  private val mp3s: Long => Array[Byte] = k => {
    val tag = SyntheticMedia.id3Tag(
      Seq("TIT2" -> s"title $k", "TPE1" -> s"artist ${k * 7}", "TALB" -> "album"), v24 = k % 2 == 0)
    tag ++ SyntheticMedia.mp3(1 + (k % 14).toInt, (k % 3).toInt, 3 + (k % 5).toInt, k % 2 == 1, 0)
  }

  test("ID3 tag: a truncated tag yields a prefix of its text frames; MP3 frames never grow") {
    check(Prop.forAllNoShrink(cut(mp3s)) { case (full, part) =>
      isPrefix(ContainerCodec.id3TextFrames(part), ContainerCodec.id3TextFrames(full)) &&
        ContainerCodec.parseMp3(part)._4 <= ContainerCodec.parseMp3(full)._4
    })
  }

  test("ID3 tag: mutated tagged MP3s parse without throwing") {
    check(Prop.forAllNoShrink(mutated(mp3s)) { p =>
      val frames = ContainerCodec.id3TextFrames(p)
      val (sr, _, _, n, _) = ContainerCodec.parseMp3(p)
      frames.forall(_._1.startsWith("T")) && (sr > 0) == (n > 0)
    })
  }

  // ---- capped inflate ------------------------------------------------------

  private val compressed: Long => Array[Byte] = k => (k % 3) match {
    case 0 => SyntheticShards.gzipDoc(k)
    case 1 => SyntheticShards.zstdDoc(k)
    case _ => SyntheticShards.gzipBytes(SyntheticShards.tarShard(k))
  }

  test("capped inflate: a truncated stream inflates fully or reads as corrupt") {
    check(Prop.forAllNoShrink(cut(compressed)) { case (full, part) =>
      val got = ArchiveCodec.decompressBytes(part)
      (got == null || got.toSeq == ArchiveCodec.decompressBytes(full).toSeq) &&
        Set(ArchiveCodec.decompressStats(part)._2, -1L)
          .subsetOf(Set(ArchiveCodec.decompressStats(full)._2, -1L))
    })
  }

  test("capped inflate: mutated streams never throw; stats, bytes and the cap agree") {
    val cases = for (p <- mutated(compressed); cap <- Gen.choose(0L, 600L)) yield (p, cap)
    check(Prop.forAllNoShrink(cases) { case (p, cap) =>
      val bytes = ArchiveCodec.decompressBytes(p)
      val (_, len, sum) = ArchiveCodec.decompressStats(p)
      val capped = ArchiveCodec.decompressBytes(p, cap)
      (if (bytes == null) (len, sum) == ((-1L, 0L))
       else (len, sum) == ((bytes.length.toLong, bytes.map(_ & 0xffL).sum))) &&
        (capped == null || (capped.length <= cap && capped.toSeq == bytes.toSeq))
    })
  }

  test("capped inflate: a truncated zip yields a prefix of its members; mutated zips never throw") {
    val zips: Long => Array[Byte] = SyntheticShards.zipShard
    check(Prop.forAllNoShrink(cut(zips)) { case (full, part) =>
      isPrefix(ArchiveCodec.zipMembers(1L, part), ArchiveCodec.zipMembers(1L, full))
    })
    check(Prop.forAllNoShrink(mutated(zips), Gen.choose(0L, 200L)) { (p, cap) =>
      val all = ArchiveCodec.zipMembers(1L, p)
      val capped = ArchiveCodec.zipMembers(1L, p, cap)
      isPrefix(capped, all) && capped.forall(_.size <= cap)
    })
  }

  // ---- image decode --------------------------------------------------------

  private val images: Long => Array[Byte] = k =>
    if (k % 2 == 0) ImageOps.synthPng(k)
    else {
      val img = new java.awt.image.BufferedImage(
        16 + (k % 13).toInt, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until img.getWidth) img.setRGB(x, y, (3 * x + 2 * y + k.toInt) * 0x010101)
      ImageOps.write(img, "jpg")
    }

  private def pixels(img: java.awt.image.BufferedImage): Seq[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth).toSeq

  test("image decode: a truncated PNG/JPEG reads as null or as the full image") {
    check(Prop.forAllNoShrink(cut(images)) { case (full, part) =>
      val got = ImageOps.read(part)
      got == null || pixels(got) == pixels(ImageOps.read(full))
    }, n = 200)
  }

  test("image decode: mutated images read without throwing") {
    check(Prop.forAllNoShrink(mutated(images)) { p =>
      val img = ImageOps.read(p)
      img == null || (img.getWidth > 0 && img.getHeight > 0)
    }, n = 200)
  }

  test("ImageOps.read: null for a truncated PNG, a truncated JPEG and non-image bytes") {
    val png = ImageOps.synthPng(5L)
    val jpg = images(5L)
    assert(ImageOps.read(png) != null && ImageOps.read(jpg) != null)
    assert(ImageOps.read(png.take(png.length / 2)) == null)
    // cut inside the entropy-coded scan (after the SOS marker): the JDK
    // decoder fills the missing rows gray and only warns
    val sos = jpg.indexOfSlice(Seq(0xff.toByte, 0xda.toByte))
    val scanCut = jpg.take((sos + jpg.length) / 2)
    assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(scanCut)) != null)
    assert(ImageOps.read(scanCut) == null)
    assert(ImageOps.read("not an image at all".getBytes("US-ASCII")) == null)
    assert(ImageOps.read(Array.empty[Byte]) == null)
  }

  /** A PNG chunk: length, type, data, CRC-32 over type and data. */
  private def pngChunk(kind: String, data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val tag = kind.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tag)
    crc.update(data)
    out.writeInt(data.length)
    out.write(tag)
    out.write(data)
    out.writeInt(crc.getValue.toInt)
    bos.toByteArray
  }

  test("ImageOps.read: ancillary PNG chunks and JPEG junk keep the pixels") {
    val png = ImageOps.synthPng(5L)
    val want = pixels(ImageOps.read(png))
    // zTXt = keyword, NUL, method 0, deflate stream
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.DeflaterOutputStream(bos)
      val zeros = new Array[Byte](1 << 20)
      for (_ <- 0 until 8) z.write(zeros)
      z.close()
      "Comment".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ bos.toByteArray
    }
    val corrupt = "Comment".getBytes("US-ASCII") ++ Array[Byte](0, 0, 1, 2, 3, 4, 5)
    for (text <- Seq(bomb, corrupt)) {
      // after the signature (8 bytes) and IHDR (25 bytes)
      val withText = png.take(33) ++ pngChunk("zTXt", text) ++ png.drop(33)
      val img = ImageOps.read(withText)
      assert(img != null && pixels(img) == want)
    }
    val jpg = images(5L)
    val full = pixels(ImageOps.read(jpg))
    val eoi = jpg.length - 2
    // "N extraneous bytes before marker 0xd9": warned, every pixel present
    val junk = jpg.take(eoi) ++ Array[Byte](1, 2, 3, 4, 5) ++ jpg.drop(eoi)
    // a missing EOI marker after a complete scan
    for (p <- Seq(junk, jpg.take(eoi))) {
      val img = ImageOps.read(p)
      assert(img != null && pixels(img) == full)
    }
  }
}
