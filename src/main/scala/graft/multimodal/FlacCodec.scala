package graft.multimodal

/** REAL FLAC audio frame codec (RFC 9639) — pure JVM, no codec library:
  * FLAC is a fully-specified lossless format, so both halves are
  * implementable from the public spec alone. This retires FLAC from the
  * "container walk only" tier: [[decodeStats]] reconstructs the actual
  * PCM samples from rice-coded fixed-predictor residuals, verifying the
  * spec's CRC-8 (frame header) and CRC-16 (whole frame) as it walks.
  *
  * Scope (documented, not silently assumed): mono AND stereo, 16
  * bits/sample, fixed blocking strategy, subframe types CONSTANT /
  * VERBATIM / FIXED (orders 0–4) / LPC (any order, any coefficient
  * precision, non-negative shift), all four stereo channel assignments
  * (independent, left/side, right/side, mid/side — side channels at
  * 17 bits per RFC 9639), rice methods 0 and 1 with the escape-to-raw
  * path, any residual partition order, wasted-bits restoration.
  * Remaining out of scope: >2 channels and non-16-bit depths — the
  * decoder stops at the corrupt-media contract. Losslessness is the
  * gate lever: encode∘decode is the identity, so a formula oracle
  * checks the DECODED samples exactly (the q143 contract at the
  * compressed tier; q237 mono, q261 stereo+LPC).
  *
  * Scale shape: both halves run at the mapPartitions codec boundary —
  * payload-local, no state across rows, stats-sized output.
  */
object FlacCodec {

  /** CRC-8, poly x⁸+x²+x+1 (0x07), init 0 — the FLAC frame-header CRC. */
  private[graft] def crc8(p: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= p(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 — the FLAC whole-frame CRC. */
  private[graft] def crc16(p: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (p(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
          else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  /** MSB-first bit writer over a growable byte buffer. */
  private[graft] final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0

    def writeBits(value: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((value >>> i) & 1L).toInt
        nbits += 1
        if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
        i -= 1
      }
    }

    /** q zeros then a one — FLAC's unary code. */
    def writeUnary(q: Int): Unit = { writeBits(0L, q); writeBits(1L, 1) }

    def alignByte(): Unit = if (nbits != 0) writeBits(0L, 8 - nbits)

    def size: Int = { require(nbits == 0); buf.length }
    def writeByte(b: Int): Unit = writeBits(b.toLong & 0xff, 8)
    def toBytes: Array[Byte] = { require(nbits == 0); buf.toArray }
  }

  /** MSB-first bit reader with an explicit failure latch (never throws on
    * truncated input — the walk checks [[failed]]).
    */
  private[graft] final class BitReader(p: Array[Byte], start: Int, end: Int) {
    var byteOff: Int = start
    private var bitOff = 0
    var failed: Boolean = false

    def aligned: Boolean = bitOff == 0

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        if (byteOff >= end) { failed = true; return 0L }
        v = (v << 1) | ((p(byteOff) >> (7 - bitOff)) & 1)
        bitOff += 1
        if (bitOff == 8) { bitOff = 0; byteOff += 1 }
        i += 1
      }
      v
    }

    def readSigned(n: Int): Int = {
      val v = readBits(n)
      // sign-extend an n-bit two's-complement value
      ((v << (64 - n)).toLong >> (64 - n)).toInt
    }

    def readUnary(): Int = {
      var q = 0
      while (true) {
        if (byteOff >= end) { failed = true; return 0 }
        val bit = (p(byteOff) >> (7 - bitOff)) & 1
        bitOff += 1
        if (bitOff == 8) { bitOff = 0; byteOff += 1 }
        if (bit == 1) return q
        q += 1
        if (q > (1 << 24)) { failed = true; return 0 } // runaway guard
      }
      0
    }

    def alignByte(): Unit = if (bitOff != 0) { bitOff = 0; byteOff += 1 }
  }

  /** FLAC's UTF-8-style coded number (frame index under fixed blocking). */
  private[graft] def writeCodedNumber(w: BitWriter, v: Long): Unit = {
    if (v < 0x80) w.writeByte(v.toInt)
    else if (v < 0x800) {
      w.writeByte(0xc0 | (v >> 6).toInt); w.writeByte(0x80 | (v & 0x3f).toInt)
    } else if (v < 0x10000) {
      w.writeByte(0xe0 | (v >> 12).toInt)
      w.writeByte(0x80 | ((v >> 6) & 0x3f).toInt)
      w.writeByte(0x80 | (v & 0x3f).toInt)
    } else if (v < 0x200000) {
      w.writeByte(0xf0 | (v >> 18).toInt)
      w.writeByte(0x80 | ((v >> 12) & 0x3f).toInt)
      w.writeByte(0x80 | ((v >> 6) & 0x3f).toInt)
      w.writeByte(0x80 | (v & 0x3f).toInt)
    } else if (v < 0x4000000) { // 5-byte form (26 bits)
      w.writeByte(0xf8 | (v >> 24).toInt)
      (3 to 0 by -1).foreach(s => w.writeByte(0x80 | ((v >> (6 * s)) & 0x3f).toInt))
    } else if (v < 0x80000000L) { // 6-byte form (31 bits)
      w.writeByte(0xfc | (v >> 30).toInt)
      (4 to 0 by -1).foreach(s => w.writeByte(0x80 | ((v >> (6 * s)) & 0x3f).toInt))
    } else { // 7-byte form (36 bits) — the largest RFC 9639 allows
      require(v < (1L << 36), s"FLAC coded number out of range: $v")
      w.writeByte(0xfe)
      (5 to 0 by -1).foreach(s => w.writeByte(0x80 | ((v >> (6 * s)) & 0x3f).toInt))
    }
  }

  private[graft] def readCodedNumber(r: BitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      val extra =
        if ((b0 & 0xe0) == 0xc0) 1
        else if ((b0 & 0xf0) == 0xe0) 2
        else if ((b0 & 0xf8) == 0xf0) 3
        else if ((b0 & 0xfc) == 0xf8) 4
        else if ((b0 & 0xfe) == 0xfc) 5
        else if (b0 == 0xfe) 6
        else { r.failed = true; return 0L }
      var v = (b0 & (0x3f >> extra)).toLong
      var i = 0
      while (i < extra) {
        val b = r.readBits(8).toInt
        if ((b & 0xc0) != 0x80) { r.failed = true; return 0L }
        v = (v << 6) | (b & 0x3f)
        i += 1
      }
      v
    }
  }

  /** Fixed-predictor residual at order k (the spec's difference ladder). */
  private def residual(x: Array[Int], i: Int, order: Int): Long = order match {
    case 0 => x(i)
    case 1 => x(i).toLong - x(i - 1)
    case 2 => x(i).toLong - 2L * x(i - 1) + x(i - 2)
    case 3 => x(i).toLong - 3L * x(i - 1) + 3L * x(i - 2) - x(i - 3)
    case _ => x(i).toLong - 4L * x(i - 1) + 6L * x(i - 2) - 4L * x(i - 3) + x(i - 4)
  }

  private def zigzag(v: Long): Long = if (v < 0) -2 * v - 1 else 2 * v

  /** True when channel `ch` of assignment `chCode` is the SIDE channel —
    * coded at bits+1 per RFC 9639 (left/side: ch1; right/side: ch0;
    * mid/side: ch1).
    */
  private def sideBit(chCode: Int, ch: Int): Boolean =
    (chCode == 8 && ch == 1) || (chCode == 9 && ch == 0) || (chCode == 10 && ch == 1)

  /** Rice-coded residual section, partition order 0. Method (4- vs 5-bit
    * rice parameters) is picked by the needed parameter: side-channel
    * (17-bit) LPC residuals can want params above 14, which only the
    * 5-bit method encodes. Parameter = floor(log2(mean zigzag)), the
    * textbook rice fit; optimal partitioning is an encoder quality knob,
    * not a conformance requirement.
    */
  private def writeResidualSection(fw: BitWriter, res: Array[Long]): Unit = {
    var sumZ = 0L
    res.foreach(v => sumZ += zigzag(v))
    val mean = if (res.nonEmpty) sumZ / res.length else 0L
    var param = 0
    while (param < 30 && (1L << (param + 1)) <= mean + 1) param += 1
    val method = if (param > 14) 1 else 0
    fw.writeBits(method.toLong, 2)
    fw.writeBits(0L, 4) // partition order 0
    fw.writeBits(param.toLong, if (method == 0) 4 else 5)
    res.foreach { v =>
      val u = zigzag(v)
      fw.writeUnary((u >>> param).toInt)
      fw.writeBits(u & ((1L << param) - 1), param)
    }
  }

  /** Encoder-synth LPC predictor: order 2, precision 12, shift 5, coefs
    * (60, −28) ≈ 1.88·x(i−1) − 0.88·x(i−2). Losslessness never depends
    * on predictor quality — residuals are exact by construction — so one
    * canned coefficient set exercises the whole LPC bit layout.
    */
  private val LpcCoefs = Array(60L, -28L)
  private val LpcShift = 5
  private val LpcPrecision = 12

  private def lpcPredict(x: Array[Int], i: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < LpcCoefs.length) { acc += LpcCoefs(j) * x(i - 1 - j); j += 1 }
    acc >> LpcShift
  }

  /** Write one subframe of `x` at `bits` effective sample bits.
    * sel: -1 CONSTANT, -2 VERBATIM, 0..4 FIXED-k, 102 LPC order 2.
    */
  private def encodeSubframe(fw: BitWriter, x: Array[Int], bits: Int, sel: Int): Unit = {
    val n = x.length
    val mask = (1L << bits) - 1
    sel match {
      case -1 =>
        fw.writeBits(0L, 1); fw.writeBits(0L, 6); fw.writeBits(0L, 1)
        fw.writeBits(x(0).toLong & mask, bits)
      case -2 =>
        fw.writeBits(0L, 1); fw.writeBits(1L, 6); fw.writeBits(0L, 1)
        var i = 0
        while (i < n) { fw.writeBits(x(i).toLong & mask, bits); i += 1 }
      case k if k >= 0 && k <= 4 =>
        fw.writeBits(0L, 1); fw.writeBits(8L | k.toLong, 6); fw.writeBits(0L, 1)
        var i = 0
        while (i < k) { fw.writeBits(x(i).toLong & mask, bits); i += 1 }
        writeResidualSection(fw, Array.tabulate(n - k)(j => residual(x, k + j, k)))
      case _ => // LPC, order = sel - 100
        val ord = sel - 100
        fw.writeBits(0L, 1); fw.writeBits((0x20 | (ord - 1)).toLong, 6); fw.writeBits(0L, 1)
        var i = 0
        while (i < ord) { fw.writeBits(x(i).toLong & mask, bits); i += 1 }
        fw.writeBits((LpcPrecision - 1).toLong, 4)
        fw.writeBits(LpcShift.toLong, 5)
        LpcCoefs.foreach(c => fw.writeBits(c & ((1L << LpcPrecision) - 1), LpcPrecision))
        writeResidualSection(fw, Array.tabulate(n - ord)(j => x(ord + j) - lpcPredict(x, ord + j)))
    }
  }

  /** Subframe selection for one channel block: CONSTANT when flat, else
    * rotate VERBATIM / FIXED-1 / FIXED-2 / LPC-2 by `rot` (blocks too
    * short for the predictor fall back to VERBATIM) — every subframe
    * type the decoder supports appears in every synthesized stream.
    */
  private def pickSel(x: Array[Int], rot: Long): Int = {
    val n = x.length
    if (x.forall(_ == x(0))) -1
    else (rot % 4) match {
      case 0 => -2
      case 1 => if (n >= 2) 1 else -2
      case 2 => if (n >= 3) 2 else -2
      case _ => if (n >= 3) 102 else -2
    }
  }

  /** Encode one frame of 1 or 2 channel blocks under channel assignment
    * `chCode` (0 mono; 1 independent stereo; 8 left/side; 9 right/side;
    * 10 mid/side — side blocks already transformed by the caller and
    * coded at 17 bits). 16-bit source samples, blocksize ≤ 256 (the
    * 8-bit-at-end header form).
    */
  private def encodeFrame(w: BitWriter, blocks: Array[Array[Int]], chCode: Int, frameIdx: Long): Unit = {
    val n = blocks(0).length
    val fw = new BitWriter
    fw.writeByte(0xff); fw.writeByte(0xf8)        // sync + fixed blocking
    fw.writeByte(0x60)                            // blocksize: 8-bit at end; rate: STREAMINFO
    fw.writeByte((chCode << 4) | 0x08)            // channel assignment; 16 bps; reserved 0
    writeCodedNumber(fw, frameIdx)
    fw.writeByte(n - 1)
    val hdrBytes = fw.toBytes
    fw.writeByte(crc8(hdrBytes, 0, hdrBytes.length))
    var ch = 0
    while (ch < blocks.length) {
      val bits = if (sideBit(chCode, ch)) 17 else 16
      encodeSubframe(fw, blocks(ch), bits, pickSel(blocks(ch), frameIdx + ch))
      ch += 1
    }
    fw.alignByte()
    val frameBytes = fw.toBytes
    val c16 = crc16(frameBytes, 0, frameBytes.length)
    var j = 0
    while (j < frameBytes.length) { w.writeByte(frameBytes(j) & 0xff); j += 1 }
    w.writeBits(c16.toLong, 16)
  }

  /** Full mono FLAC stream: "fLaC" magic + STREAMINFO (via the existing
    * q203 metadata builder) + real encoded frames, `blocksize` samples
    * each (final frame partial). blocksize ≤ 256 (the 8-bit-at-end
    * header form this encoder emits).
    */
  def encodeStream(samples: Array[Int], rate: Int, blocksize: Int): Array[Byte] = {
    require(blocksize >= 1 && blocksize <= 256 && samples.nonEmpty)
    val meta = Multimodal.SyntheticMedia.flac(
      rate, channels = 1, bitsPerSample = 16,
      totalSamples = samples.length.toLong, fillerLen = 0)
    val w = new BitWriter
    var off = 0
    var f = 0L
    while (off < samples.length) {
      val n = math.min(blocksize, samples.length - off)
      encodeFrame(w, Array(java.util.Arrays.copyOfRange(samples, off, off + n)), 0, f)
      off += n
      f += 1
    }
    meta ++ w.toBytes
  }

  /** Full stereo FLAC stream rotating ALL FOUR channel assignments across
    * frames — independent, left/side, right/side, mid/side — so one
    * synthesized stream exercises every inter-channel decorrelation the
    * decoder implements. Side blocks are the exact integer transforms of
    * RFC 9639 (side = left − right; mid = (left + right) >> 1 with the
    * side's low bit restoring the dropped parity), so encode∘decode is
    * the identity and a formula oracle checks decoded samples exactly.
    */
  def encodeStereoStream(left: Array[Int], right: Array[Int], rate: Int, blocksize: Int): Array[Byte] = {
    require(left.length == right.length && left.nonEmpty &&
      blocksize >= 1 && blocksize <= 256)
    val meta = Multimodal.SyntheticMedia.flac(
      rate, channels = 2, bitsPerSample = 16,
      totalSamples = left.length.toLong, fillerLen = 0)
    val w = new BitWriter
    var off = 0
    var f = 0L
    while (off < left.length) {
      val nb = math.min(blocksize, left.length - off)
      val l = java.util.Arrays.copyOfRange(left, off, off + nb)
      val r = java.util.Arrays.copyOfRange(right, off, off + nb)
      val chCode = (f % 4) match {
        case 0 => 1; case 1 => 8; case 2 => 9; case _ => 10
      }
      val blocks = chCode match {
        case 1 => Array(l, r)
        case 8 => Array(l, Array.tabulate(nb)(i => l(i) - r(i)))
        case 9 => Array(Array.tabulate(nb)(i => l(i) - r(i)), r)
        case _ => Array(Array.tabulate(nb)(i => (l(i) + r(i)) >> 1),
          Array.tabulate(nb)(i => l(i) - r(i)))
      }
      encodeFrame(w, blocks, chCode, f)
      off += nb
      f += 1
    }
    meta ++ w.toBytes
  }

  /** Spec blocksize codes (frame-header bits 4..7 of byte 2). */
  private def blockSizeFromCode(code: Int, r: BitReader): Int = code match {
    case 0 => -1 // reserved
    case 1 => 192
    case c if c >= 2 && c <= 5 => 576 << (c - 2)
    case 6 => r.readBits(8).toInt + 1
    case 7 => r.readBits(16).toInt + 1
    case c => 256 << (c - 8)
  }

  /** Rice/escape residual section into out(order..bs-1), reconstructing
    * each sample with `rec(history, index, residual)`. Returns false on
    * any structural failure (never throws — the corrupt-media contract).
    */
  private def decodeResiduals(
      r: BitReader, bs: Int, order: Int, out: Array[Int],
      rec: (Array[Int], Int, Long) => Int): Boolean = {
    val method = r.readBits(2).toInt
    if (method > 1) return false
    val pw = if (method == 0) 4 else 5
    val esc = (1 << pw) - 1
    val po = r.readBits(4).toInt
    val parts = 1 << po
    if (bs % parts != 0 || ((bs >> po) <= order && po > 0)) return false
    var idx = order
    var part = 0
    while (!r.failed && part < parts) {
      val cnt = (bs >> po) - (if (part == 0) order else 0)
      val param = r.readBits(pw).toInt
      var c = 0
      if (param == esc) {
        val raw = r.readBits(5).toInt
        while (c < cnt && !r.failed) {
          val res =
            if (raw == 0) 0L
            else (r.readBits(raw) << (64 - raw)) >> (64 - raw) // sign-extend
          out(idx) = rec(out, idx, res); idx += 1; c += 1
        }
      } else {
        while (c < cnt && !r.failed) {
          val q = r.readUnary().toLong
          val low = r.readBits(param)
          val u = (q << param) | low
          val res = if ((u & 1L) != 0) -((u + 1) >> 1) else u >> 1
          out(idx) = rec(out, idx, res); idx += 1; c += 1
        }
      }
      part += 1
    }
    !r.failed && idx == bs
  }

  /** One subframe of `bs` samples at `bits` effective sample bits; null
    * on any structural failure. CONSTANT / VERBATIM / FIXED 0–4 / LPC
    * (any order, any coefficient precision, non-negative shift — RFC
    * 9639 forbids a negative quantization shift). Prediction runs in the
    * un-shifted domain; wasted bits are restored at the end, per spec.
    */
  private def decodeSubframe(r: BitReader, bs: Int, bits: Int): Array[Int] = {
    if (r.readBits(1) != 0L) return null
    val typ = r.readBits(6).toInt
    var wasted = 0
    if (r.readBits(1) == 1L) wasted = r.readUnary() + 1
    val eff = bits - wasted
    if (r.failed || eff <= 0 || eff > 32) return null
    val out = new Array[Int](bs)
    if (typ == 0) { // CONSTANT
      java.util.Arrays.fill(out, r.readSigned(eff))
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < bs && !r.failed) { out(i) = r.readSigned(eff); i += 1 }
    } else if (typ >= 8 && typ <= 12) { // FIXED order 0..4
      val order = typ - 8
      // a predictor order beyond the frame's blocksize is structurally
      // impossible — corrupt-media stop, BEFORE the warmup loop writes
      // past `out` (never-throw contract)
      if (order > bs) return null
      var i = 0
      while (i < order && !r.failed) { out(i) = r.readSigned(eff); i += 1 }
      if (!decodeResiduals(r, bs, order, out,
          (x, idx, res) => reconstruct(x, idx, order, res))) return null
    } else if (typ >= 32) { // LPC, order 1..32
      val order = (typ & 0x1f) + 1
      if (order > bs) return null
      var i = 0
      while (i < order && !r.failed) { out(i) = r.readSigned(eff); i += 1 }
      val precM1 = r.readBits(4).toInt
      if (r.failed || precM1 == 15) return null // precision code 15 is invalid
      val prec = precM1 + 1
      val shift = r.readSigned(5)
      if (shift < 0) return null
      val coefs = new Array[Long](order)
      i = 0
      while (i < order && !r.failed) { coefs(i) = r.readSigned(prec).toLong; i += 1 }
      val rec = (x: Array[Int], idx: Int, res: Long) => {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j) * x(idx - 1 - j); j += 1 }
        (res + (acc >> shift)).toInt // arithmetic shift, per spec
      }
      if (!decodeResiduals(r, bs, order, out, rec)) return null
    } else return null // reserved types 2–7, 16–31
    if (r.failed) return null
    if (wasted > 0) {
      var i = 0
      while (i < bs) { out(i) = out(i) << wasted; i += 1 }
    }
    out
  }

  /** Decoded-sample stats (n, sum, sum|v|, peak|v|) of a mono or stereo
    * 16-bit FLAC stream with CRC verification per frame; (0,0,0,0) when
    * the payload is not FLAC or not in scope, and a PARTIAL prefix when
    * a later frame fails CRC/structure (everything verified up to that
    * point counts — the truncated-shard contract). Stereo frames emit
    * both channels interleaved after inter-channel reconstruction
    * (left/side, right/side, mid/side per RFC 9639, any mix across
    * frames). The STREAMINFO total-sample count bounds the walk.
    */
  def decodeStats(p: Array[Byte]): (Long, Long, Long, Int) = {
    val f = Multimodal.ContainerCodec.walkFlac(p)
    if (f == null || (f.channels != 1 && f.channels != 2) || f.bits != 16 ||
      f.frameOff < 0) return (0L, 0L, 0L, 0)
    val ch = f.channels
    val total = f.total
    var off = f.frameOff
    var n = 0L; var sumV = 0L; var sumAbs = 0L; var peak = 0
    def emit(v: Int): Unit = {
      sumV += v
      val a = math.abs(v)
      sumAbs += a
      if (a > peak) peak = a
      n += 1
    }
    var frames = 0L // per-channel samples consumed (the STREAMINFO unit)
    var ok = true
    while (ok && frames < total && off + 5 <= p.length) {
      val frameStart = off
      if ((p(off) & 0xff) != 0xff || (p(off + 1) & 0xfe) != 0xf8) ok = false
      else {
        val r = new BitReader(p, off + 2, p.length)
        val bsCode = r.readBits(4).toInt
        val srCode = r.readBits(4).toInt
        val chCode = r.readBits(4).toInt
        val ssCode = r.readBits(3).toInt
        r.readBits(1) // reserved
        readCodedNumber(r)
        val bs = blockSizeFromCode(bsCode, r)
        // sample-rate codes 12/13/14 carry trailing bytes to skip
        if (srCode == 12) r.readBits(8)
        else if (srCode == 13 || srCode == 14) r.readBits(16)
        val sampleBits = ssCode match {
          case 1 => 8; case 2 => 12; case 4 => 16; case 5 => 20; case 6 => 24
          case 7 => 32; case _ => -1
        }
        // the frame's channel layout must agree with STREAMINFO's count
        val chOk =
          if (ch == 1) chCode == 0
          else chCode == 1 || (chCode >= 8 && chCode <= 10)
        val hdrEnd = r.byteOff
        if (r.failed || bs <= 0 || !chOk || sampleBits != 16 ||
          !r.aligned || hdrEnd + 1 > p.length ||
          crc8(p, frameStart, hdrEnd) != (p(hdrEnd) & 0xff)) ok = false
        else {
          r.readBits(8) // the CRC-8 byte itself
          val nch = if (ch == 1) 1 else 2
          val subs = new Array[Array[Int]](nch)
          var good = true
          var c = 0
          while (good && c < nch) {
            val bits = if (sideBit(chCode, c)) 17 else 16
            val sub = decodeSubframe(r, bs, bits)
            if (sub == null) good = false else subs(c) = sub
            c += 1
          }
          r.alignByte()
          if (good && !r.failed && r.byteOff + 2 <= p.length &&
            crc16(p, frameStart, r.byteOff) ==
              (((p(r.byteOff) & 0xff) << 8) | (p(r.byteOff + 1) & 0xff))) {
            val want = math.min(bs.toLong, total - frames).toInt
            if (nch == 2) {
              val a = subs(0); val b = subs(1)
              var i = 0
              chCode match {
                case 8 => // (left, side): right = left − side
                  while (i < want) { emit(a(i)); emit(a(i) - b(i)); i += 1 }
                case 9 => // (side, right): left = right + side
                  while (i < want) { emit(b(i) + a(i)); emit(b(i)); i += 1 }
                case 10 => // (mid, side): parity rides the side's low bit
                  while (i < want) {
                    val mid2 = (a(i).toLong << 1) | (b(i) & 1L)
                    emit(((mid2 + b(i)) >> 1).toInt)
                    emit(((mid2 - b(i)) >> 1).toInt)
                    i += 1
                  }
                case _ => // independent
                  while (i < want) { emit(a(i)); emit(b(i)); i += 1 }
              }
            } else {
              var i = 0
              while (i < want) { emit(subs(0)(i)); i += 1 }
            }
            frames += want
            off = r.byteOff + 2
          } else ok = false
        }
      }
    }
    (n, sumV, sumAbs, peak)
  }

  /** Invert the fixed-predictor ladder: x(i) from residual + history. */
  private def reconstruct(x: Array[Int], i: Int, order: Int, res: Long): Int =
    (order match {
      case 0 => res
      case 1 => res + x(i - 1)
      case 2 => res + 2L * x(i - 1) - x(i - 2)
      case 3 => res + 3L * x(i - 1) - 3L * x(i - 2) + x(i - 3)
      case _ => res + 4L * x(i - 1) - 6L * x(i - 2) + 4L * x(i - 3) - x(i - 4)
    }).toInt
}
