package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Shard-archive ingestion — the container tier for TRAINING SHARDS.
  *
  * Large multimodal corpora ship as archive shards (the WebDataset
  * convention: a corpus is millions of tar shards, each holding a few
  * thousand (sample.jpg, sample.txt, sample.json) member groups), so a
  * 100 TB pipeline's first real operator is "explode shard bytes into
  * member rows" — exactly the map-side fan-out shape of
  * [[Multimodal.decodeMeta]]: archives arrive as opaque binary columns,
  * the member walk runs once per row at the mapPartitions codec
  * boundary, and only member METADATA (names, sizes, checksums) ever
  * shuffles, never the payload bytes unless a downstream step selects
  * them.
  *
  * Both formats here are public fixed layouts, parsed with the same
  * never-throw, bounds-checked discipline as the audio/video container
  * walks (reference semantics: dbkit treats malformed input as
  * row-level nulls, src/error.rs; a corrupt shard yields no member
  * rows, never a task failure):
  *
  *  - POSIX ustar tar (IEEE 1003.1): 512-byte header blocks — member
  *    name NUL-padded at offset 0, size as ASCII OCTAL at 124 (the
  *    field a naive parser reads as decimal), typeflag at 156, the
  *    "ustar" magic at 257 — each followed by the member body padded to
  *    a 512 multiple; two zero blocks terminate the archive.
  *  - gzip (RFC 1952) via the JDK's built-in Inflater path
  *    (`java.util.zip.GZIPInputStream`) — REAL decompression, not a
  *    stand-in: compressed training text is the norm, and the
  *    decompressed stream's length/content are deterministic facts of
  *    the payload even though the compressed encoding itself is
  *    producer-specific (which is why gates oracle the DECOMPRESSED
  *    features only).
  */
object Shards {

  // disk-cache-free ImageIO streams (see Multimodal's initializer) — this
  // object's task closures can run before any Multimodal code is touched
  javax.imageio.ImageIO.setUseCache(false)

  /** One tar member's metadata + content fingerprint: byte_sum is the
    * plain Σ of unsigned byte values — integer-exact, so a SQL oracle
    * that knows the member-content formula recomputes it relationally
    * (the AudioCodec.pcmStats discipline).
    */
  case class TarMember(
      shard_id: Long,
      member_idx: Int,
      name: String,
      size: Long,
      byte_sum: Long)

  object ArchiveCodec {

    /** Parse the ASCII-octal number fields of a ustar header (size,
      * mtime): NUL/space-terminated octal digits. Returns -1 on any
      * non-octal byte — a corrupt header ends the walk rather than
      * misreading a size and desynchronizing every later member.
      */
    private[graft] def octal(p: Array[Byte], off: Int, len: Int): Long = {
      var v = 0L
      var i = off
      val end = off + len
      var seen = false
      while (i < end) {
        val b = p(i) & 0xff
        if (b == 0 || b == ' ') {
          if (seen) i = end // terminator after digits: done
          else i += 1 // leading padding
        } else if (b >= '0' && b <= '7') {
          v = (v << 3) | (b - '0')
          seen = true
          i += 1
        } else return -1L
      }
      if (seen) v else -1L
    }

    private def isUstar(p: Array[Byte], base: Int): Boolean =
      base + 263 <= p.length &&
        p(base + 257) == 'u' && p(base + 258) == 's' && p(base + 259) == 't' &&
        p(base + 260) == 'a' && p(base + 261) == 'r'

    /** True iff the payload starts with a valid ustar header block. */
    def isTar(p: Array[Byte]): Boolean =
      p.length >= 512 && isUstar(p, 0) && octal(p, 124, 12) >= 0

    /** Walk every member of a ustar archive. Truncated archives yield
      * the members fully present (the container clamp rule); a header
      * that is neither ustar nor all-zero ends the walk; non-file
      * members (directories, links — typeflag ≠ '0'/NUL) advance the
      * stream but emit no row.
      */
    def tarMembers(id: Long, p: Array[Byte]): Seq[TarMember] = {
      val out = Seq.newBuilder[TarMember]
      var off = 0L
      var idx = 0
      var done = false
      while (!done && off + 512 <= p.length) {
        val base = off.toInt
        // terminator: an all-zero block
        var allZero = true
        var i = base
        while (allZero && i < base + 512) { if (p(i) != 0) allZero = false; i += 1 }
        if (allZero) done = true
        else if (!isUstar(p, base)) done = true
        else {
          val size = octal(p, base + 124, 12)
          if (size < 0) done = true
          else {
            val dataEnd = off + 512 + size
            val typeflag = p(base + 156)
            if (dataEnd > p.length) done = true // truncated member: dropped
            else {
              if (typeflag == '0' || typeflag == 0) {
                var nameEnd = base
                while (nameEnd < base + 100 && p(nameEnd) != 0) nameEnd += 1
                val name = new String(p, base, nameEnd - base,
                  java.nio.charset.StandardCharsets.US_ASCII)
                var sum = 0L
                var j = (off + 512).toInt
                val e = dataEnd.toInt
                while (j < e) { sum += p(j) & 0xff; j += 1 }
                out += TarMember(id, idx, name, size, sum)
              }
              idx += 1
              // body padded to the next 512 boundary
              off = off + 512 + ((size + 511L) / 512L) * 512L
            }
          }
        }
      }
      out.result()
    }

    /** The [[tarMembers]] walk with member BODIES — for codec-boundary
      * composites that must decode member content in the same task
      * (q260's WDS image pipeline). Same contracts: corrupt header or
      * truncated member ends the walk at the valid prefix; only regular
      * files are emitted. Payload slices never leave the boundary — the
      * caller reduces them to features before returning rows.
      */
    def tarMemberBytes(p: Array[Byte]): Seq[(String, Array[Byte])] = {
      val out = Seq.newBuilder[(String, Array[Byte])]
      var off = 0L
      var done = false
      while (!done && off + 512 <= p.length) {
        val base = off.toInt
        var allZero = true
        var i = base
        while (allZero && i < base + 512) { if (p(i) != 0) allZero = false; i += 1 }
        if (allZero) done = true
        else if (!isUstar(p, base)) done = true
        else {
          val size = octal(p, base + 124, 12)
          if (size < 0) done = true
          else {
            val dataEnd = off + 512 + size
            val typeflag = p(base + 156)
            if (dataEnd > p.length) done = true
            else {
              if (typeflag == '0' || typeflag == 0) {
                var nameEnd = base
                while (nameEnd < base + 100 && p(nameEnd) != 0) nameEnd += 1
                val name = new String(p, base, nameEnd - base,
                  java.nio.charset.StandardCharsets.US_ASCII)
                out += ((name, java.util.Arrays.copyOfRange(
                  p, (off + 512).toInt, dataEnd.toInt)))
              }
              off = off + 512 + ((size + 511L) / 512L) * 512L
            }
          }
        }
      }
      out.result()
    }

    /** Write a POSIX ustar archive from (name, body) members — the
      * WRITE half of [[tarMembers]] (IEEE 1003.1: NUL-padded names,
      * ASCII-octal sizes, spaces-then-computed checksum, 512-byte body
      * padding, two zero terminator blocks). Backs the shard-EXPORT
      * operator [[Shards.packTarShards]] and the synthetic builders, so
      * every exported shard is readable by any tar implementation, not
      * just our own walk.
      */
    def tarArchive(members: Iterator[(String, Array[Byte])]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      members.foreach { case (name, body) => writeTarMember(bos, name, body) }
      bos.write(new Array[Byte](1024)) // two terminator blocks
      bos.toByteArray
    }

    private[multimodal] def writeTarMember(bos: java.io.ByteArrayOutputStream,
        name: String, body: Array[Byte]): Unit = {
      bos.write(ustarHeader(name, body.length.toLong, '0'))
      bos.write(body)
      bos.write(new Array[Byte]((512 - body.length % 512) % 512))
    }

    private[multimodal] def ustarHeader(
        name: String, size: Long, typeflag: Byte): Array[Byte] = {
      // writer-side contract (FAIL FAST with a clear message — the
      // never-throw rule is for PARSERS of untrusted bytes; a writer
      // silently truncating past the 100-byte name field or mangling
      // non-ASCII to '?' would corrupt the export): the classic ustar
      // name field is 100 bytes; the 155-byte prefix extension is out
      // of scope and rejected, not mis-encoded.
      require(name.forall(c => c >= 0x20 && c < 0x7f),
        s"tar member name must be printable ASCII: '$name'")
      require(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII).length <= 100,
        s"tar member name exceeds the 100-byte ustar field: '$name'")
      val h = new Array[Byte](512)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      val nb = name.getBytes(ascii)
      System.arraycopy(nb, 0, h, 0, nb.length)
      def oct(v: Long, off: Int, len: Int): Unit = {
        val s = ("%0" + (len - 1) + "o").format(v)
        System.arraycopy(s.getBytes(ascii), 0, h, off, s.length)
      }
      oct(420, 100, 8) // mode 0644
      oct(0, 108, 8); oct(0, 116, 8) // uid/gid
      oct(size, 124, 12)
      oct(0, 136, 12) // mtime
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum spaces
      h(156) = typeflag
      System.arraycopy("ustar".getBytes(ascii), 0, h, 257, 5)
      h(263) = '0'; h(264) = '0' // version "00"
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      // ustar checksum encoding: six octal digits, NUL, space
      val cs = "%06o".format(sum).getBytes(ascii)
      System.arraycopy(cs, 0, h, 148, 6)
      h(154) = 0; h(155) = ' '
      h
    }

    /** Shared decompress-and-fingerprint loop: (decompressed_len,
      * byte_sum) of the stream `mk` yields, or (-1, 0) if construction
      * or any read throws IOException (truncation, bad header, CRC
      * failure — JDK GZIPInputStream parses the header EAGERLY in its
      * constructor, so `mk` runs inside the try) or the inflated size
      * exceeds `maxOut` — the decompression-bomb cap that degrades a
      * few-KB-inflates-to-GBs payload to the corrupt-media contract
      * instead of an executor OOM (the ImageCodec header-only lesson
      * applied to compression).
      */
    private def streamStats(mk: () => java.io.InputStream, maxOut: Long): (Long, Long) = {
      var in: java.io.InputStream = null
      try {
        in = mk()
        val buf = new Array[Byte](8192)
        var len = 0L
        var sum = 0L
        var n = in.read(buf)
        while (n > 0) {
          var i = 0
          while (i < n) { sum += buf(i) & 0xff; i += 1 }
          len += n
          if (len > maxOut) return (-1L, 0L)
          n = in.read(buf)
        }
        (len, sum)
      } catch {
        case _: java.io.IOException => (-1L, 0L)
      } finally if (in != null) in.close()
    }

    /** gzip magic (RFC 1952 §2.3.1): 0x1f 0x8b. */
    def isGzip(p: Array[Byte]): Boolean =
      p.length >= 2 && (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b

    /** REAL gzip decompression (RFC 1952, JDK Inflater):
      * (decompressed_len, byte_sum), or (-1, 0) for a corrupt stream —
      * truncation, bad header, and CRC failures all surface as
      * IOException inside [[streamStats]]. Trailing garbage after a
      * complete member is IGNORED by the JDK reader (its concatenated-
      * member probe swallows the non-header case), so such payloads
      * report the valid prefix's stats — spec-pinned behavior.
      */
    def gunzipStats(p: Array[Byte], maxOut: Long = 64L << 20): (Long, Long) =
      if (p.length < 18 || !isGzip(p)) (-1L, 0L)
      else streamStats(() => new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(p)), maxOut)

    /** REAL deflate COMPRESSION length (RFC 1951 via the JDK Deflater,
      * fixed level/strategy, no preset dictionary) — the compression-
      * ratio quality signal (CCNet/Gopher: highly repetitive text
      * compresses suspiciously well; binary-ish noise doesn't compress).
      * The exact byte count is zlib-implementation-dependent, so gates
      * built on this must output INVARIANT verdicts (ratio bounds,
      * comparative laws), never raw lengths — the q72–q74 discipline.
      */
    def deflateLen(p: Array[Byte], level: Int = 6): Long = {
      val d = new java.util.zip.Deflater(level, true)
      try {
        d.setInput(p)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        total
      } finally d.end()
    }

    /** Zstandard magic (RFC 8878 §3.1.1): 0xFD2FB528 little-endian. */
    def isZstd(p: Array[Byte]): Boolean =
      p.length >= 8 && (p(0) & 0xff) == 0x28 && (p(1) & 0xff) == 0xb5 &&
        (p(2) & 0xff) == 0x2f && (p(3) & 0xff) == 0xfd

    /** REAL zstd decompression via zstd-jni (shipped in Spark's own jar
      * directory — the codec Spark itself uses for shuffle/parquet):
      * same contract as [[gunzipStats]].
      */
    def unzstdStats(p: Array[Byte], maxOut: Long = 64L << 20): (Long, Long) =
      if (!isZstd(p)) (-1L, 0L)
      else streamStats(() => new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(p)), maxOut)

    /** Materialized magic-dispatched decompression for COMPOSITION
      * operators ([[Shards.compressedTarMemberRows]] needs the archive
      * bytes, not just their stats): the decompressed bytes, or null
      * for unknown magic / corrupt stream / past-`maxOut` inflation.
      * Memory contract: at most maxOut bytes live per row, inside one
      * map task — callers must not retain the result past the row.
      */
    def decompressBytes(p: Array[Byte], maxOut: Long = 64L << 20): Array[Byte] = {
      val mk: () => java.io.InputStream =
        if (isGzip(p) && p.length >= 18)
          () => new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(p))
        else if (isZstd(p))
          () => new com.github.luben.zstd.ZstdInputStream(new java.io.ByteArrayInputStream(p))
        else return null
      var in: java.io.InputStream = null
      try {
        in = mk()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var total = 0L
        var n = in.read(buf)
        while (n > 0) {
          total += n
          if (total > maxOut) return null
          bos.write(buf, 0, n)
          n = in.read(buf)
        }
        bos.toByteArray
      } catch {
        case _: java.io.IOException => null
      } finally if (in != null) in.close()
    }

    /** Magic-dispatched decompression over the codecs a shard corpus
      * actually mixes: ("gzip" | "zstd" | "unknown", len, byte_sum) —
      * unknown or corrupt payloads report ("unknown"/codec, -1, 0).
      */
    def decompressStats(p: Array[Byte], maxOut: Long = 64L << 20): (String, Long, Long) =
      if (isGzip(p)) {
        val (len, sum) = gunzipStats(p, maxOut)
        ("gzip", len, sum)
      } else if (isZstd(p)) {
        val (len, sum) = unzstdStats(p, maxOut)
        ("zstd", len, sum)
      } else ("unknown", -1L, 0L)

    /** Local-file-header magic PK 0x03 0x04 (APPNOTE 4.3.7) — the
      * signature a STREAM walk starts at (EOCD/central directory live at
      * the tail and are not needed).
      */
    def isZip(p: Array[Byte]): Boolean =
      p.length >= 4 && p(0) == 'P' && p(1) == 'K' && p(2) == 3 && p(3) == 4

    /** Walk every member of a zip via the JDK's REAL streaming reader
      * (ZipInputStream: local headers + Inflater, data descriptors
      * handled) — `size` is the DECOMPRESSED length, `byte_sum` the
      * decompressed content's Σ, i.e. facts the compressed encoding
      * cannot vary. Same contracts as [[tarMembers]]: directory entries
      * advance the stream but emit no row (member_idx still counts
      * them); a mid-stream corruption or truncation keeps the members
      * fully read before it; a member inflating past `maxOut` (zip
      * bomb) aborts the walk — later offsets can't be trusted.
      */
    def zipMembers(id: Long, p: Array[Byte],
        maxOut: Long = 64L << 20): Seq[TarMember] = {
      if (!isZip(p)) return Seq.empty
      val out = Seq.newBuilder[TarMember]
      var in: java.util.zip.ZipInputStream = null
      try {
        in = new java.util.zip.ZipInputStream(
          new java.io.ByteArrayInputStream(p))
        val buf = new Array[Byte](8192)
        var idx = 0
        var e = in.getNextEntry
        var ok = true
        while (ok && e != null) {
          if (!e.isDirectory) {
            var len = 0L
            var sum = 0L
            var n = in.read(buf)
            while (ok && n > 0) {
              var i = 0
              while (i < n) { sum += buf(i) & 0xff; i += 1 }
              len += n
              if (len > maxOut) ok = false else n = in.read(buf)
            }
            // emit only after the FULL member read (a read that threw
            // or tripped the bomb cap never emits a partial row)
            if (ok) out += TarMember(id, idx, e.getName, len, sum)
          }
          idx += 1
          e = if (ok) in.getNextEntry else null
        }
      } catch {
        // truncated/corrupt tail: members read so far stand. JDK
        // ZipInputStream also throws IllegalArgumentException (not
        // IOException) for malformed non-UTF-8 entry NAMES — same
        // corrupt-shard contract, never a task failure.
        case _: java.io.IOException => ()
        case _: IllegalArgumentException => ()
      } finally if (in != null) in.close()
      out.result()
    }
  }

  /** One WARC record's metadata + content fingerprint (ISO 28500): the
    * fields a crawl-ingest pipeline keys on, plus the byte-sum
    * fingerprint of the payload block (the [[TarMember]] discipline —
    * integer-exact, so a SQL oracle that knows the body formula
    * recomputes it relationally without seeing a byte).
    */
  case class WarcRecord(
      shard_id: Long,
      rec_idx: Int,
      warc_type: String,
      target_uri: String,
      content_length: Long,
      body_sum: Long)

  /** WARC (ISO 28500 — the container web crawls actually ship: Common
    * Crawl, IA) parsing and synthesis, same never-throw bounds-checked
    * discipline as the tar/zip walks.
    */
  object WarcCodec {

    private val ascii = java.nio.charset.StandardCharsets.US_ASCII

    /** True iff the payload starts with a WARC version line
      * (`WARC/1.0` or `WARC/1.1` per ISO 28500 §5 / its 2017 revision).
      */
    def isWarc(p: Array[Byte]): Boolean =
      p.length >= 10 && p(0) == 'W' && p(1) == 'A' && p(2) == 'R' &&
        p(3) == 'C' && p(4) == '/' && p(5) == '1' && p(6) == '.' &&
        (p(7) == '0' || p(7) == '1') && p(8) == '\r' && p(9) == '\n'

    /** Index just past the next CRLF at/after `off`, or -1 if none
      * complete before `p` ends.
      */
    private def lineEnd(p: Array[Byte], off: Int): Int = {
      var i = off
      while (i + 1 < p.length) {
        if (p(i) == '\r' && p(i + 1) == '\n') return i + 2
        i += 1
      }
      -1
    }

    /** Walk every record of a WARC file: version line, named header
      * lines (case-insensitive field names, ISO 28500 §4) up to an empty
      * CRLF line, a Content-Length-framed payload block, then the
      * two-CRLF record separator. Contracts mirror [[ArchiveCodec
      * .tarMembers]]: a non-WARC payload yields no rows; a truncated or
      * malformed record (missing/invalid Content-Length, body past EOF,
      * broken separator) ends the walk with every fully-framed record
      * before it emitted — later offsets can't be trusted, so no partial
      * row and never a task failure.
      */
    def warcRecords(id: Long, p: Array[Byte]): Seq[WarcRecord] = {
      if (!isWarc(p)) return Seq.empty
      val out = Seq.newBuilder[WarcRecord]
      var off = 0
      var idx = 0
      var done = false
      while (!done && off < p.length) {
        // version line (every record restates it)
        if (!(off + 10 <= p.length && p(off) == 'W' && p(off + 1) == 'A' &&
            p(off + 2) == 'R' && p(off + 3) == 'C' && p(off + 4) == '/')) {
          done = true
        } else {
          var cur = lineEnd(p, off)
          var warcType: String = null
          var targetUri: String = null
          var contentLength = -1L
          var headersOk = cur > 0
          var headersDone = false
          while (headersOk && !headersDone) {
            val end = lineEnd(p, cur)
            if (end < 0) headersOk = false
            else if (end == cur + 2) { headersDone = true; cur = end } // empty line
            else {
              val line = new String(p, cur, end - cur - 2, ascii)
              val colon = line.indexOf(':')
              if (colon > 0) {
                val name = line.substring(0, colon).trim.toLowerCase
                val value = line.substring(colon + 1).trim
                name match {
                  case "warc-type" => warcType = value
                  case "warc-target-uri" => targetUri = value
                  case "content-length" =>
                    contentLength = try value.toLong catch { case _: NumberFormatException => -1L }
                  case _ => ()
                }
              }
              cur = end
            }
          }
          if (!headersOk || contentLength < 0) done = true
          else {
            val bodyEnd = cur.toLong + contentLength
            // body + the two-CRLF record separator must be fully present
            if (bodyEnd + 4 > p.length) done = true
            else {
              var sum = 0L
              var j = cur
              val e = bodyEnd.toInt
              while (j < e) { sum += p(j) & 0xff; j += 1 }
              if (p(e) == '\r' && p(e + 1) == '\n' && p(e + 2) == '\r' && p(e + 3) == '\n') {
                out += WarcRecord(id, idx,
                  if (warcType == null) "" else warcType,
                  if (targetUri == null) "" else targetUri,
                  contentLength, sum)
                idx += 1
                off = e + 4
              } else done = true // broken separator: desynchronized
            }
          }
        }
      }
      out.result()
    }

    /** Write one WARC record (the inverse of [[warcRecords]], so an
      * export round-trips through any ISO 28500 reader).
      */
    private[multimodal] def writeRecord(bos: java.io.ByteArrayOutputStream,
        warcType: String, recordId: String, targetUri: String,
        body: Array[Byte]): Unit = {
      val header =
        s"WARC/1.0\r\n" +
          s"WARC-Type: $warcType\r\n" +
          s"WARC-Record-ID: <urn:uuid:$recordId>\r\n" +
          s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
          s"WARC-Target-URI: $targetUri\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n"
      bos.write(header.getBytes(ascii))
      bos.write(body)
      bos.write("\r\n\r\n".getBytes(ascii))
    }
  }

  /** Per-partition WARC record walk, magic-dispatched through the same
    * decompression the shard tier uses (real crawls ship `.warc.gz`;
    * ISO 28500 annexes the gzip-member convention — the JDK inflater
    * reads member-concatenated streams as one, and record framing comes
    * from the WARC Content-Length walk): decompress if gzip/zstd magic
    * (bomb-capped), walk records, emit metadata rows only. Corrupt
    * compression or non-WARC content fans out to no rows; decompressed
    * bytes never leave the map task.
    */
  def warcRecordRows(media: Dataset[Multimodal.MediaRow],
      maxOut: Long = 64L << 20): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).flatMap { r =>
        val bytes =
          if (ArchiveCodec.isGzip(r.payload) || ArchiveCodec.isZstd(r.payload))
            ArchiveCodec.decompressBytes(r.payload, maxOut)
          else r.payload
        if (bytes == null) Seq.empty
        else WarcCodec.warcRecords(r.media_id, bytes)
      }
    }.toDF()
  }

  /** Per-partition tar member walk at the codec boundary: one row per
    * regular-file member, metadata-sized output. Corrupt or non-tar
    * payloads fan out to no rows.
    */
  def tarMemberRows(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null)
        .flatMap(r => ArchiveCodec.tarMembers(r.media_id, r.payload))
    }.toDF()
  }

  /** Compressed-shard member walk (.tar.gz / .tar.zst — the wire
    * format shard corpora actually ship): magic-dispatched decompress
    * (bomb-capped) then the ustar walk, all inside one map at the codec
    * boundary — the decompressed archive bytes live only for the
    * duration of the walk and NEVER shuffle; only member metadata
    * leaves. Raw (uncompressed) tar payloads pass straight through, so
    * one operator ingests a mixed-compression corpus. Corrupt
    * compression or a non-tar decompression result fans out to no rows.
    */
  def compressedTarMemberRows(media: Dataset[Multimodal.MediaRow],
      maxOut: Long = 64L << 20): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).flatMap { r =>
        val archive =
          if (ArchiveCodec.isGzip(r.payload) || ArchiveCodec.isZstd(r.payload))
            ArchiveCodec.decompressBytes(r.payload, maxOut)
          else r.payload
        if (archive == null) Seq.empty
        else ArchiveCodec.tarMembers(r.media_id, archive)
      }
    }.toDF()
  }

  /** Streaming shard ingestion through the REAL micro-batch engine: in
    * production, shards LAND continuously (a crawler or exporter writes
    * them as it goes) and the corpus walks them as they arrive, so the
    * member fan-out must compose with Structured Streaming — and it
    * does, unchanged: [[tarMemberRows]]' mapPartitions codec boundary
    * is a narrow op, legal in a streaming plan. GraftStreamSource emits
    * `totalShards` offset rows in `perBatch`-sized checkpointed
    * micro-batches, each offset becomes a tar shard, and the engine
    * appends every batch's member rows to the sink. The batch-checkable
    * artifact is the full member set, which the oracle recomputes from
    * the shard formula over the identical offset stream.
    *
    * Scale: stateless streaming map — no watermark, no state store; the
    * per-batch work is exactly the batch operator's, so streaming
    * ingest inherits the batch tier's no-payload-shuffle property.
    */
  def streamShardGate(spark: SparkSession,
      totalShards: Long = 90, perBatch: Long = 30): DataFrame = {
    import spark.implicits._
    val raw = graft.streaming.EventStreams.gateSession(spark)
      .readStream.format("graft.sources.GraftStreamSource")
      .option("maxRows", totalShards.toString)
      .option("rowsPerBatch", perBatch.toString)
      .load()
    val media = raw.select(col("id")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        Multimodal.MediaRow(id, SyntheticShards.tarShard(id % 101), "application/x-tar")))
    val members = tarMemberRows(media)
    graft.streaming.EventStreams.runToMemoryDetached(members, "stream_shards", "append")(
      _.orderBy(col("shard_id").asc, col("member_idx").asc))
  }

  /** One document destined for a packed shard: `name` is the member
    * path inside the archive, `payload` the member body.
    */
  case class ShardDoc(doc_id: Long, name: String, payload: Array[Byte])

  /** Shard EXPORT — the write half of the shard tier: pack documents
    * into ustar shard payloads, `docsPerShard` per shard, members in
    * doc_id order (deterministic output bytes, so re-walking an export
    * is gateable). shard_id = doc_id / docsPerShard keeps assignment a
    * pure formula — restart-safe, no sequence state.
    *
    * 100 TB shape: the one payload shuffle is inherent to packing
    * (bytes must colocate to concatenate); shard size is bounded by
    * docsPerShard × max payload, the sort is within a ≤docsPerShard
    * group, and output shards stream straight to a binary sink. This is
    * the inverse of [[tarMemberRows]], and the pair is the
    * re-shard/compaction job of a WebDataset corpus.
    */
  def packTarShards(docs: Dataset[ShardDoc], docsPerShard: Int): Dataset[Multimodal.MediaRow] = {
    require(docsPerShard >= 1, s"docsPerShard must be >= 1 (got $docsPerShard)")
    import docs.sparkSession.implicits._
    docs.groupByKey(d => Math.floorDiv(d.doc_id, docsPerShard)) // floor, not truncation: negative ids keep the size bound
      .mapGroups { (sid, it) =>
        val members = it.toArray.sortBy(_.doc_id)
        Multimodal.MediaRow(sid,
          ArchiveCodec.tarArchive(members.iterator.map(m => (m.name, m.payload))),
          "application/x-tar")
      }
  }

  /** Per-partition zip member walk: one row per regular-file entry with
    * DECOMPRESSED size/byte-sum (real Inflater work, not a directory
    * read). Corrupt or non-zip payloads fan out to no rows.
    */
  def zipMemberRows(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null)
        .flatMap(r => ArchiveCodec.zipMembers(r.media_id, r.payload))
    }.toDF()
  }

  /** WebDataset sample assembly: archive members sharing a basename are
    * ONE training sample (img.jpg + img.txt + img.json), so the member
    * stream regroups by (shard, basename) into per-sample rows — part
    * count, total bytes, content fingerprint, and the sorted extension
    * list (the modality signature a downstream filter dispatches on).
    *
    * 100 TB shape: the input is member METADATA (payloads never left
    * the codec boundary), and a sample's members are emitted by the
    * same shard row on the same partition, so the groupBy's map-side
    * partial aggregation collapses each sample locally — the exchange
    * carries one row per SAMPLE, not per member.
    */
  def assembleSamples(members: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // WebDataset keys a sample on the basename up to the FIRST dot in
    // the final path segment; everything after it is the part type —
    // which may itself be dotted ("0001.seg.png" is part "seg.png" of
    // sample "0001", not sample "0001.seg"). Directories stay in the
    // key (distinct samples in different prefixes never merge).
    val base = regexp_extract(col("name"), "^((?:[^/]*/)*[^./]+)\\.", 1)
    val ext = regexp_extract(col("name"), "^(?:[^/]*/)*[^./]+\\.(.+)$", 1)
    members
      .withColumn("sample_key", when(base =!= "", base).otherwise(col("name")))
      .withColumn("ext", ext)
      .groupBy(col("shard_id"), col("sample_key"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("size")).as("total_size"),
        sum(col("byte_sum")).as("total_byte_sum"),
        array_join(array_sort(collect_list(col("ext"))), ",").as("exts"))
  }

  /** The multimodal WDS ingestion composite at ONE codec boundary
    * (q260): tar walk → first-dot sample assembly → REAL PNG decode →
    * 16×16 luma grid → spectral hash, all inside the same task — shard
    * bytes, member payloads, and pixels never leave it; what exits is
    * (shard, sample, dims, 8-byte hash, label). Samples missing either
    * part, with an undecodable png, or under 16 px fan out to no rows
    * (the corrupt-media contract at sample grain).
    */
  def wdsImageSampleRows(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).flatMap { r =>
        ArchiveCodec.tarMemberBytes(r.payload)
          .flatMap { case (name, body) =>
            val dot = name.indexOf('.')
            if (dot <= 0) None
            else Some((name.substring(0, dot), name.substring(dot + 1), body))
          }
          .groupBy(_._1).toSeq.sortBy(_._1)
          .flatMap { case (sampleKey, parts) =>
            val byExt = parts.map(p => p._2 -> p._3).toMap
            (byExt.get("png"), byExt.get("cls")) match {
              case (Some(png), Some(cls)) =>
                val img =
                  try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
                  catch { case scala.util.control.NonFatal(_) => null }
                if (img == null || img.getWidth < 16 || img.getHeight < 16) None
                else Some((r.media_id, sampleKey, img.getWidth, img.getHeight,
                  Multimodal.ImageOps.whtHash16(
                    Multimodal.ImageOps.lumaGrid(img, 16, 16)),
                  new String(cls, java.nio.charset.StandardCharsets.US_ASCII)))
              case _ => None
            }
          }
      }
    }.toDF("shard_id", "sample_key", "width", "height", "phash", "cls")
  }

  /** Per-partition gzip decompress-and-fingerprint: (media_id, out_len,
    * byte_sum) with the corrupt-media contract (-1, 0) for non-gzip
    * payloads. Only decompressed FEATURES leave the boundary — the
    * compressed encoding is producer-specific, the decompressed stream
    * is the deterministic fact.
    */
  def gunzipStatsRows(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).map { r =>
        val (len, sum) = ArchiveCodec.gunzipStats(r.payload)
        (r.media_id, len, sum)
      }
    }.toDF("media_id", "out_len", "byte_sum")
  }

  /** Per-partition compression-ratio features for the q231 quality gate:
    * (doc_id, raw_len, def_len, def2_len) where def_len = deflate(text)
    * and def2_len = deflate(text ++ text) — the doubled form isolates the
    * REPETITION signal (the second copy should be one long back-reference,
    * so def2 ≈ def_len + ε, nowhere near 2×, for any text shorter than
    * the 32 KiB deflate window). Codec boundary shape: compression runs
    * map-side inside one task; only the three lengths leave the boundary.
    */
  def compressRatioRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (id, b.length.toLong, ArchiveCodec.deflateLen(b),
            ArchiveCodec.deflateLen(b ++ b))
        }
      }.toDF("doc_id", "raw_len", "def_len", "def2_len")
  }

  /** Dictionary-trained zstd features for the q259 storage gate —
    * the small-record problem a 100 TB event/metadata corpus actually
    * has: records of a few hundred bytes compress terribly alone (the
    * window never sees cross-record redundancy), so production stores
    * (RocksDB, Kafka, Parquet v2 pages) train a SHARED DICTIONARY on a
    * sample and compress each record against it. `dict` is the trained
    * dictionary (driver-side artifact, broadcast via the closure — the
    * same artifact discipline as the q217 classifier weights); output
    * per doc: raw/plain-zstd/dict-zstd byte lengths, computed map-side,
    * only lengths leave the task.
    */
  def dictCompressRows(docs: DataFrame, dict: Array[Byte]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val zdict = new com.github.luben.zstd.ZstdDictCompress(dict, 3)
        rows.map { case (id, text) =>
          val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val plain = com.github.luben.zstd.Zstd.compress(b, 3)
          val withDict = com.github.luben.zstd.Zstd.compress(b, zdict)
          (id, b.length.toLong, plain.length.toLong, withDict.length.toLong)
        }
      }.toDF("doc_id", "raw_len", "plain_len", "dict_len")
  }

  /** Train a zstd dictionary from sample records (ZDICT under the JNI).
    * Deterministic for a fixed sample sequence and library version; the
    * gate's verdicts carry wide margins so they never depend on exact
    * dictionary bytes.
    */
  def trainZstdDict(samples: Seq[Array[Byte]], dictSize: Int = 4096): Array[Byte] = {
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      samples.map(_.length).sum + 1024, dictSize)
    samples.foreach(trainer.addSample)
    trainer.trainSamples()
  }

  /** Per-partition magic-dispatched decompress-and-fingerprint over a
    * MIXED-codec corpus: (media_id, codec, out_len, byte_sum). Real
    * corpora mix producers (gzip legacy shards next to zstd re-packs),
    * so the dispatch itself is part of the operator — the codec label
    * is a gated fact, and corrupt payloads keep their sniffed label
    * with the (-1, 0) contract.
    */
  def decompressStatsRows(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.payload != null).map { r =>
        val (codec, len, sum) = ArchiveCodec.decompressStats(r.payload)
        (r.media_id, codec, len, sum)
      }
    }.toDF("media_id", "codec", "out_len", "byte_sum")
  }

  /** Deterministic shard builders (the SyntheticMedia discipline: every
    * field a pure formula of the key, so gates recompute the walk's
    * output relationally without seeing a byte).
    */
  object SyntheticShards {

    /** Member `i` of shard `key`: L = 10 + (7·key + 13·i) mod 90 bytes,
      * byte j = (11·j + 29·i + 31·key) mod 256.
      */
    private[graft] def memberBytes(key: Long, i: Int): Array[Byte] = {
      val len = (10 + (7 * key + 13 * i) % 90).toInt
      Array.tabulate(len)(j => ((11L * j + 29L * i + 31L * key) % 256L).toByte)
    }

    /** ustar shard with 2 + key%3 regular-file members plus one
      * directory member (typeflag '5' — walked over, never emitted) in
      * the middle, so the non-file path is exercised by the gate itself.
      */
    def tarShard(key: Long): Array[Byte] = {
      val n = 2 + (key % 3).toInt
      val bos = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < n) {
        if (i == 1) bos.write(ArchiveCodec.ustarHeader(s"shard$key/sub/", 0, '5'))
        ArchiveCodec.writeTarMember(bos, s"shard$key/doc$i.txt", memberBytes(key, i))
        i += 1
      }
      bos.write(new Array[Byte](1024)) // two terminator blocks
      bos.toByteArray
    }

    /** WebDataset-convention shard: 2 + key%3 SAMPLES, each a
      * (.txt, .json, .bin, .seg.cls) member QUAD sharing the basename
      * `s<i>` — part `c` of sample `i` carries [[memberBytes]](key,
      * 4·i + c), so every per-sample aggregate is a pure formula of the
      * key. The fourth part's MULTI-DOTTED type ("seg.cls") makes the
      * gate exercise the first-dot sample-key rule (a last-dot grouper
      * would split the sample).
      */
    def wdsShard(key: Long): Array[Byte] = {
      val n = 2 + (key % 3).toInt
      val bos = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < n) {
        var c = 0
        while (c < 4) {
          val ext = c match {
            case 0 => "txt"; case 1 => "json"; case 2 => "bin"; case _ => "seg.cls"
          }
          ArchiveCodec.writeTarMember(bos, s"s$i.$ext", memberBytes(key, 4 * i + c))
          c += 1
        }
        i += 1
      }
      bos.write(new Array[Byte](1024))
      bos.toByteArray
    }

    /** Multimodal WebDataset shard: 2 + key%3 samples, each a
      * (s<i>.png, s<i>.cls) pair — the png is a REAL encoded
      * [[Multimodal.ImageOps.synthPng]] of pk = (7·key + 13·i) % 97 (so
      * distinct shards SHARE images: corpus-level dedup is non-trivial),
      * the cls member carries the label "c" + pk%5. Every gated feature
      * downstream is a pure formula of (key, i).
      */
    def wdsImageShard(key: Long): Array[Byte] = {
      val n = 2 + (key % 3).toInt
      ArchiveCodec.tarArchive((0 until n).iterator.flatMap { i =>
        val pk = (7 * key + 13 * i) % 97
        Iterator(
          (s"s$i.png", Multimodal.ImageOps.synthPng(pk)),
          (s"s$i.cls", ("c" + pk % 5).getBytes(
            java.nio.charset.StandardCharsets.US_ASCII)))
      })
    }

    /** DEFLATE zip of the same member-content formula: 2 + key%3 entries
      * named `doc<i>.txt` carrying [[memberBytes]](key, i), plus a
      * directory entry in the middle (walked over, never emitted — the
      * tarShard discipline). Compressed bytes are producer-specific;
      * only decompressed features are gated.
      */
    def zipShard(key: Long): Array[Byte] = {
      val n = 2 + (key % 3).toInt
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bos)
      var i = 0
      while (i < n) {
        if (i == 1) {
          zo.putNextEntry(new java.util.zip.ZipEntry(s"shard$key/"))
          zo.closeEntry()
        }
        zo.putNextEntry(new java.util.zip.ZipEntry(s"doc$i.txt"))
        zo.write(memberBytes(key, i))
        zo.closeEntry()
        i += 1
      }
      zo.close()
      bos.toByteArray
    }

    /** WARC shard with 2 + key%3 records: record i carries
      * [[memberBytes]](key, i) as its payload block, type `request` when
      * (key + i) % 3 == 0 else `response`, target URI
      * `https://host<key>.example.com/p/<i>` — every gated field a pure
      * formula of (key, i), the tarShard discipline.
      */
    def warcShard(key: Long): Array[Byte] = {
      val n = 2 + (key % 3).toInt
      val bos = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < n) {
        WarcCodec.writeRecord(bos,
          if ((key + i) % 3 == 0) "request" else "response",
          s"$key-$i", s"https://host$key.example.com/p/$i",
          memberBytes(key, i))
        i += 1
      }
      bos.toByteArray
    }

    /** gzip arbitrary bytes (JDK GZIPOutputStream) — compressed
      * encodings are producer-specific and never gated.
      */
    def gzipBytes(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b)
      gz.close()
      bos.toByteArray
    }

    /** zstd arbitrary bytes (zstd-jni ZstdOutputStream). */
    def zstdBytes(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zs = new com.github.luben.zstd.ZstdOutputStream(bos)
      zs.write(b)
      zs.close()
      bos.toByteArray
    }

    /** gzip of the member-content formula (member index 0): the
      * decompressed length/byte-sum are the formula's.
      */
    def gzipDoc(key: Long): Array[Byte] = gzipBytes(memberBytes(key, 0))

    /** zstd sibling of [[gzipDoc]] — the other codec of
      * [[ArchiveCodec.decompressStats]]'s dispatch.
      */
    def zstdDoc(key: Long): Array[Byte] = zstdBytes(memberBytes(key, 0))
  }
}
