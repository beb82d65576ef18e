package graft.web

/** From-scratch, zero-dependency DEFLATE (RFC 1951) and gzip (RFC 1952)
  * — the compression layer under every web-archive corpus. Common-Crawl
  * shaped pretraining data ships as `.warc.gz` with ONE gzip member per
  * record (that is what makes the archives randomly accessible), so a
  * 100 TB ingest front door starts exactly here: split at member
  * boundaries, inflate, and hand the bytes to the record parser.
  *
  * The DECODER implements the full bit-level format: stored blocks,
  * fixed-Huffman blocks, dynamic-Huffman blocks (HLIT/HDIST/HCLEN, the
  * code-length meta-alphabet with its 16/17/18 repeat codes), canonical
  * Huffman codes ([[PrefixCode]], RFC 1951 §3.2.2) and LZ77 length/distance
  * back-references with overlapped copy. The ENCODER drives the
  * synthesizable subset the oracles can price exactly — stored blocks
  * and literal-only fixed-Huffman blocks (both are fully conformant
  * streams; for the all-ASCII payloads the harness synthesizes, a
  * fixed-Huffman member's compressed size is exactly `len + 2` bytes
  * and a stored member's `5·⌈len/65535⌉ + len`, which is what lets a
  * second engine predict every member boundary). Back-references are
  * decode-side only, exercised by hand-built streams in the spec — the
  * same decoder-wider-than-encoder discipline as the H.264 layer.
  *
  * Like every codec in [[graft.multimodal.Codecs]], malformed input
  * fails LOUDLY (oversubscribed code, bad stored-block complement,
  * reserved flag bits, CRC/ISIZE mismatch, truncation), so a corrupt
  * archive in a 100 TB lake becomes a quarantined error row, never a
  * silently wrong document.
  *
  * Reference behavior being replaced: the reference pipeline ingests
  * uncompressed HTML over HTTP (scrape_url DAG); this is the "beyond
  * the reference" compressed-archive tier of the same front door.
  */
object Deflate {

  // ------------------------------------------------------------- CRC32
  // Reflected CRC-32 (polynomial 0xEDB88320), the gzip/PNG checksum.
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) {
        c = if ((c & 1) != 0) 0xEDB88320 ^ (c >>> 1) else c >>> 1
        k += 1
      }
      t(n) = c
      n += 1
    }
    t
  }

  /** CRC-32 of a byte range, returned as an unsigned value in a Long. */
  def crc32(bytes: Array[Byte], from: Int, until: Int): Long = {
    var c = 0xFFFFFFFF
    var i = from
    while (i < until) {
      c = crcTable((c ^ bytes(i)) & 0xFF) ^ (c >>> 8)
      i += 1
    }
    (c ^ 0xFFFFFFFF).toLong & 0xFFFFFFFFL
  }

  def crc32(bytes: Array[Byte]): Long = crc32(bytes, 0, bytes.length)

  // RFC 1951 §3.2.5 length/distance tables (symbol 257.. / 0..29).
  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23,
    27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
    3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97,
    129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193,
    12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
    7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)

  private def code(lengths: Array[Int], maxBits: Int = 15): PrefixCode =
    PrefixCode.fromLengths("deflate", lengths, maxBits)

  private val FixedLit: PrefixCode = code(Array.tabulate(288)(i =>
    if (i < 144) 8 else if (i < 256) 9 else if (i < 280) 7 else 8))
  private val FixedDist: PrefixCode = code(Array.fill(32)(5))

  // order in which code-length-code lengths appear (RFC 1951 §3.2.7)
  private val ClOrder =
    Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  /** The inflated payload plus where the deflate stream ended (the
    * first byte of whatever follows — for gzip, the CRC32 trailer).
    * `firstBtype` is the BTYPE of the first block, surfaced so a
    * member census can report which compression mode was on the wire.
    */
  final case class Inflated(data: Array[Byte], endPos: Int, firstBtype: Int)

  /** Inflate a raw DEFLATE stream starting at `start`. Decodes until
    * the final block's end-of-block; bytes past it are untouched.
    */
  def inflate(bytes: Array[Byte], start: Int, end: Int): Inflated = {
    val br = new Bits.LsbReader("deflate", bytes, start, end)
    val out = new OutBuffer("deflate", (end - start) * 3)
    var bfinal = 0
    var firstBtype = -1
    do {
      bfinal = br.bits(1)
      val btype = br.bits(2)
      if (firstBtype < 0) firstBtype = btype
      btype match {
        case 0 => // stored
          br.alignByte()
          val len = br.bits(16)
          val nlen = br.bits(16)
          require((len ^ 0xFFFF) == nlen,
            s"deflate: stored-block NLEN $nlen is not the complement of LEN $len")
          out.ensure(len)
          br.readBytes(out.buf, out.len, len)
          out.len += len
        case 1 | 2 =>
          val (lit, dist) =
            if (btype == 1) (FixedLit, FixedDist)
            else {
              val hlit = br.bits(5) + 257
              val hdist = br.bits(5) + 1
              val hclen = br.bits(4) + 4
              require(hlit <= 286, s"deflate: HLIT $hlit > 286")
              require(hdist <= 30, s"deflate: HDIST $hdist > 30")
              val clLens = new Array[Int](19)
              var i = 0
              while (i < hclen) { clLens(ClOrder(i)) = br.bits(3); i += 1 }
              val clCode = code(clLens, 7)
              val lens = new Array[Int](hlit + hdist)
              var n = 0
              while (n < lens.length) {
                val sym = clCode.decode(br)
                if (sym < 16) { lens(n) = sym; n += 1 }
                else {
                  var (repeat, value) = sym match {
                    case 16 =>
                      require(n > 0, "deflate: repeat code 16 with no previous length")
                      (3 + br.bits(2), lens(n - 1))
                    case 17 => (3 + br.bits(3), 0)
                    case _  => (11 + br.bits(7), 0)
                  }
                  require(n + repeat <= lens.length,
                    "deflate: code-length repeat overruns HLIT+HDIST")
                  while (repeat > 0) { lens(n) = value; n += 1; repeat -= 1 }
                }
              }
              require(lens(256) != 0, "deflate: dynamic block has no end-of-block code")
              (code(java.util.Arrays.copyOfRange(lens, 0, hlit)),
                code(java.util.Arrays.copyOfRange(lens, hlit, hlit + hdist)))
            }
          var sym = lit.decode(br)
          while (sym != 256) {
            if (sym < 256) {
              out.ensure(1)
              out.add(sym.toByte)
            } else {
              require(sym <= 285, s"deflate: invalid length symbol $sym")
              val li = sym - 257
              val len = LenBase(li) + br.bits(LenExtra(li))
              val dsym = dist.decode(br)
              require(dsym <= 29, s"deflate: invalid distance symbol $dsym")
              val d = DistBase(dsym) + br.bits(DistExtra(dsym))
              require(d <= out.len,
                s"deflate: back-reference distance $d beyond ${out.len} produced bytes")
              out.copyBack(d, len)
            }
            sym = lit.decode(br)
          }
        case _ =>
          throw new IllegalArgumentException("deflate: reserved BTYPE 11")
      }
    } while (bfinal == 0)
    Inflated(out.result, br.position, firstBtype)
  }

  /** Adler-32 (RFC 1950 §8) — the zlib stream checksum. */
  def adler32(bytes: Array[Byte]): Long = {
    var a = 1L; var b = 0L
    var i = 0
    while (i < bytes.length) {
      a += bytes(i) & 0xFF
      b += a
      // mod rarely enough to stay cheap, often enough to avoid overflow
      if ((i & 0xFFF) == 0xFFF) { a %= 65521L; b %= 65521L }
      i += 1
    }
    ((b % 65521L) << 16) | (a % 65521L)
  }

  /** RFC 1950 zlib wrapper over [[inflate]]: the 2-byte header
    * (CM = 8, FCHECK divisibility, no preset dictionary), the DEFLATE
    * stream, and the big-endian Adler-32 trailer — VERIFIED, plus a
    * no-trailing-garbage contract. Replaces `java.util.zip.Inflater`
    * in the PNG IDAT path so one proven inflate serves every zlib
    * consumer in the engine.
    */
  def zlibInflate(bytes: Array[Byte]): Array[Byte] = {
    require(bytes.length >= 6, s"zlib: ${bytes.length} bytes is too short")
    val cmf = bytes(0) & 0xFF
    val flg = bytes(1) & 0xFF
    require((cmf & 0x0F) == 8, s"zlib: CM ${cmf & 0x0F} is not deflate")
    require(((cmf << 8) | flg) % 31 == 0, "zlib: FCHECK failure")
    require((flg & 0x20) == 0, "zlib: preset dictionary unsupported")
    val inf = inflate(bytes, 2, bytes.length)
    require(inf.endPos + 4 == bytes.length,
      s"zlib: ${bytes.length - inf.endPos - 4} trailing bytes after Adler-32")
    val stored = ((bytes(inf.endPos) & 0xFFL) << 24) |
      ((bytes(inf.endPos + 1) & 0xFFL) << 16) |
      ((bytes(inf.endPos + 2) & 0xFFL) << 8) |
      (bytes(inf.endPos + 3) & 0xFFL)
    val got = adler32(inf.data)
    require(got == stored,
      f"zlib: Adler-32 mismatch (stored $stored%08x, computed $got%08x)")
    inf.data
  }

  /** RFC 1950 zlib ENCODE over [[deflateStored]]: header `78 01`
    * (CM = 8, CINFO = 7, FLEVEL = 0, no dictionary; 0x7801 is divisible
    * by 31), the stored-block stream, the big-endian Adler-32 —
    * `6 + 5·max(1, ⌈len/65535⌉) + len` bytes on the wire. This is what
    * HTTP's `deflate` content coding actually means (RFC 9110 §8.4.1.2:
    * the zlib container, NOT a bare DEFLATE stream — the classic
    * interop trap this encoder refuses to reproduce).
    */
  def zlibWrap(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    out.write(0x78); out.write(0x01)
    val d = deflateStored(data)
    out.write(d, 0, d.length)
    val a = adler32(data)
    out.write(((a >>> 24) & 0xFF).toInt); out.write(((a >>> 16) & 0xFF).toInt)
    out.write(((a >>> 8) & 0xFF).toInt); out.write((a & 0xFF).toInt)
    out.toByteArray
  }

  /** Stored-block (BTYPE 00) encode: `5·⌈len/65535⌉ + len` bytes on the
    * wire (5 for an empty input — one final block with LEN = 0).
    */
  def deflateStored(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nBlocks = math.max(1, (data.length + 65534) / 65535)
    var b = 0
    while (b < nBlocks) {
      val from = b * 65535
      val len = math.min(65535, data.length - from)
      out.write(if (b == nBlocks - 1) 1 else 0) // BFINAL + BTYPE 00 (byte-aligned)
      out.write(len & 0xFF); out.write(len >>> 8)
      out.write(~len & 0xFF); out.write((~len >>> 8) & 0xFF)
      out.write(data, from, len)
      b += 1
    }
    out.toByteArray
  }

  /** Literal-only fixed-Huffman (BTYPE 01) encode — one block, no
    * back-references (a conformant stream; compression comes from the
    * 8-bit codes on bytes 0–143 only). For an all-ASCII payload the
    * output is exactly `len + 2` bytes: 3 header bits + 8·len literal
    * bits + 7 end-of-block bits, rounded up.
    */
  def deflateFixed(data: Array[Byte]): Array[Byte] = {
    val bw = new Bits.LsbWriter("deflate", data.length + 2)
    bw.bits(1, 1) // BFINAL
    bw.bits(1, 2) // BTYPE 01
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xFF
      if (b < 144) bw.code(0x30 + b, 8)
      else bw.code(0x190 + (b - 144), 9)
      i += 1
    }
    bw.code(0, 7) // end of block (symbol 256)
    bw.result
  }
}

/** RFC 1952 gzip member framing over [[Deflate]]. */
object Gzip {

  /** One parsed member: where it sits in the stream (`offset`,
    * `compLen` — the CDX random-access coordinates), the header
    * metadata, which DEFLATE block type led the payload, and the
    * CRC/ISIZE-verified inflated bytes.
    */
  final case class Member(offset: Int, compLen: Int, fname: Option[String],
      mtime: Long, firstBtype: Int, data: Array[Byte])

  private val Ftext = 1
  private val Fhcrc = 2
  private val Fextra = 4
  private val Fname = 8
  private val Fcomment = 16

  /** Encode one member: 10-byte header (+ zero-terminated FNAME when
    * given), the deflate payload (stored or literal-only fixed
    * Huffman), CRC32 + ISIZE trailer. OS byte 255 ("unknown") and
    * XFL 0, the neutral values.
    */
  def member(data: Array[Byte], fname: Option[String], fixedHuffman: Boolean,
      mtime: Long = 0L): Array[Byte] = {
    require(mtime >= 0 && mtime <= 0xFFFFFFFFL, s"gzip: MTIME $mtime not u32")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1F); out.write(0x8B); out.write(8) // magic + CM=deflate
    out.write(if (fname.isDefined) Fname else 0)
    var t = mtime
    var i = 0
    while (i < 4) { out.write((t & 0xFF).toInt); t >>>= 8; i += 1 }
    out.write(0) // XFL
    out.write(255) // OS unknown
    fname.foreach { n =>
      val b = n.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      require(!b.contains(0.toByte), "gzip: NUL inside FNAME")
      require(new String(b, java.nio.charset.StandardCharsets.ISO_8859_1) == n,
        s"gzip: FNAME '$n' not Latin-1 (RFC 1952 §2.3.1 mandates ISO 8859-1)")
      out.write(b, 0, b.length)
      out.write(0)
    }
    val defl = if (fixedHuffman) Deflate.deflateFixed(data)
               else Deflate.deflateStored(data)
    out.write(defl, 0, defl.length)
    var c = Deflate.crc32(data)
    i = 0
    while (i < 4) { out.write((c & 0xFF).toInt); c >>>= 8; i += 1 }
    var sz = data.length.toLong & 0xFFFFFFFFL
    i = 0
    while (i < 4) { out.write((sz & 0xFF).toInt); sz >>>= 8; i += 1 }
    out.toByteArray
  }

  /** Walk a (possibly multi-member) gzip stream — the `.warc.gz`
    * convention is one member per record. Verifies the magic, CM,
    * that the RESERVED FLG BITS ARE ZERO (RFC 1952 §2.3.1 — the
    * quarantine tier plants exactly this violation), the optional
    * FHCRC header checksum, and the CRC32/ISIZE trailer against the
    * inflated bytes. Trailing garbage after the last member is an
    * error, as is truncation anywhere.
    */
  def members(bytes: Array[Byte]): Vector[Member] = {
    val out = Vector.newBuilder[Member]
    var pos = 0
    require(bytes.length > 0, "gzip: empty input")
    while (pos < bytes.length) {
      val start = pos
      require(pos + 10 <= bytes.length, "gzip: truncated header")
      require((bytes(pos) & 0xFF) == 0x1F && (bytes(pos + 1) & 0xFF) == 0x8B,
        f"gzip: bad magic ${bytes(pos) & 0xFF}%02x${bytes(pos + 1) & 0xFF}%02x at $pos")
      require((bytes(pos + 2) & 0xFF) == 8,
        s"gzip: compression method ${bytes(pos + 2) & 0xFF} is not deflate")
      val flg = bytes(pos + 3) & 0xFF
      require((flg & 0xE0) == 0,
        f"gzip: reserved FLG bits set ($flg%02x) — RFC 1952 §2.3.1 requires zero")
      var mtime = 0L
      var i = 0
      while (i < 4) { mtime |= (bytes(pos + 4 + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 10
      if ((flg & Fextra) != 0) {
        require(pos + 2 <= bytes.length, "gzip: truncated FEXTRA")
        val xlen = (bytes(pos) & 0xFF) | ((bytes(pos + 1) & 0xFF) << 8)
        pos += 2 + xlen
        require(pos <= bytes.length, "gzip: FEXTRA overruns stream")
      }
      var fname: Option[String] = None
      if ((flg & Fname) != 0) {
        val from = pos
        while (pos < bytes.length && bytes(pos) != 0) pos += 1
        require(pos < bytes.length, "gzip: unterminated FNAME")
        fname = Some(new String(bytes, from, pos - from,
          java.nio.charset.StandardCharsets.ISO_8859_1))
        pos += 1
      }
      if ((flg & Fcomment) != 0) {
        while (pos < bytes.length && bytes(pos) != 0) pos += 1
        require(pos < bytes.length, "gzip: unterminated FCOMMENT")
        pos += 1
      }
      if ((flg & Fhcrc) != 0) {
        require(pos + 2 <= bytes.length, "gzip: truncated FHCRC")
        val want = (bytes(pos) & 0xFF) | ((bytes(pos + 1) & 0xFF) << 8)
        val got = (Deflate.crc32(bytes, start, pos) & 0xFFFF).toInt
        require(got == want,
          f"gzip: header CRC16 mismatch (stored $want%04x, computed $got%04x)")
        pos += 2
      }
      val inf = Deflate.inflate(bytes, pos, bytes.length)
      pos = inf.endPos
      require(pos + 8 <= bytes.length, "gzip: truncated CRC32/ISIZE trailer")
      var crc = 0L
      i = 0
      while (i < 4) { crc |= (bytes(pos + i) & 0xFFL) << (8 * i); i += 1 }
      var isize = 0L
      i = 0
      while (i < 4) { isize |= (bytes(pos + 4 + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8
      val got = Deflate.crc32(inf.data)
      require(got == crc,
        f"gzip: CRC32 mismatch (stored $crc%08x, computed $got%08x)")
      require(isize == (inf.data.length.toLong & 0xFFFFFFFFL),
        s"gzip: ISIZE $isize != inflated length ${inf.data.length}")
      out += Member(start, pos - start, fname, mtime, inf.firstBtype, inf.data)
    }
    out.result()
  }
}
