package graft.web

/** Zstandard ENTROPY layer (RFC 8878 §4.1 FSE, §4.2 Huffman) — the
  * piece that was the declared stub through round 14: compressed-block
  * payloads now really decode. Decode side is the general grammar —
  * FSE table descriptions with variable-bit probability coding,
  * predefined/RLE/FSE/Repeat table modes, Huffman tree descriptions in
  * both representations (direct 4-bit weights and FSE-compressed
  * weights with two interleaved states), 1- and 4-stream literals,
  * treeless reuse, sequence decoding with the three-register repeat
  * offset history, and overlap-safe match execution against the whole
  * frame window. Encode side is the oracle-priceable subset the q232
  * tier ships: Huffman-compressed literals (direct weights, 1 or 4
  * streams) plus one RLE-table-mode sequence — enough to put every
  * decode path the tier censuses on the wire with DuckDB-predictable
  * content.
  *
  * All backward bitstreams use the reference overflow semantics: a
  * read past the start pads zeros at the LOW end and flags overflow —
  * the interleaved weight loop's termination condition.
  */
private[graft] object ZstdEntropy {

  // ------------------------------------------------- backward reader

  /** Backward bit reader: bits are consumed from just below the
    * sentinel (the highest set bit of the final byte) downward.
    * `read` returns the `nb` bits below the cursor with the stream's
    * LSB-first order preserved; underflow pads zeros at the low end.
    */
  final class BackReader(bytes: Array[Byte], start: Int, end: Int) {
    require(end > start, "zstd: empty entropy bitstream")
    private var bitPos: Long = {
      val last = bytes(end - 1) & 0xFF
      require(last != 0, "zstd: entropy bitstream missing sentinel bit")
      var hb = 7
      while ((last & (1 << hb)) == 0) hb -= 1
      (end - start).toLong * 8 - (8 - hb)
    }
    def bitsLeft: Long = bitPos
    def overflowed: Boolean = bitPos < 0
    def read(nb: Int): Int = {
      if (nb == 0) return 0
      bitPos -= nb
      var off = bitPos
      var take = nb
      var shift = 0
      if (off < 0) { shift = (-off).toInt; take = nb + off.toInt; off = 0 }
      if (take <= 0) return 0
      var v = 0
      var i = 0
      while (i < take) {
        val bi = off + i
        val bit = (bytes(start + (bi >> 3).toInt) >> (bi & 7).toInt) & 1
        v |= bit << i
        i += 1
      }
      v << shift
    }
  }

  // --------------------------------------------------------- FSE

  /** A built FSE decoding table: per state the emitted symbol, the
    * bits its transition reads, and the transition baseline.
    */
  final class FseTable(val accuracyLog: Int, val symbol: Array[Int],
      val nbBits: Array[Int], val baseline: Array[Int])

  /** Single-state table for the RLE table mode: AL 0, zero-bit
    * transitions, one symbol forever.
    */
  def rleTable(sym: Int): FseTable =
    new FseTable(0, Array(sym), Array(0), Array(0))

  /** Build the decoding table from a normalized distribution
    * (§4.1.1): less-than-one (-1) symbols take single cells from the
    * table top; the rest spread with the (size/2 + size/8 + 3) step;
    * per-symbol state counters assign baselines and bit widths.
    */
  def buildFse(norm: Array[Int], al: Int): FseTable = {
    require(al >= 1 && al <= 12, s"zstd: FSE accuracy log $al out of range")
    val size = 1 << al
    val sym = new Array[Int](size)
    var high = size - 1
    var s = 0
    while (s < norm.length) {
      if (norm(s) == -1) {
        require(high >= 0, "zstd: FSE distribution overfull")
        sym(high) = s; high -= 1
      }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < norm.length) {
      if (norm(s) > 0) {
        var c = 0
        while (c < norm(s)) {
          require(high >= 0, "zstd: FSE distribution overfull")
          sym(pos) = s
          do { pos = (pos + step) & mask } while (pos > high)
          c += 1
        }
      }
      s += 1
    }
    require(pos == 0, "zstd: corrupted FSE distribution (spread open)")
    val nb = new Array[Int](size)
    val base = new Array[Int](size)
    val next = new Array[Int](norm.length)
    s = 0
    while (s < norm.length) {
      next(s) = if (norm(s) == -1) 1 else math.max(norm(s), 0)
      s += 1
    }
    var i = 0
    while (i < size) {
      val sm = sym(i)
      val x = next(sm); next(sm) += 1
      require(x > 0, "zstd: FSE cell for zero-probability symbol")
      val hb = 31 - Integer.numberOfLeadingZeros(x)
      nb(i) = al - hb
      base(i) = (x << nb(i)) - size
      i += 1
    }
    new FseTable(al, sym, nb, base)
  }

  /** Parse an FSE table description (forward LSB-first bitstream):
    * 4-bit accuracy log (+5), then variable-width probabilities with
    * the small-value/large-value threshold scheme and 2-bit
    * zero-repeat flags. Returns (normalized counts, accuracy log,
    * bytes consumed).
    */
  def readFseDescription(bytes: Array[Byte], start: Int, end: Int,
      maxAl: Int, maxSymbol: Int): (Array[Int], Int, Int) = {
    val r = new Bits.LsbReader("zstd", bytes, start, end)
    val al = 5 + r.bits(4)
    require(al <= maxAl, s"zstd: FSE accuracy log $al exceeds max $maxAl")
    var remaining = (1 << al) + 1
    var threshold = 1 << al
    var nbBits = al + 1
    val norm = new Array[Int](maxSymbol + 1)
    var charnum = 0
    while (remaining > 1) {
      require(charnum <= maxSymbol,
        s"zstd: FSE description names symbol > $maxSymbol")
      val max = (threshold << 1) - 1 - remaining
      var count = r.peek(nbBits)
      if ((count & (threshold - 1)) < max) {
        count &= threshold - 1
        r.bits(nbBits - 1)
      } else {
        count &= (threshold << 1) - 1
        if (count >= threshold) count -= max
        r.bits(nbBits)
      }
      count -= 1 // -1 encodes less-than-one
      require(count >= -1 && math.abs(count) <= remaining,
        "zstd: FSE probability exceeds remaining")
      remaining -= math.abs(count)
      norm(charnum) = count
      charnum += 1
      if (count == 0) {
        var rep = 0
        do {
          rep = r.bits(2)
          require(charnum + rep <= maxSymbol + 1,
            s"zstd: FSE zero-repeat past symbol $maxSymbol")
          charnum += rep // cells already zero-initialized
        } while (rep == 3)
      }
      while (remaining > 1 && remaining < threshold) {
        nbBits -= 1; threshold >>= 1
      }
    }
    require(remaining == 1, "zstd: FSE distribution does not close")
    (java.util.Arrays.copyOf(norm, charnum), al, r.position - start)
  }

  /** Decode a 2-state interleaved FSE stream (the Huffman-weight
    * coding, §4.2.1.2): states alternate; when one state's update
    * overflows the stream, the OTHER state flushes its symbol and
    * decoding ends.
    */
  def fseDecodeInterleaved(t: FseTable, br: BackReader,
      maxOut: Int): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var s1 = br.read(t.accuracyLog)
    var s2 = br.read(t.accuracyLog)
    require(!br.overflowed, "zstd: FSE stream shorter than two states")
    var done = false
    while (!done) {
      require(out.length + 2 <= maxOut, "zstd: FSE stream over-long")
      out += t.symbol(s1)
      s1 = t.baseline(s1) + br.read(t.nbBits(s1))
      if (br.overflowed) { out += t.symbol(s2); done = true }
      else {
        out += t.symbol(s2)
        s2 = t.baseline(s2) + br.read(t.nbBits(s2))
        if (br.overflowed) { out += t.symbol(s1); done = true }
      }
    }
    out.toArray
  }

  // ----------------------------------------------------- Huffman

  /** Huffman decode table: direct `maxBits`-wide lookup (canonical
    * prefix code; low-weight symbols occupy the low indices).
    */
  final class HuffTable(val maxBits: Int, val symbol: Array[Int],
      val nbBits: Array[Int])

  /** Complete an explicit weight list with the implicit last weight
    * (§4.2.1.3): the power-of-two completion is a hard contract.
    * Returns (full weights, maxBits).
    */
  def completeWeights(explicit: Array[Int]): (Array[Int], Int) = {
    var sum = 0L
    explicit.foreach { w =>
      require(w >= 0 && w <= 11, s"zstd: Huffman weight $w out of range")
      if (w > 0) sum += 1L << (w - 1)
    }
    require(sum > 0, "zstd: Huffman weights all zero")
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(sum)
    require(maxBits <= 11, s"zstd: Huffman depth $maxBits exceeds 11")
    val left = (1L << maxBits) - sum
    require(left > 0 && (left & (left - 1)) == 0,
      "zstd: Huffman weights do not complete to a power of two")
    val lastW = 64 - java.lang.Long.numberOfLeadingZeros(left)
    (explicit :+ lastW.toInt, maxBits.toInt)
  }

  /** Build the lookup table from complete weights: symbols sorted by
    * weight then natural order; a weight-w symbol spans
    * 2^(w-1) << (maxBits - w + 1 - ... ) — concretely 2^(maxBits-b)
    * consecutive entries at its rank offset, b = maxBits + 1 - w.
    */
  def buildHuff(weights: Array[Int], maxBits: Int): HuffTable = {
    val size = 1 << maxBits
    val sym = new Array[Int](size)
    val nb = new Array[Int](size)
    val rankCount = new Array[Int](maxBits + 2)
    var nonZero = 0
    weights.foreach { w =>
      if (w > 0) { rankCount(maxBits + 1 - w) += 1; nonZero += 1 }
    }
    require(nonZero >= 2, "zstd: Huffman code needs >= 2 live symbols")
    val rankIdx = new Array[Int](maxBits + 2)
    rankIdx(maxBits) = 0
    var b = maxBits
    while (b >= 1) {
      rankIdx(b - 1) = rankIdx(b) + rankCount(b) * (1 << (maxBits - b))
      b -= 1
    }
    require(rankIdx(0) == size, "zstd: Huffman weights do not fill table")
    var s = 0
    var filled = 0
    while (s < weights.length) {
      val w = weights(s)
      if (w > 0) {
        val bits = maxBits + 1 - w
        val code = rankIdx(bits)
        val len = 1 << (maxBits - bits)
        var i = 0
        while (i < len) { sym(code + i) = s; nb(code + i) = bits; i += 1 }
        rankIdx(bits) += len
        filled += len
      }
      s += 1
    }
    require(filled == size, "zstd: Huffman table underfilled")
    new HuffTable(maxBits, sym, nb)
  }

  /** Parse a Huffman tree description at `start`: headerByte < 128 →
    * FSE-compressed weights (that many bytes), else direct 4-bit
    * weights for headerByte - 127 - 1 symbols plus the implicit last.
    * Returns (table, bytes consumed).
    */
  def readHuffmanDescription(bytes: Array[Byte], start: Int,
      end: Int): (HuffTable, Int) = {
    require(start < end, "zstd: truncated Huffman description")
    val h = bytes(start) & 0xFF
    if (h < 128) {
      require(start + 1 + h <= end, "zstd: truncated FSE weight stream")
      val (norm, al, descBytes) =
        readFseDescription(bytes, start + 1, start + 1 + h, maxAl = 6,
          maxSymbol = 255)
      val t = buildFse(norm, al)
      require(descBytes < h, "zstd: FSE weight stream has no payload")
      val br = new BackReader(bytes, start + 1 + descBytes, start + 1 + h)
      val weights = fseDecodeInterleaved(t, br, maxOut = 255)
      val (full, maxBits) = completeWeights(weights)
      (buildHuff(full, maxBits), 1 + h)
    } else {
      // headerByte - 127 counts the EXPLICIT weights; the implicit
      // last symbol is on top of that (reference HUF_readStats)
      val nExplicit = h - 127
      require(nExplicit >= 1, "zstd: Huffman description with < 2 symbols")
      val hdrBytes = (nExplicit + 1) / 2
      require(start + 1 + hdrBytes <= end,
        "zstd: truncated direct Huffman weights")
      val explicit = new Array[Int](nExplicit)
      var i = 0
      while (i < nExplicit) {
        val by = bytes(start + 1 + (i >> 1)) & 0xFF
        explicit(i) = if ((i & 1) == 0) by >> 4 else by & 0xF
        i += 1
      }
      val (full, maxBits) = completeWeights(explicit)
      (buildHuff(full, maxBits), 1 + hdrBytes)
    }
  }

  /** Decode exactly `count` literals from one backward Huffman
    * stream: rolling-window state, exact-consumption contract (the
    * final cursor must sit at -maxBits — the initial fill).
    */
  def huffDecodeStream(t: HuffTable, bytes: Array[Byte], start: Int,
      end: Int, count: Int, out: Array[Byte], outOff: Int): Unit = {
    val br = new BackReader(bytes, start, end)
    var state = br.read(t.maxBits)
    require(!br.overflowed, "zstd: Huffman stream shorter than one state")
    val mask = (1 << t.maxBits) - 1
    var i = 0
    while (i < count) {
      out(outOff + i) = t.symbol(state).toByte
      val b = t.nbBits(state)
      state = ((state << b) | br.read(b)) & mask
      i += 1
    }
    require(br.bitsLeft == -t.maxBits.toLong,
      s"zstd: Huffman stream not exactly consumed (${br.bitsLeft} vs " +
        s"${-t.maxBits} expected)")
  }

  // ------------------------------------------------ literals section

  /** Decoded literals plus the Huffman table in effect after this
    * section (for Treeless reuse) and the bytes consumed.
    */
  final case class Literals(bytes: Array[Byte], huff: Option[HuffTable],
      consumed: Int, litType: Int)

  private val MaxBlockContent = 1 << 17 // 128 KB, the spec block cap

  def decodeLiterals(bytes: Array[Byte], start: Int, blockEnd: Int,
      prevHuff: Option[HuffTable]): Literals = {
    require(start < blockEnd, "zstd: empty compressed block")
    val b0 = bytes(start) & 0xFF
    val litType = b0 & 3
    val sizeFormat = (b0 >> 2) & 3
    def u(pos: Int): Long = {
      require(pos < blockEnd, "zstd: truncated literals header")
      bytes(pos) & 0xFFL
    }
    litType match {
      case 0 | 1 => // Raw | RLE
        val (regen, hdr) = sizeFormat match {
          case 0 | 2 => ((b0 >> 3).toLong, 1)
          case 1 => (((u(start) | (u(start + 1) << 8)) >> 4), 2)
          case _ =>
            (((u(start) | (u(start + 1) << 8) | (u(start + 2) << 16)) >> 4), 3)
        }
        require(regen <= MaxBlockContent,
          s"zstd: literals regenerated size $regen exceeds block cap")
        val n = regen.toInt
        if (litType == 0) {
          require(start + hdr + n <= blockEnd,
            "zstd: raw literals over-run block")
          Literals(java.util.Arrays.copyOfRange(bytes, start + hdr,
            start + hdr + n), prevHuff, hdr + n, litType)
        } else {
          require(start + hdr < blockEnd, "zstd: truncated RLE literal")
          val v = bytes(start + hdr)
          val arr = new Array[Byte](n)
          java.util.Arrays.fill(arr, v)
          Literals(arr, prevHuff, hdr + 1, litType)
        }
      case _ => // Compressed | Treeless
        val (regen, comp, hdr, fourStreams) = sizeFormat match {
          case 0 | 1 =>
            val v = u(start) | (u(start + 1) << 8) | (u(start + 2) << 16)
            (((v >> 4) & 0x3FF).toInt, ((v >> 14) & 0x3FF).toInt, 3,
              sizeFormat == 1)
          case 2 =>
            val v = u(start) | (u(start + 1) << 8) | (u(start + 2) << 16) |
              (u(start + 3) << 24)
            (((v >> 4) & 0x3FFF).toInt, ((v >> 18) & 0x3FFF).toInt, 4, true)
          case _ =>
            val v = u(start) | (u(start + 1) << 8) | (u(start + 2) << 16) |
              (u(start + 3) << 24) | (u(start + 4) << 32)
            (((v >> 4) & 0x3FFFF).toInt, ((v >> 22) & 0x3FFFF).toInt, 5, true)
        }
        require(regen <= MaxBlockContent,
          s"zstd: literals regenerated size $regen exceeds block cap")
        require(start + hdr + comp <= blockEnd,
          "zstd: compressed literals over-run block")
        val (huff, treeBytes) =
          if (litType == 2) readHuffmanDescription(bytes, start + hdr,
            start + hdr + comp)
          else (prevHuff.getOrElse(throw new IllegalArgumentException(
            "zstd: treeless literals with no previous Huffman table")), 0)
        val streamsStart = start + hdr + treeBytes
        val streamsLen = comp - treeBytes
        require(streamsLen > 0, "zstd: literals have no stream bytes")
        val out = new Array[Byte](regen)
        if (!fourStreams) {
          huffDecodeStream(huff, bytes, streamsStart,
            streamsStart + streamsLen, regen, out, 0)
        } else {
          require(streamsLen > 6, "zstd: 4-stream literals need jump table")
          def le16(p: Int): Int =
            (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
          val s1 = le16(streamsStart)
          val s2 = le16(streamsStart + 2)
          val s3 = le16(streamsStart + 4)
          val s4 = streamsLen - 6 - s1 - s2 - s3
          require(s4 > 0, "zstd: jump table over-runs stream bytes")
          val per = (regen + 3) / 4
          val last = regen - 3 * per
          require(last >= 0, "zstd: 4-stream split with short regen")
          var p = streamsStart + 6
          huffDecodeStream(huff, bytes, p, p + s1, per, out, 0); p += s1
          huffDecodeStream(huff, bytes, p, p + s2, per, out, per); p += s2
          huffDecodeStream(huff, bytes, p, p + s3, per, out, 2 * per); p += s3
          huffDecodeStream(huff, bytes, p, p + s4, last, out, 3 * per)
        }
        Literals(out, Some(huff), hdr + comp, litType)
    }
  }

  // ------------------------------------------------ sequence tables

  // Predefined distributions and code value tables (RFC 8878 §3.1.1.3.2.1.1)
  private val LlDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1,
    1, 2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MlDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OfDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)

  private lazy val LlPredef = buildFse(LlDefault, 6)
  private lazy val MlPredef = buildFse(MlDefault, 6)
  private lazy val OfPredef = buildFse(OfDefault, 5)

  private[graft] val LlBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
    13, 14, 15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536)
  private[graft] val LlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private[graft] val MlBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private[graft] val MlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2,
    3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** The per-frame decoding context that persists across blocks:
    * Huffman table (Treeless), the three FSE tables (Repeat mode),
    * and the repeat-offset registers (init 1, 4, 8 per frame).
    */
  final class FrameCtx {
    var huff: Option[HuffTable] = None
    /** sequence tables decoded in FSE_Compressed mode (§4.1.1) — the
      * census counter that proves the general-grammar path ran */
    var fseTables: Int = 0
    var llTable: Option[FseTable] = None
    var ofTable: Option[FseTable] = None
    var mlTable: Option[FseTable] = None
    var rep1: Long = 1L
    var rep2: Long = 4L
    var rep3: Long = 8L
  }

  /** Decode one compressed block (§3.1.1.3): literals section, then
    * the sequences section (count, table modes, the backward
    * interleaved-state bitstream), then sequence execution into
    * `out`. Mutates `ctx` (tables, repeat offsets).
    */
  def decodeCompressedBlock(bytes: Array[Byte], start: Int, size: Int,
      ctx: FrameCtx, out: OutBuffer): Unit = {
    val blockEnd = start + size
    require(blockEnd <= bytes.length, "zstd: compressed block over-runs")
    val blockStartLen = out.len
    val lits = decodeLiterals(bytes, start, blockEnd, ctx.huff)
    ctx.huff = lits.huff
    var pos = start + lits.consumed
    // ---- sequence count
    require(pos < blockEnd, "zstd: missing sequence count")
    val b0 = bytes(pos) & 0xFF
    var nbSeq = 0
    if (b0 == 0) { pos += 1 }
    else if (b0 < 128) { nbSeq = b0; pos += 1 }
    else if (b0 < 255) {
      require(pos + 1 < blockEnd, "zstd: truncated sequence count")
      nbSeq = ((b0 - 128) << 8) | (bytes(pos + 1) & 0xFF); pos += 2
    } else {
      require(pos + 2 < blockEnd, "zstd: truncated sequence count")
      nbSeq = (bytes(pos + 1) & 0xFF) | ((bytes(pos + 2) & 0xFF) << 8)
      nbSeq += 0x7F00; pos += 3
    }
    if (nbSeq == 0) {
      require(pos == blockEnd,
        "zstd: bytes after a sequence-free block body")
      require(lits.bytes.length <= MaxBlockContent, "zstd: block too large")
      out.write(lits.bytes, 0, lits.bytes.length)
      return
    }
    // ---- table modes
    require(pos < blockEnd, "zstd: missing compression modes byte")
    val modes = bytes(pos) & 0xFF
    pos += 1
    require((modes & 3) == 0, "zstd: reserved compression-mode bits set")
    def pickTable(mode: Int, predef: FseTable, prev: Option[FseTable],
        maxAl: Int, maxSym: Int): FseTable = mode match {
      case 0 => predef
      case 1 =>
        require(pos < blockEnd, "zstd: truncated RLE table byte")
        val s = bytes(pos) & 0xFF; pos += 1
        require(s <= maxSym, s"zstd: RLE symbol $s exceeds $maxSym")
        rleTable(s)
      case 2 =>
        val (norm, al, used) =
          readFseDescription(bytes, pos, blockEnd, maxAl, maxSym)
        pos += used
        ctx.fseTables += 1
        buildFse(norm, al)
      case _ =>
        prev.getOrElse(throw new IllegalArgumentException(
          "zstd: Repeat table mode with no previous table"))
    }
    val llT = pickTable((modes >> 6) & 3, LlPredef, ctx.llTable, 9, 35)
    val ofT = pickTable((modes >> 4) & 3, OfPredef, ctx.ofTable, 8, 31)
    val mlT = pickTable((modes >> 2) & 3, MlPredef, ctx.mlTable, 9, 52)
    ctx.llTable = Some(llT); ctx.ofTable = Some(ofT); ctx.mlTable = Some(mlT)
    // ---- backward bitstream: init states LL, OF, ML
    require(pos < blockEnd, "zstd: missing sequence bitstream")
    val br = new BackReader(bytes, pos, blockEnd)
    var llS = br.read(llT.accuracyLog)
    var ofS = br.read(ofT.accuracyLog)
    var mlS = br.read(mlT.accuracyLog)
    require(!br.overflowed, "zstd: sequence bitstream shorter than states")
    var litPos = 0
    var i = 0
    while (i < nbSeq) {
      val ofCode = ofT.symbol(ofS)
      val llCode = llT.symbol(llS)
      val mlCode = mlT.symbol(mlS)
      require(ofCode <= 31, s"zstd: offset code $ofCode out of range")
      require(llCode <= 35, s"zstd: literal-length code $llCode out of range")
      require(mlCode <= 52, s"zstd: match-length code $mlCode out of range")
      // extra-bit read order: offset, match length, literals length
      val ofValue = (1L << ofCode) + (br.read(ofCode).toLong & 0xFFFFFFFFL)
      val ml = MlBase(mlCode) + br.read(MlBits(mlCode))
      val ll = LlBase(llCode) + br.read(LlBits(llCode))
      require(!br.overflowed, "zstd: sequence bitstream exhausted early")
      if (i != nbSeq - 1) { // last sequence: no state update
        llS = llT.baseline(llS) + br.read(llT.nbBits(llS))
        mlS = mlT.baseline(mlS) + br.read(mlT.nbBits(mlS))
        ofS = ofT.baseline(ofS) + br.read(ofT.nbBits(ofS))
        require(!br.overflowed, "zstd: sequence bitstream exhausted early")
      }
      // ---- execute: literals run, then the match at the resolved offset
      require(litPos + ll <= lits.bytes.length,
        "zstd: sequence literal run over-runs literal buffer")
      out.write(lits.bytes, litPos, ll)
      litPos += ll
      val offset: Long =
        if (ofValue > 3) {
          val o = ofValue - 3
          ctx.rep3 = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = o
          o
        } else {
          val idx = if (ll == 0) ofValue + 1 else ofValue
          idx match {
            case 1 => ctx.rep1
            case 2 =>
              val o = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = o; o
            case 3 =>
              val o = ctx.rep3
              ctx.rep3 = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = o; o
            case _ =>
              val o = ctx.rep1 - 1
              require(o >= 1, "zstd: repeat-offset underflow (rep1 - 1 = 0)")
              ctx.rep3 = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = o; o
          }
        }
      require(offset >= 1 && offset <= out.len,
        s"zstd: match offset $offset beyond ${out.len}-byte window")
      out.copyBack(offset.toInt, ml)
      require(out.len - blockStartLen <= MaxBlockContent,
        "zstd: block regenerates more than the 128 KB cap")
      i += 1
    }
    require(br.bitsLeft == 0,
      s"zstd: sequence bitstream not exactly consumed (${br.bitsLeft} left)")
    // trailing literals after the last sequence
    out.write(lits.bytes, litPos, lits.bytes.length - litPos)
    require(out.len - blockStartLen <= MaxBlockContent,
      "zstd: block regenerates more than the 128 KB cap")
  }

  // ===================================================== encoder side

  /** Top-down bit assembler for BACKWARD streams: `push` appends a
    * value MSB-first to the sequence a backward reader consumes
    * top-down; `toBytes` lays the sequence below the sentinel bit.
    */
  final class BackWriter {
    private val bits = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def push(v: Long, nb: Int): Unit = {
      var k = nb - 1
      while (k >= 0) { bits += ((v >> k) & 1L) == 1L; k -= 1 }
    }
    def toBytes: Array[Byte] = {
      val t = bits.length
      val arr = new Array[Byte]((t + 1 + 7) / 8)
      arr(t >> 3) = (arr(t >> 3) | (1 << (t & 7))).toByte // sentinel
      var j = 0
      while (j < t) {
        if (bits(j)) {
          val i = t - 1 - j
          arr(i >> 3) = (arr(i >> 3) | (1 << (i & 7))).toByte
        }
        j += 1
      }
      arr
    }
  }

  /** Canonical weight assignment for the encoder: all live symbols
    * start at weight 1; the most frequent `nextPow2(k) - k` symbols
    * are raised to weight 2 — a valid complete code (Σ 2^(w-1) =
    * 2^maxBits) whose exact shape the oracle never needs to price
    * (the census prices CONTENT, not compressed size).
    */
  def encoderWeights(data: Array[Byte]): (Array[Int], Int) = {
    val freq = new Array[Int](256)
    data.foreach(b => freq(b & 0xFF) += 1)
    val present = (0 until 256).filter(freq(_) > 0)
    val maxSym = present.last
    require(maxSym <= 127,
      "zstd encoder: direct weights need symbols < 128 (ASCII contract)")
    val k = present.size
    require(k >= 2, "zstd encoder: Huffman needs >= 2 distinct symbols")
    var m = Integer.highestOneBit(k)
    if (m < k) m <<= 1
    val nUp = m - k
    val byFreq = present.sortBy(s => (-freq(s), s))
    val up = byFreq.take(nUp).toSet
    val weights = new Array[Int](maxSym + 1)
    present.foreach(s => weights(s) = if (up(s)) 2 else 1)
    (weights, 31 - Integer.numberOfLeadingZeros(m)) // maxBits = log2(m)
  }

  /** Huffman-encode `data` as ONE backward stream using the canonical
    * table for `weights`/`maxBits`.
    */
  def huffEncodeStream(data: Array[Byte], weights: Array[Int],
      maxBits: Int): Array[Byte] = {
    val t = buildHuff(weights, maxBits)
    // derive each symbol's (code, bits) from the table layout
    val codeOf = new Array[Int](weights.length)
    val bitsOf = new Array[Int](weights.length)
    var i = 0
    while (i < (1 << maxBits)) {
      val s = t.symbol(i)
      if (t.nbBits(i) > 0 && bitsOf(s) == 0) {
        bitsOf(s) = t.nbBits(i)
        codeOf(s) = i >> (maxBits - t.nbBits(i))
      }
      i += 1
    }
    val bw = new BackWriter
    data.foreach { b =>
      val s = b & 0xFF
      require(bitsOf(s) > 0, s"zstd encoder: symbol $s not in code")
      bw.push(codeOf(s).toLong, bitsOf(s))
    }
    bw.toBytes
  }

  /** The direct Huffman tree description for `weights` (symbols
    * 0..maxSym, last weight implicit).
    */
  def directWeightDescription(weights: Array[Int]): Array[Byte] = {
    val n = weights.length // symbols incl. implicit last
    require(n >= 2 && n <= 128, s"zstd encoder: $n symbols not encodable")
    val explicit = n - 1 // headerByte counts the EXPLICIT weights only
    val out = new Array[Byte](1 + (explicit + 1) / 2)
    out(0) = (127 + explicit).toByte
    var i = 0
    while (i < explicit) {
      val w = weights(i)
      require(w >= 0 && w <= 15, "zstd encoder: weight nibble overflow")
      if ((i & 1) == 0) out(1 + (i >> 1)) = (w << 4).toByte
      else out(1 + (i >> 1)) = (out(1 + (i >> 1)) | w).toByte
      i += 1
    }
    out
  }

  /** Find the literals-length code for an exact value (the encoder's
    * one lookup; baselines are the RFC table).
    */
  def llCodeFor(n: Int): Int = {
    require(n >= 0, "negative literal length")
    var c = LlBase.length - 1
    while (LlBase(c) > n) c -= 1
    require(n - LlBase(c) < (1 << LlBits(c)), s"no LL code fits $n")
    c
  }

  /** Refuses, before any encoding work, a block whose regenerated content
    * (`payload` literals plus `matchBytes` written by its sequences) would
    * pass the spec's 128 KiB block cap, which the decoder enforces.
    */
  private def requireBlockCap(payload: Int, matchBytes: Int): Unit =
    require(payload.toLong + matchBytes <= MaxBlockContent,
      s"zstd encoder: payload of $payload bytes plus $matchBytes match bytes " +
        s"exceeds the $MaxBlockContent-byte block cap")

  /** Encode the literals section (compressed block flavor) for
    * `data`: Huffman type 2 when ≥ 2 distinct symbols (single stream
    * up to 1023 literals, 4-stream with jump table beyond), RLE
    * type 1 for a single repeated symbol, Raw type 0 when empty.
    * Huffman sizes use the 14-bit header (sizeFormat 2) up to 16383
    * literals and the 18-bit one (sizeFormat 3) above, up to the block
    * cap.
    */
  def encodeLiteralsSection(data: Array[Byte]): Array[Byte] = {
    requireBlockCap(data.length, 0)
    val out = new java.io.ByteArrayOutputStream()
    val distinct = data.map(_ & 0xFF).distinct.length
    if (data.isEmpty) {
      out.write(0x00) // Raw, 1-byte header, regen 0
    } else if (distinct == 1) {
      val n = data.length
      if (n <= 31) out.write(0x01 | (n << 3)) // 1-byte header
      else if (n <= 4095) { // 2-byte, sizeFormat 1
        out.write(0x05 | ((n & 0xF) << 4)); out.write(n >> 4)
      } else {
        out.write(0x0D | ((n & 0xF) << 4)) // 3-byte, sizeFormat 3
        out.write((n >> 4) & 0xFF); out.write(n >> 12)
      }
      out.write(data(0) & 0xFF)
    } else {
      val (weights, maxBits) = encoderWeights(data)
      val desc = directWeightDescription(weights)
      val regen = data.length
      if (regen <= 1023) { // single stream, 3-byte header, sizeFormat 0
        val stream = huffEncodeStream(data, weights, maxBits)
        val comp = desc.length + stream.length
        require(comp <= 1023, "single-stream literals over 10-bit size")
        val v = 0x02L | (regen.toLong << 4) | (comp.toLong << 14)
        out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
        out.write(((v >> 16) & 0xFF).toInt)
        out.write(desc, 0, desc.length)
        out.write(stream, 0, stream.length)
      } else { // 4 streams with a jump table
        val per = (regen + 3) / 4
        val parts = Array(
          java.util.Arrays.copyOfRange(data, 0, per),
          java.util.Arrays.copyOfRange(data, per, 2 * per),
          java.util.Arrays.copyOfRange(data, 2 * per, 3 * per),
          java.util.Arrays.copyOfRange(data, 3 * per, regen))
        val streams = parts.map(huffEncodeStream(_, weights, maxBits))
        val comp = desc.length + 6 + streams.map(_.length).sum
        // sizeFormat 2: 14-bit sizes in a 4-byte header, to 16383
        // literals; sizeFormat 3: 18-bit sizes in 5 bytes, above
        val (sizeFormat, sizeBits) = if (regen <= 16383) (2, 14) else (3, 18)
        require(comp < (1 << sizeBits), s"4-stream literals over $sizeBits-bit comp size")
        val v = 0x02L | (sizeFormat << 2) | (regen.toLong << 4) |
          (comp.toLong << (4 + sizeBits))
        (0 until sizeFormat + 2).foreach(k => out.write(((v >> (8 * k)) & 0xFF).toInt))
        out.write(desc, 0, desc.length)
        var j = 0
        while (j < 3) {
          out.write(streams(j).length & 0xFF)
          out.write(streams(j).length >> 8)
          j += 1
        }
        streams.foreach(s => out.write(s, 0, s.length))
      }
    }
    out.toByteArray
  }

  /** The FSE table DESCRIPTION encoder (§4.1.1) — the exact inverse of
    * [[readFseDescription]]: 4-bit accuracy log, then per symbol the
    * probability + 1 in the dynamic width (the small form saves a bit
    * when the value fits under `max`), 2-bit zero-run repeats after
    * each zero probability. Round-tripped against the reader in
    * WebArchiveSpec.
    */
  def writeFseDescription(norm: Array[Int], al: Int): Array[Byte] = {
    val w = new Bits.LsbWriter("zstd")
    w.bits(al - 5, 4)
    var remaining = (1 << al) + 1
    var threshold = 1 << al
    var nbBits = al + 1
    var i = 0
    while (remaining > 1) {
      require(i < norm.length, "zstd encoder: distribution does not close")
      val p = norm(i)
      require(p >= -1 && math.abs(p) <= remaining,
        s"zstd encoder: probability $p exceeds remaining $remaining")
      val max = (threshold << 1) - 1 - remaining
      var count = p + 1
      val small = count < max
      if (count >= threshold) count += max
      w.bits(count, if (small) nbBits - 1 else nbBits)
      remaining -= math.abs(p)
      i += 1
      if (p == 0) {
        // zero-run repeats: 2-bit groups, 3 = continue
        var zeros = 0
        while (i + zeros < norm.length && norm(i + zeros) == 0) zeros += 1
        var left = zeros
        var more = true
        while (more) {
          val g = math.min(3, left)
          w.bits(g, 2)
          left -= g
          more = g == 3
        }
        i += zeros
      }
      while (remaining > 1 && remaining < threshold) {
        nbBits -= 1; threshold >>= 1
      }
    }
    w.result
  }

  /** The FSE ENCODE transition: the unique state of `sym` whose update
    * range covers `next` (the ranges of a symbol's states partition
    * the table — the ANS invariant). Returns (state, extraBits,
    * nbBits).
    */
  def fseEncodeFind(t: FseTable, sym: Int, next: Int): (Int, Int, Int) = {
    var i = 0
    while (i < t.symbol.length) {
      if (t.symbol(i) == sym && next >= t.baseline(i) &&
          next < t.baseline(i) + (1 << t.nbBits(i)))
        return (i, next - t.baseline(i), t.nbBits(i))
      i += 1
    }
    throw new IllegalArgumentException(
      s"zstd encoder: no state of symbol $sym covers next state $next")
  }

  /** Any state emitting `sym` (the free choice for the LAST sequence,
    * which the decoder never updates past).
    */
  def fseFirstState(t: FseTable, sym: Int): Int = {
    var i = 0
    while (i < t.symbol.length) {
      if (t.symbol(i) == sym) return i
      i += 1
    }
    throw new IllegalArgumentException(
      s"zstd encoder: symbol $sym absent from table")
  }

  /** Normalized distribution over the used codes: each used code gets
    * probability 1, the FIRST used code absorbs the remainder to
    * 2^al — always a valid, spreadable table.
    */
  def normFor(used: Seq[Int], maxSym: Int, al: Int): Array[Int] = {
    val distinct = used.distinct.sorted
    require(distinct.nonEmpty && distinct.last <= maxSym,
      s"zstd encoder: codes $distinct out of 0..$maxSym")
    val norm = new Array[Int](distinct.last + 1)
    distinct.foreach(c => norm(c) = 1)
    norm(distinct.head) += (1 << al) - distinct.size
    norm
  }

  /** Balanced literal-chunk boundaries for the FSE-mode block: the
    * first n mod nSeq chunks take one extra byte — never an empty
    * chunk for n ≥ nSeq (and for nSeq = 2 the first chunk is exactly
    * ⌈n/2⌉, the boundary the q232 oracle prices).
    */
  def fseChunkEnds(n: Int, nSeq: Int): Array[Int] = {
    val per = n / nSeq
    val rem = n % nSeq
    val ends = new Array[Int](nSeq)
    var acc = 0
    var i = 0
    while (i < nSeq) {
      acc += per + (if (i < rem) 1 else 0)
      ends(i) = acc
      i += 1
    }
    ends
  }

  /** One COMPRESSED block whose THREE sequence tables ship in
    * FSE_Compressed mode (§4.1.1 descriptions + real interleaved
    * state chains) — the decoder's general-grammar path, now on the
    * engine's own wire. `data` splits into `nSeq` literal chunks;
    * each sequence emits its chunk then `padLen` copies of the bytes
    * just written via repeat-offset register 1. Regenerated content =
    * chunk0 ++ last(chunk0)·pad ++ chunk1 ++ last·pad ++ … with the
    * repeat byte always the chunk's own final byte.
    */
  def encodeCompressedBlockFse(data: Array[Byte], nSeq: Int,
      padLen: Int): Array[Byte] = {
    require(nSeq >= 1 && nSeq < 128, s"zstd encoder: $nSeq sequences")
    require(data.length >= nSeq,
      "zstd encoder: need at least one literal per sequence")
    require(padLen >= 3, s"zstd encoder: match length $padLen below minimum")
    requireBlockCap(data.length, nSeq * padLen)
    val out = new java.io.ByteArrayOutputStream()
    val lits = encodeLiteralsSection(data)
    out.write(lits, 0, lits.length)
    val ends = fseChunkEnds(data.length, nSeq)
    val lls = (0 until nSeq).map(i =>
      ends(i) - (if (i == 0) 0 else ends(i - 1)))
    require(lls.forall(_ >= 1), "zstd encoder: empty literal chunk")
    val llCodes = lls.map(llCodeFor)
    val mlCode = {
      var c = MlBase.length - 1
      while (MlBase(c) > padLen) c -= 1
      require(padLen - MlBase(c) < (1 << MlBits(c)), s"no ML code for $padLen")
      c
    }
    val mlCodes = Seq.fill(nSeq)(mlCode)
    val ofCodes = Seq.fill(nSeq)(0)
    // custom tables (accuracy logs below the per-stream maxima)
    val llT = buildFse(normFor(llCodes, 35, 6), 6)
    val mlT = buildFse(normFor(mlCodes, 52, 6), 6)
    val ofT = buildFse(normFor(ofCodes, 31, 5), 5)
    out.write(nSeq) // < 128: 1-byte count
    out.write(0xA8) // LL/OF/ML all FSE_Compressed (10 10 10 00)
    val llD = writeFseDescription(normFor(llCodes, 35, 6), 6)
    val ofD = writeFseDescription(normFor(ofCodes, 31, 5), 5)
    val mlD = writeFseDescription(normFor(mlCodes, 52, 6), 6)
    out.write(llD, 0, llD.length)
    out.write(ofD, 0, ofD.length)
    out.write(mlD, 0, mlD.length)
    // backward state chains (encoded back-to-front, emitted in the
    // decoder's read order)
    def chain(t: FseTable, codes: Seq[Int]): (Int, Vector[(Int, Int)]) = {
      var next = fseFirstState(t, codes.last)
      val updates = new Array[(Int, Int)](codes.length - 1)
      var i = codes.length - 2
      while (i >= 0) {
        val (st, v, nb) = fseEncodeFind(t, codes(i), next)
        updates(i) = (v, nb)
        next = st
        i -= 1
      }
      (next, updates.toVector)
    }
    val (llS0, llUp) = chain(llT, llCodes)
    val (ofS0, ofUp) = chain(ofT, ofCodes)
    val (mlS0, mlUp) = chain(mlT, mlCodes)
    val bw = new BackWriter
    bw.push(llS0.toLong, llT.accuracyLog)
    bw.push(ofS0.toLong, ofT.accuracyLog)
    bw.push(mlS0.toLong, mlT.accuracyLog)
    var i = 0
    while (i < nSeq) {
      // extras: offset (code 0 → 0 bits), ML, LL
      bw.push((padLen - MlBase(mlCode)).toLong, MlBits(mlCode))
      bw.push((lls(i) - LlBase(llCodes(i))).toLong, LlBits(llCodes(i)))
      if (i != nSeq - 1) {
        bw.push(llUp(i)._1.toLong, llUp(i)._2)
        bw.push(mlUp(i)._1.toLong, mlUp(i)._2)
        bw.push(ofUp(i)._1.toLong, ofUp(i)._2)
      }
      i += 1
    }
    val stream = bw.toBytes
    out.write(stream, 0, stream.length)
    out.toByteArray
  }

  /** One COMPRESSED block: the payload as entropy-coded literals plus
    * one RLE-table-mode sequence appending `padLen` copies of the
    * payload's final byte (ll = payload length, ml = padLen,
    * offset = 1 via repeat-offset register 1). Regenerated content =
    * `data ++ lastByte * padLen`. Empty payload → literals-only empty
    * block.
    */
  def encodeCompressedBlock(data: Array[Byte], padLen: Int): Array[Byte] = {
    requireBlockCap(data.length, if (data.isEmpty) 0 else padLen)
    val out = new java.io.ByteArrayOutputStream()
    val lits = encodeLiteralsSection(data)
    out.write(lits, 0, lits.length)
    if (data.isEmpty) {
      out.write(0) // Number_of_Sequences = 0
      return out.toByteArray
    }
    require(padLen >= 3, s"zstd encoder: match length $padLen below minimum")
    val mlCode = {
      var c = MlBase.length - 1
      while (MlBase(c) > padLen) c -= 1
      require(padLen - MlBase(c) < (1 << MlBits(c)), s"no ML code for $padLen")
      c
    }
    val llCode = llCodeFor(data.length)
    out.write(1) // one sequence
    out.write(0x54) // LL/OF/ML all RLE table mode (01 01 01 00)
    out.write(llCode); out.write(0); out.write(mlCode) // table bytes: LL, OF, ML
    val bw = new BackWriter
    // decoder read order below the (zero-bit RLE) state inits:
    // offset extra (ofCode 0 -> 0 bits), ML extra, LL extra
    bw.push((padLen - MlBase(mlCode)).toLong, MlBits(mlCode))
    bw.push((data.length - LlBase(llCode)).toLong, LlBits(llCode))
    val stream = bw.toBytes
    out.write(stream, 0, stream.length)
    out.toByteArray
  }
}
