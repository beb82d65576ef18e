package graft.web

/** Brotli (RFC 7932) — a from-scratch decoder for the third HTTP
  * content coding real crawls ship (`Content-Encoding: br`), built the
  * way [[Gzip]] (RFC 1951/1952) and [[ZstdEntropy]] (RFC 8878) were:
  * from the public spec, nothing else. The full bitstream grammar is
  * implemented — stream header (WBITS), metablock loop (compressed /
  * uncompressed / metadata), simple and complex prefix codes with the
  * code-length code and its 16/17 repeat chaining (§3.5), block
  * switching for all three symbol categories with the block-type ring
  * (§6), literal context modes LSB6/MSB6/UTF8/Signed with the §7.1
  * lookup tables, context maps with run-length zero coding and inverse
  * move-to-front (§7.3), the joint insert-and-copy command alphabet
  * (§5), the distance ring buffer with the 16 short codes and the
  * NPOSTFIX/NDIRECT long-distance form (§4), and the STATIC DICTIONARY
  * (Appendix A, shipped verbatim as a 122,784-byte classpath resource)
  * with all 121 word transforms (Appendix B) including the UTF-8-aware
  * uppercase ferment (§8). No subset carve-outs: any RFC 7932 stream
  * decodes; only the out-of-spec large-window extension (WBITS > 24,
  * not part of the RFC) is rejected, loudly.
  *
  * Conformance is pinned two ways in WebArchiveSpec: reference-encoder
  * goldens (streams emitted by the C brotli library at qualities 0-11,
  * including dictionary-transform and context-map streams) must decode
  * byte-exactly, and [[encodeUncompressed]]'s output must re-decode
  * byte-exactly (the synthesis wire's own contract; its 3·⌈n/65535⌉
  * + n + 1 size arithmetic is what the DuckDB oracles price).
  *
  * Scale shape: one stream per row, walked in a single pass with no
  * allocation beyond the output buffer — map-only over the scan, the
  * same per-row discipline as every other container walk in the
  * engine.
  */
object Brotli {

  // ------------------------------------------------------------ tables

  // Insert-length codes (RFC 7932 §5): base values and extra-bit counts.
  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 12, 14, 24)

  // Copy-length codes (§5).
  private val CopyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 5, 6, 7, 8, 9, 10, 24)

  // Command code → (insert range, copy range) cell map (§5): the 704
  // command symbols tile an 11×64 grid; cells 0-1 imply distance code 0.
  private val InsRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  // Block-count codes (§6): 26 symbols.
  private val BlockLenBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81,
    97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337,
    8433, 16625)
  private val BlockLenExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5,
    5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  // Code-length-code wire order and its fixed prefix code (§3.5): the
  // next 4 stream bits index these; Len says how many are consumed.
  private val ClcOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10,
    11, 12, 13, 14, 15)
  private val ClcLen = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)
  private val ClcValue = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)

  // Distance short codes 0-15 (§4): ring index offset + value delta.
  private val ShortIdx = Array(3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
  private val ShortDelta = Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1,
    -2, 2, -3, 3)

  // Static dictionary geometry (Appendix A): words per length as bit
  // widths; byte offsets are the cumulative sums (total 122,784).
  private val DictSizeBits = Array(0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10,
    10, 10, 9, 9, 8, 7, 7, 8, 7, 7, 6, 6, 5, 5)
  private val DictOffsets: Array[Int] = {
    val o = new Array[Int](26)
    var i = 0
    while (i < 25) {
      o(i + 1) = o(i) + (if (DictSizeBits(i) == 0) 0
                         else (1 << DictSizeBits(i)) * i)
      i += 1
    }
    o
  }

  /** RFC 7932 Appendix A: the 122,784-byte static dictionary, shipped
    * verbatim as a classpath resource (too large to be source).
    */
  private lazy val Dict: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/web/brotli-dictionary.bin")
    require(in != null, "brotli: dictionary resource missing")
    try {
      val b = in.readAllBytes()
      require(b.length == 122784,
        s"brotli: dictionary resource is ${b.length} bytes (expected 122784)")
      b
    } finally in.close()
  }

  // Literal context lookup tables (§7.1). LSB6/MSB6 are formulas; the
  // UTF8 and Signed modes use these 512-byte tables from the RFC
  // (ctx = lut(p1) | lut(256 + p2)).
  private val CtxUtf8: Array[Byte] = ("0,0,0,0,0,0,0,0,0,4,4,0,0,4,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0" + "," +
    "8,12,16,12,12,20,12,16,24,28,12,12,32,12,36,12,44,44,44,44,44,44" + "," +
    "44,44,44,44,32,32,24,40,28,12,12,48,52,52,52,48,52,52,52,48,52" + "," +
    "52,52,52,52,48,52,52,52,52,52,48,52,52,52,52,52,24,12,28,12,12" + "," +
    "12,56,60,60,60,56,60,60,60,56,60,60,60,60,60,56,60,60,60,60,60" + "," +
    "56,60,60,60,60,60,24,12,28,12,0,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1" + "," +
    "0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1" + "," +
    "0,1,0,1,0,1,0,1,0,1,0,1,0,1,0,1,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3" + "," +
    "2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3" + "," +
    "2,3,2,3,2,3,2,3,2,3,2,3,2,3,2,3,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0" + "," +
    "0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1" + "," +
    "2,2,2,2,2,2,2,2,2,2,1,1,1,1,1,1,1,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2" + "," +
    "2,2,2,2,2,2,2,2,2,2,2,1,1,1,1,1,1,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3" + "," +
    "3,3,3,3,3,3,3,3,3,3,3,1,1,1,1,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0" + "," +
    "0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0" + "," +
    "0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0" + "," +
    "0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2" + "," +
    "2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2")
    .split(',').map(_.toByte)
  private val CtxSigned: Array[Byte] = ("0,8,8,8,8,8,8,8,8,8,8,8,8,8,8,8,16,16,16,16,16,16,16,16,16,16,16" + "," +
    "16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16" + "," +
    "16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,16,24,24,24,24,24" + "," +
    "24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24" + "," +
    "24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24" + "," +
    "24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,32,32,32,32" + "," +
    "32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32" + "," +
    "32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32" + "," +
    "32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,32,40,40,40" + "," +
    "40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40" + "," +
    "40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40,40" + "," +
    "40,40,40,48,48,48,48,48,48,48,48,48,48,48,48,48,48,48,56,0,1,1,1" + "," +
    "1,1,1,1,1,1,1,1,1,1,1,1,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2" + "," +
    "2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,2,3,3,3,3" + "," +
    "3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3" + "," +
    "3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,3,4,4,4,4" + "," +
    "4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4" + "," +
    "4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,4,5,5,5,5" + "," +
    "5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5,5" + "," +
    "5,5,5,5,5,5,5,5,5,5,5,5,6,6,6,6,6,6,6,6,6,6,6,6,6,6,6,7")
    .split(',').map(_.toByte)

  // The 121 word transforms (Appendix B): prefix, operation, suffix.
  // Ops: 0 identity, 1-9 OmitLast1-9, 10 UppercaseFirst, 11 UppercaseAll,
  // 12-20 OmitFirst1-9.
  private final case class T(prefix: String, op: Int, suffix: String) {
    val pre: Array[Byte] = prefix.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val suf: Array[Byte] = suffix.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
  private val Transforms: Array[T] = Array(
    T("", 0, ""),
    T("", 0, " "),
    T(" ", 0, " "),
    T("", 12, ""),
    T("", 10, " "),
    T("", 0, " the "),
    T(" ", 0, ""),
    T("s ", 0, " "),
    T("", 0, " of "),
    T("", 10, ""),
    T("", 0, " and "),
    T("", 13, ""),
    T("", 1, ""),
    T(", ", 0, " "),
    T("", 0, ", "),
    T(" ", 10, " "),
    T("", 0, " in "),
    T("", 0, " to "),
    T("e ", 0, " "),
    T("", 0, "\""),
    T("", 0, "."),
    T("", 0, "\">"),
    T("", 0, "\n"),
    T("", 3, ""),
    T("", 0, "]"),
    T("", 0, " for "),
    T("", 14, ""),
    T("", 2, ""),
    T("", 0, " a "),
    T("", 0, " that "),
    T(" ", 10, ""),
    T("", 0, ". "),
    T(".", 0, ""),
    T(" ", 0, ", "),
    T("", 15, ""),
    T("", 0, " with "),
    T("", 0, "'"),
    T("", 0, " from "),
    T("", 0, " by "),
    T("", 16, ""),
    T("", 17, ""),
    T(" the ", 0, ""),
    T("", 4, ""),
    T("", 0, ". The "),
    T("", 11, ""),
    T("", 0, " on "),
    T("", 0, " as "),
    T("", 0, " is "),
    T("", 7, ""),
    T("", 1, "ing "),
    T("", 0, "\n\t"),
    T("", 0, ":"),
    T(" ", 0, ". "),
    T("", 0, "ed "),
    T("", 20, ""),
    T("", 18, ""),
    T("", 6, ""),
    T("", 0, "("),
    T("", 10, ", "),
    T("", 8, ""),
    T("", 0, " at "),
    T("", 0, "ly "),
    T(" the ", 0, " of "),
    T("", 5, ""),
    T("", 9, ""),
    T(" ", 10, ", "),
    T("", 10, "\""),
    T(".", 0, "("),
    T("", 11, " "),
    T("", 10, "\">"),
    T("", 0, "=\""),
    T(" ", 0, "."),
    T(".com/", 0, ""),
    T(" the ", 0, " of the "),
    T("", 10, "'"),
    T("", 0, ". This "),
    T("", 0, ","),
    T(".", 0, " "),
    T("", 10, "("),
    T("", 10, "."),
    T("", 0, " not "),
    T(" ", 0, "=\""),
    T("", 0, "er "),
    T(" ", 11, " "),
    T("", 0, "al "),
    T(" ", 11, ""),
    T("", 0, "='"),
    T("", 11, "\""),
    T("", 10, ". "),
    T(" ", 0, "("),
    T("", 0, "ful "),
    T(" ", 10, ". "),
    T("", 0, "ive "),
    T("", 0, "less "),
    T("", 11, "'"),
    T("", 0, "est "),
    T(" ", 10, "."),
    T("", 11, "\">"),
    T(" ", 0, "='"),
    T("", 10, ","),
    T("", 0, "ize "),
    T("", 11, "."),
    T("\u00c2\u00a0", 0, ""),
    T(" ", 0, ","),
    T("", 10, "=\""),
    T("", 11, "=\""),
    T("", 0, "ous "),
    T("", 11, ", "),
    T("", 10, "='"),
    T(" ", 10, ","),
    T(" ", 11, "=\""),
    T(" ", 11, ", "),
    T("", 11, ","),
    T("", 11, "("),
    T("", 11, ". "),
    T(" ", 11, "."),
    T("", 11, "='"),
    T(" ", 11, ". "),
    T(" ", 10, "=\""),
    T(" ", 11, "='"),
    T(" ", 10, "='")
  )

  // ------------------------------------------------------ prefix codes

  /** The canonical prefix code of per-symbol lengths (≤ 15), codes in
    * (length, symbol) order — the RFC's rule for both simple and complex
    * codes — decoded by [[PrefixCode]]. A code with one used symbol
    * takes zero bits on the wire: that symbol gets length 0.
    */
  private def prefixCode(lens: Array[Int]): PrefixCode =
    if (lens.count(_ != 0) == 1)
      new PrefixCode("brotli", Array(1), Array(lens.indexWhere(_ != 0)))
    else PrefixCode.fromLengths("brotli", lens, 15)

  /** Read a prefix-code descriptor (§3.4/§3.5) over `alphabet` symbols. */
  private def readPrefixCode(r: Bits.LsbReader, alphabet: Int): PrefixCode = {
    val hskip = r.bits(2)
    if (hskip == 1) {
      // simple code: 1-4 explicit symbols
      val nsym = r.bits(2) + 1
      var abits = 0
      while ((1 << abits) < alphabet) abits += 1
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = r.bits(abits)
        require(s < alphabet, s"brotli: simple-code symbol $s >= $alphabet")
        var j = 0
        while (j < i) {
          require(syms(j) != s, "brotli: duplicate simple-code symbol")
          j += 1
        }
        syms(i) = s
        i += 1
      }
      val lens = new Array[Int](alphabet)
      nsym match {
        case 1 => lens(syms(0)) = 1 // zero bits on the wire (prefixCode)
        case 2 => lens(syms(0)) = 1; lens(syms(1)) = 1
        case 3 => lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 2
        case _ =>
          if (r.bits(1) == 1) {
            lens(syms(0)) = 1; lens(syms(1)) = 2
            lens(syms(2)) = 3; lens(syms(3)) = 3
          } else {
            var k = 0
            while (k < 4) { lens(syms(k)) = 2; k += 1 }
          }
      }
      prefixCode(lens)
    } else {
      // complex code: code-length code first (wire order, fixed VLC)
      val clLens = new Array[Int](18)
      var space = 0
      var numCodes = 0
      var i = hskip
      while (i < 18 && space < 32) {
        val idx = r.peek(4)
        r.bits(ClcLen(idx))
        val v = ClcValue(idx)
        clLens(ClcOrder(i)) = v
        if (v != 0) {
          space += 32 >> v
          numCodes += 1
        }
        i += 1
      }
      require(numCodes == 1 || space == 32,
        s"brotli: code-length code over/under-subscribed (space $space)")
      val clCode = prefixCode(clLens)

      // symbol lengths, with 16 (repeat prev nonzero, 2 extra) and 17
      // (repeat zero, 3 extra); consecutive same-symbol repeats chain
      val lens = new Array[Int](alphabet)
      var symSpace = 0L
      var prevLen = 8
      var repeat = 0
      var repeatLen = -1 // the len being repeated, or -1 when not chaining
      var s = 0
      while (s < alphabet && symSpace < (1L << 15)) {
        val cl = clCode.decode(r)
        if (cl < 16) {
          lens(s) = cl
          s += 1
          repeat = 0
          repeatLen = -1
          if (cl != 0) {
            prevLen = cl
            symSpace += 1L << (15 - cl)
          }
        } else {
          val extra = if (cl == 16) 2 else 3
          val newLen = if (cl == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val old = repeat
          if (repeat > 0) repeat = (repeat - 2) << extra
          repeat += r.bits(extra) + 3
          val reps = repeat - old
          require(s + reps <= alphabet,
            "brotli: repeat run past end of alphabet")
          var k = 0
          while (k < reps) { lens(s) = newLen; s += 1; k += 1 }
          if (newLen != 0) symSpace += reps.toLong << (15 - newLen)
        }
      }
      require(symSpace == (1L << 15) ||
        (symSpace < (1L << 15) && lens.count(_ != 0) == 1),
        s"brotli: symbol lengths over/under-subscribed (space $symSpace)")
      prefixCode(lens)
    }
  }

  // ------------------------------------------------------- header bits

  /** Byte-aligns; the dropped pad bits must be zero (§9.1). */
  private def alignZero(r: Bits.LsbReader): Unit =
    require(r.alignByte() == 0, "brotli: nonzero pad bits")

  /** WBITS (§9.1): window size is (1 << WBITS) - 16, WBITS in 10..24. */
  private def readWindowBits(r: Bits.LsbReader): Int = {
    if (r.bits(1) == 0) return 16
    val n = r.bits(3)
    if (n != 0) return 17 + n
    val m = r.bits(3)
    if (m == 0) return 17
    require(m != 1,
      "brotli: reserved WBITS value (large-window streams are not RFC 7932)")
    8 + m
  }

  /** The 1..256 variable-length count (NBLTYPES / NTREES, §9.2). */
  private def readVarCount(r: Bits.LsbReader): Int = {
    if (r.bits(1) == 0) 1
    else {
      val k = r.bits(3)
      (1 << k) + 1 + r.bits(k)
    }
  }

  /** Context map (§7.3): `n` entries over `ntrees` values, zero runs
    * RLE-coded, optional inverse move-to-front.
    */
  private def readContextMap(r: Bits.LsbReader, n: Int,
      ntrees: Int): Array[Byte] = {
    val cmap = new Array[Byte](n)
    val rleMax = if (r.bits(1) == 1) r.bits(4) + 1 else 0
    val code = readPrefixCode(r, ntrees + rleMax)
    var i = 0
    while (i < n) {
      val sym = code.decode(r)
      if (sym == 0) {
        cmap(i) = 0
        i += 1
      } else if (sym <= rleMax) {
        var reps = (1 << sym) + r.bits(sym)
        require(i + reps <= n, "brotli: context-map zero run overflows map")
        while (reps > 0) { cmap(i) = 0; i += 1; reps -= 1 }
      } else {
        val v = sym - rleMax
        require(v < ntrees, s"brotli: context-map value $v >= $ntrees")
        cmap(i) = v.toByte
        i += 1
      }
    }
    if (r.bits(1) == 1) {
      // inverse move-to-front over the value alphabet
      val mtf = new Array[Byte](256)
      var k = 0
      while (k < 256) { mtf(k) = k.toByte; k += 1 }
      var j = 0
      while (j < n) {
        val idx = cmap(j) & 0xFF
        val v = mtf(idx)
        var m = idx
        while (m > 0) { mtf(m) = mtf(m - 1); m -= 1 }
        mtf(0) = v
        cmap(j) = v
        j += 1
      }
    }
    cmap
  }

  // ------------------------------------------------------- transforms

  /** UTF-8-aware uppercase step (§8); returns bytes consumed. */
  private def ferment(w: Array[Byte], p: Int): Int = {
    val b = w(p) & 0xFF
    if (b < 192) {
      if (b >= 'a' && b <= 'z') w(p) = (b ^ 32).toByte
      1
    } else if (b < 224) {
      if (p + 1 < w.length) w(p + 1) = (w(p + 1) ^ 32).toByte
      2
    } else {
      if (p + 2 < w.length) w(p + 2) = (w(p + 2) ^ 5).toByte
      3
    }
  }

  /** Apply transform `id` to the dictionary word; returns the emitted
    * bytes (prefix + transformed word + suffix).
    */
  private def applyTransform(word: Array[Byte], id: Int): Array[Byte] = {
    val t = Transforms(id)
    val core: Array[Byte] = t.op match {
      case 0 => word.clone()
      case k if k >= 1 && k <= 9 => // OmitLast k
        if (k >= word.length) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(word, 0, word.length - k)
      case 10 => // UppercaseFirst
        val w = word.clone()
        if (w.nonEmpty) ferment(w, 0)
        w
      case 11 => // UppercaseAll
        val w = word.clone()
        var p = 0
        while (p < w.length) p += ferment(w, p)
        w
      case k => // OmitFirst 1..9 (k - 11)
        val d = k - 11
        if (d >= word.length) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(word, d, word.length)
    }
    val out = new Array[Byte](t.pre.length + core.length + t.suf.length)
    System.arraycopy(t.pre, 0, out, 0, t.pre.length)
    System.arraycopy(core, 0, out, t.pre.length, core.length)
    System.arraycopy(t.suf, 0, out, t.pre.length + core.length, t.suf.length)
    out
  }

  // ---------------------------------------------------------- decoding

  /** Structural readout of one stream — every field an integer the
    * DuckDB oracles can price from the synthesis arithmetic.
    */
  final case class Stats(wbits: Int, nMetablocks: Long, nUncompressed: Long,
      nMetadata: Long, nLiterals: Long, nCopyBytes: Long, nDictRefs: Long,
      nDictBytes: Long, outBytes: Long, sumOut: Long, streamBytes: Long)

  def decode(in: Array[Byte]): Array[Byte] = decodeWithStats(in)._1

  def decodeWithStats(in: Array[Byte]): (Array[Byte], Stats) = {
    val r = new Bits.LsbReader("brotli", in)
    val wbits = readWindowBits(r)
    val maxBackward = (1L << wbits) - 16L
    val out = new OutBuffer("brotli", in.length * 3)
    val ring = Array(16, 15, 11, 4)
    var ringIdx = 0
    var nMeta = 0L
    var nUnc = 0L
    var nMetadata = 0L
    var nLit = 0L
    var nCopy = 0L
    var nDictRefs = 0L
    var nDictBytes = 0L
    var isLast = false

    while (!isLast) {
      // ---- metablock header (§9.2)
      isLast = r.bits(1) == 1
      var emptyLast = false
      if (isLast) emptyLast = r.bits(1) == 1
      if (!emptyLast) {
        val mnib = r.bits(2) match {
          case 0 => 4
          case 1 => 5
          case 2 => 6
          case _ => 0
        }
        if (mnib == 0) {
          // metadata metablock: skipped bytes, not output
          require(!isLast, "brotli: metadata metablock flagged last")
          require(r.bits(1) == 0, "brotli: reserved metadata bit set")
          val skipBytes = r.bits(2)
          var skipLen = 0
          var i = 0
          while (i < skipBytes) {
            val b = r.bits(8)
            require(i != skipBytes - 1 || b != 0,
              "brotli: non-minimal MSKIPBYTES")
            skipLen |= b << (8 * i)
            i += 1
          }
          if (skipBytes > 0) skipLen += 1
          alignZero(r)
          r.skipBytes(skipLen)
          nMetadata += 1
        } else {
          var mlen = r.bits(4 * mnib)
          require(mnib == 4 || (mlen >> (4 * (mnib - 1))) != 0,
            "brotli: non-minimal MNIBBLES")
          mlen += 1
          nMeta += 1
          val uncompressed = !isLast && r.bits(1) == 1
          if (uncompressed) {
            alignZero(r)
            out.ensure(mlen)
            r.readBytes(out.buf, out.len, mlen)
            out.len += mlen
            nUnc += 1
          } else {
            decodeCompressedMetablock(r, out, mlen, maxBackward, ring,
              () => ringIdx, (v: Int) => ringIdx = v) match {
              case (lit, cop, dr, db) =>
                nLit += lit; nCopy += cop; nDictRefs += dr; nDictBytes += db
            }
          }
        }
      } else {
        nMeta += 1
      }
    }
    alignZero(r)
    require(r.atEnd, "brotli: trailing bytes after the last metablock")
    val data = out.result
    var sum = 0L
    var i = 0
    while (i < data.length) { sum += data(i) & 0xFF; i += 1 }
    (data, Stats(wbits, nMeta, nUnc, nMetadata, nLit, nCopy, nDictRefs,
      nDictBytes, data.length.toLong, sum, in.length.toLong))
  }

  /** One per-category block-switch state (§6). */
  private final class BlockState(r: Bits.LsbReader, val nTypes: Int) {
    var cur = 0
    private var prev = 1
    private var typeCode: PrefixCode = null
    private var lenCode: PrefixCode = null
    var left: Long = 1L << 60
    if (nTypes >= 2) {
      typeCode = readPrefixCode(r, nTypes + 2)
      lenCode = readPrefixCode(r, 26)
      left = readLen(r)
    }
    private def readLen(r: Bits.LsbReader): Long = {
      val sym = lenCode.decode(r)
      BlockLenBase(sym).toLong + r.bits(BlockLenExtra(sym))
    }
    def switchIfDone(r: Bits.LsbReader): Unit = {
      if (left == 0) {
        val sym = typeCode.decode(r)
        val next = sym match {
          case 0 => prev
          case 1 => (cur + 1) % nTypes
          case s => s - 2
        }
        prev = cur
        cur = next
        left = readLen(r)
      }
    }
  }

  /** Decode one compressed metablock body; returns (literals, copy
    * bytes, dict refs, dict bytes emitted).
    */
  private def decodeCompressedMetablock(r: Bits.LsbReader, out: OutBuffer,
      mlen0: Int, maxBackward: Long, ring: Array[Int], getRingIdx: () => Int,
      setRingIdx: Int => Unit): (Long, Long, Long, Long) = {
    val litBlocks = new BlockState(r, readVarCount(r))
    val cmdBlocks = new BlockState(r, readVarCount(r))
    val distBlocks = new BlockState(r, readVarCount(r))

    val npostfix = r.bits(2)
    val ndirect = r.bits(4) << npostfix

    val contextModes = new Array[Int](litBlocks.nTypes)
    var i = 0
    while (i < contextModes.length) {
      contextModes(i) = r.bits(2)
      i += 1
    }

    val ntreesL = readVarCount(r)
    val cmapL =
      if (ntreesL >= 2) readContextMap(r, 64 * litBlocks.nTypes, ntreesL)
      else new Array[Byte](64 * litBlocks.nTypes)
    val ntreesD = readVarCount(r)
    val cmapD =
      if (ntreesD >= 2) readContextMap(r, 4 * distBlocks.nTypes, ntreesD)
      else new Array[Byte](4 * distBlocks.nTypes)

    val litCodes = Array.fill(ntreesL)(readPrefixCode(r, 256))
    val cmdCodes = Array.fill(cmdBlocks.nTypes)(readPrefixCode(r, 704))
    val distAlphabet = 16 + ndirect + (48 << npostfix)
    val distCodes = Array.fill(ntreesD)(readPrefixCode(r, distAlphabet))

    out.ensure(mlen0)
    var mlen = mlen0.toLong
    var ringIdx = getRingIdx()
    var nLit = 0L
    var nCopy = 0L
    var nDictRefs = 0L
    var nDictBytes = 0L

    while (mlen > 0) {
      cmdBlocks.switchIfDone(r)
      cmdBlocks.left -= 1
      val cmd = cmdCodes(cmdBlocks.cur).decode(r)
      val rangeIdx = cmd >> 6
      val implicitD0 = rangeIdx < 2
      val cell = if (rangeIdx >= 2) rangeIdx - 2 else rangeIdx
      val insCode = InsRangeLut(cell) + ((cmd >> 3) & 7)
      val copyCode = CopyRangeLut(cell) + (cmd & 7)
      val insLen = InsBase(insCode) + r.bits(InsExtra(insCode))
      val copyLen = CopyBase(copyCode) + r.bits(CopyExtra(copyCode))

      // literals
      var k = 0
      while (k < insLen) {
        litBlocks.switchIfDone(r)
        litBlocks.left -= 1
        val mode = contextModes(litBlocks.cur)
        val p1 = if (out.len > 0) out.buf(out.len - 1) & 0xFF else 0
        val p2 = if (out.len > 1) out.buf(out.len - 2) & 0xFF else 0
        val ctx = mode match {
          case 0 => p1 & 0x3F
          case 1 => p1 >> 2
          case 2 => (CtxUtf8(p1) | CtxUtf8(256 + p2)) & 0xFF
          case _ => (CtxSigned(p1) | CtxSigned(256 + p2)) & 0xFF
        }
        val tree = cmapL(litBlocks.cur * 64 + ctx) & 0xFF
        out.ensure(1)
        out.add(litCodes(tree).decode(r).toByte)
        nLit += 1
        k += 1
      }
      mlen -= insLen
      require(mlen >= 0, "brotli: insert run past metablock length")
      if (mlen == 0) {
        // the command's copy part is not processed (§9.3)
      } else {
        // distance
        var distance = 0L
        var dsym = 0
        if (implicitD0) {
          distance = ring((ringIdx + 3) & 3).toLong
        } else {
          distBlocks.switchIfDone(r)
          distBlocks.left -= 1
          // distance context (§7.1): 0,1,2 for copy lengths 2,3,4 and
          // 3 for every longer copy
          val dctx = (if (copyLen > 4) 5 else copyLen) - 2
          val tree = cmapD(distBlocks.cur * 4 + dctx) & 0xFF
          dsym = distCodes(tree).decode(r)
          if (dsym < 16) {
            distance =
              ring((ringIdx + ShortIdx(dsym)) & 3).toLong + ShortDelta(dsym)
            require(distance > 0, "brotli: short distance code underflow")
          } else if (dsym < 16 + ndirect) {
            distance = (dsym - 16 + 1).toLong
          } else {
            val x = dsym - 16 - ndirect
            val postfix = x & ((1 << npostfix) - 1)
            val h = x >> npostfix
            val nbits = 1 + (h >> 1)
            val offset = ((2L + (h & 1)) << nbits) - 4L
            distance = ((offset + r.bits(nbits)) << npostfix) +
              postfix + ndirect + 1
          }
        }
        val maxDist = math.min(out.len.toLong, maxBackward)
        if (distance <= maxDist) {
          // backward copy (may overlap); §9.3 caps the metablock's
          // output at MLEN, so a copy reaching the boundary stops there
          require(copyLen.toLong <= mlen,
            s"brotli: copy of $copyLen past metablock length ($mlen left)")
          val emit = copyLen
          out.copyBack(distance.toInt, emit)
          nCopy += emit
          mlen -= emit
          if (!implicitD0 && dsym != 0) {
            ring(ringIdx & 3) = distance.toInt
            ringIdx = (ringIdx + 1) & 3
          }
        } else {
          // static dictionary reference (Appendix A + B)
          require(copyLen >= 4 && copyLen <= 24,
            s"brotli: dictionary copy length $copyLen out of 4..24")
          val index = distance - maxDist - 1
          val bits = DictSizeBits(copyLen)
          val wordId = (index & ((1L << bits) - 1)).toInt
          val transformId = (index >> bits).toInt
          require(transformId < Transforms.length,
            s"brotli: transform id $transformId out of range")
          val off = DictOffsets(copyLen) + wordId * copyLen
          val word = java.util.Arrays.copyOfRange(Dict, off, off + copyLen)
          val emitted = applyTransform(word, transformId)
          out.ensure(emitted.length)
          var c = 0
          while (c < emitted.length) { out.add(emitted(c)); c += 1 }
          nDictRefs += 1
          nDictBytes += emitted.length
          mlen -= emitted.length
          require(mlen >= 0, "brotli: dictionary word past metablock length")
          // dictionary references never update the distance ring
        }
      }
    }
    setRingIdx(ringIdx)
    (nLit, nCopy, nDictRefs, nDictBytes)
  }

  // ---------------------------------------------------------- encoding

  /** Insert-length code for an exact value (encoder-side lookup). */
  private def insCodeFor(n: Int): Int = {
    var c = InsBase.length - 1
    while (InsBase(c) > n) c -= 1
    require(n - InsBase(c) < (1 << InsExtra(c)), s"brotli: no insert code for $n")
    c
  }

  /** Encode `payload` (1..65536 bytes) as ONE ENTROPY-CODED metablock —
    * the decoder's compressed-path grammar on the engine's own wire: a
    * complex literal prefix code (all 256 symbols at depth 8, described
    * through the code-length code's single-symbol degenerate form — the
    * whole 256-length table costs ZERO bits on the wire), one-symbol
    * simple command and distance codes, and a single insert-only
    * command whose copy part the §9.3 MLEN cap leaves unread. Stream
    * size is exact arithmetic: ⌈(98 + E(n) + 8n) / 8⌉ bytes, where
    * E(n) is the insert-length code's extra-bit count — a 24-range step
    * function the oracle prices with a CASE.
    */
  def encodeCompressed(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    require(n >= 1 && n <= 65536,
      s"brotli: compressed-metablock synthesis covers 1..65536 bytes, not $n")
    val insCode = insCodeFor(n)
    val totalBits = 98 + InsExtra(insCode) + 8 * n
    val w = new Bits.LsbWriter("brotli", (totalBits + 7) / 8)
    w.bits(0, 1) // WBITS = 16
    w.bits(1, 1) // ISLAST
    w.bits(0, 1) // ISLASTEMPTY = 0
    w.bits(0, 2) // MNIBBLES code 0 → 4 nibbles
    w.bits(n - 1, 16)
    w.bits(0, 3) // NBLTYPES L, I, D = 1
    w.bits(0, 2) // NPOSTFIX
    w.bits(0, 4) // NDIRECT
    w.bits(0, 2) // context mode LSB6
    w.bits(0, 1) // NTREESL = 1
    w.bits(0, 1) // NTREESD = 1
    // literal code: COMPLEX, hskip 0; code-length code = the degenerate
    // single-symbol form (only CL symbol 8 nonzero), so every one of the
    // 256 flat-depth-8 lengths then reads in zero bits
    w.bits(0, 2) // hskip
    var k = 0
    while (k < 10) { w.bits(0, 2); k += 1 } // CL symbols 1,2,3,4,0,5,17,6,16,7 → 0
    w.bits(7, 4) // CL symbol 8 → length 1 (VLC index 7: bits 1,1,1,0)
    k = 0
    while (k < 7) { w.bits(0, 2); k += 1 } // CL symbols 9..15 → 0
    // command code: simple, 1 symbol — (insCode, copyCode 0), explicit-
    // distance cell (the distance is never read: MLEN ends at the insert)
    w.bits(1, 2) // hskip = 1 → simple
    w.bits(0, 2) // NSYM 1
    val cmd =
      if (insCode < 8) 128 + (insCode << 3)
      else if (insCode < 16) 256 + ((insCode - 8) << 3)
      else 448 + ((insCode - 16) << 3)
    w.bits(cmd, 10)
    // distance code: simple, 1 symbol (0) — never read
    w.bits(1, 2); w.bits(0, 2); w.bits(0, 6)
    // body: command symbol (0 bits), insert extra bits, 8-bit literals.
    // Prefix-code WORDS are assembled MSB-first by the reader (the
    // DEFLATE convention), so each literal's canonical flat-8 code —
    // the byte value itself — goes out bit-reversed; extra bits stay
    // LSB-first.
    w.bits(n - InsBase(insCode), InsExtra(insCode))
    var i = 0
    while (i < n) { w.code(payload(i) & 0xFF, 8); i += 1 }
    require(w.bitCount == totalBits, "brotli: compressed encoder size drift")
    w.result
  }

  /** The DuckDB CASE for the insert-extra-bit count E(n) — generated
    * from the SAME §5 table the encoder reads, so the oracle cannot
    * drift from the wire.
    */
  def insExtraCaseSql(n: String): String =
    (InsBase.length - 1 to 0 by -1)
      .map(c => s"WHEN $n >= ${InsBase(c)} THEN ${InsExtra(c)}")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** Encode `payload` as a valid RFC 7932 stream of uncompressed
    * metablocks (WBITS 16, ≤ 65535-byte chunks, closed by an empty last
    * metablock) — the synthesis wire for `Content-Encoding: br` bodies.
    * Size is exact arithmetic the oracle prices: 1 byte for empty
    * input, else 3·⌈n/65535⌉ + n + 1 (each chunk header is 21 bits the
    * first time, 20 after — both pad to 3 bytes).
    */
  def encodeUncompressed(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    if (n == 0) return Array[Byte](0x06) // '0' WBITS=16, ISLAST, ISLASTEMPTY
    val chunks = (n + 65534) / 65535
    val outLen = 3 * chunks + n + 1
    val w = new Bits.LsbWriter("brotli", outLen)
    w.bits(0, 1) // WBITS = 16
    var off = 0
    while (off < n) {
      val len = math.min(65535, n - off)
      w.bits(0, 1) // ISLAST = 0
      w.bits(0, 2) // MNIBBLES code 0 → 4 nibbles
      w.bits(len - 1, 16)
      w.bits(1, 1) // ISUNCOMPRESSED
      w.alignByte()
      w.writeBytes(payload, off, len)
      off += len
    }
    w.bits(1, 1) // ISLAST
    w.bits(1, 1) // ISLASTEMPTY
    val out = w.result
    require(out.length == outLen, s"brotli: encoder size drift")
    out
  }
}
