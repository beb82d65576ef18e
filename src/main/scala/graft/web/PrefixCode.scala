package graft.web

/** A canonical prefix code: the one decoder of DEFLATE's Huffman codes
  * (RFC 1951 §3.2.2), Brotli's prefix codes (RFC 7932 §3.2) and JPEG's
  * DHT tables (T.81 Annex C).
  *
  * `counts(l)` is the number of codes of length `l`, for `l` in
  * `0..maxBits` (`maxBits = counts.length - 1`), and `symbols` lists
  * the symbols in code order: shorter codes first, and ascending codes
  * within a length. That is a DHT's (BITS, HUFFVAL) as it stands;
  * [[PrefixCode.fromLengths]] derives it from per-symbol lengths.
  *
  * An oversubscribed code (Kraft sum above 1) is refused here. An
  * incomplete code is accepted, and only a walk that runs off it fails,
  * with `"<codec>: invalid prefix code"`: a literal-only DEFLATE block
  * carries an all-zero distance alphabet, and JPEG reserves the all-ones
  * code. One symbol of length 0 (Brotli's one-symbol codes) decodes
  * without reading a bit. A format's own completeness rule stays with
  * the format.
  *
  * Each symbol is a walk through `counts` one bit at a time, as in the
  * zlib `puff` reference decoder; one `decode` per bit order.
  */
final class PrefixCode(codec: String, counts: Array[Int],
    symbols: Array[Int]) {

  private val maxBits = counts.length - 1

  locally {
    var left = 1L // codes of the current length still free
    var l = 0
    while (l <= maxBits) {
      left -= counts(l)
      require(left >= 0, s"$codec: oversubscribed prefix code")
      left <<= 1
      l += 1
    }
    require(symbols.length == counts.sum,
      s"$codec: ${symbols.length} symbols for ${counts.sum} codes")
  }

  private def invalid(): Nothing =
    throw new IllegalArgumentException(s"$codec: invalid prefix code")

  // `code` holds the `len` bits read so far, `first` is the first code
  // of length `len`, and `index` is its place in `symbols`.

  /** One symbol from an LSB-first stream, its code's high bit first. */
  def decode(r: Bits.LsbReader): Int = {
    var code = 0
    var first = 0
    var index = 0
    var len = 0
    var c = counts(0)
    while (code - first >= c) {
      index += c
      first = (first + c) << 1
      len += 1
      if (len > maxBits) invalid()
      code = (code << 1) | r.bits(1)
      c = counts(len)
    }
    symbols(index + code - first)
  }

  /** One symbol from an MSB-first stream. */
  def decode(r: Bits.MsbReader): Int = {
    var code = 0
    var first = 0
    var index = 0
    var len = 0
    var c = counts(0)
    while (code - first >= c) {
      index += c
      first = (first + c) << 1
      len += 1
      if (len > maxBits) invalid()
      code = (code << 1) | r.bit()
      c = counts(len)
    }
    symbols(index + code - first)
  }
}

object PrefixCode {

  /** The canonical code of per-symbol `lengths`, where 0 marks an unused
    * symbol: codes go out in (length, symbol) order. A length outside
    * `0..maxBits` is refused.
    */
  def fromLengths(codec: String, lengths: Array[Int],
      maxBits: Int): PrefixCode = {
    val counts = new Array[Int](maxBits + 1)
    lengths.foreach { l =>
      require(l >= 0 && l <= maxBits, s"$codec: code length $l out of range")
      counts(l) += 1
    }
    counts(0) = 0
    // next(l): where the next symbol of length l goes in code order
    val next = new Array[Int](maxBits + 1)
    var l = 1
    while (l < maxBits) { next(l + 1) = next(l) + counts(l); l += 1 }
    val symbols = new Array[Int](counts.sum)
    var s = 0
    while (s < lengths.length) {
      val len = lengths(s)
      if (len != 0) { symbols(next(len)) = s; next(len) += 1 }
      s += 1
    }
    new PrefixCode(codec, counts, symbols)
  }
}
