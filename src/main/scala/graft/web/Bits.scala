package graft.web

/** The bitstream readers and writers of every codec, one per bit order.
  *
  *  - MSB-first (FLAC, JPEG, MP3 side info, H.264 RBSP): a field's
  *    high bit comes first, and bytes fill from their high bit.
  *  - LSB-first (DEFLATE, Brotli, GIF LZW, the Zstandard FSE table
  *    description): bytes fill from their low bit, and a field's low bit
  *    comes first.
  *
  * Fields are 0..32 bits wide. A read past the end raises the decoders'
  * IllegalArgumentException, `"<codec>: truncated stream"`, so every
  * codec's input is bounded here. Writers keep the low `n` bits of a
  * value and append to an [[OutBuffer]]. Format pieces (Exp-Golomb,
  * Rice codes, byte stuffing, pad-bit rules) stay with their formats.
  */
object Bits {

  private def truncated(codec: String): Nothing =
    throw new IllegalArgumentException(s"$codec: truncated stream")

  private def low(v: Int, n: Int): Long = v.toLong & ((1L << n) - 1)

  /** MSB-first reader over `bytes(start until end)`. */
  final class MsbReader(codec: String, bytes: Array[Byte], start: Int,
      end: Int) {
    def this(codec: String, bytes: Array[Byte]) =
      this(codec, bytes, 0, bytes.length)

    // the next `n` unread bits are the low bits of `acc`, oldest highest
    private var pos = start
    private var acc = 0L
    private var n = 0

    private def fill(): Unit =
      while (n <= 56 && pos < end) {
        acc = (acc << 8) | (bytes(pos) & 0xFF); pos += 1; n += 8
      }

    def bit(): Int = {
      if (n == 0) { fill(); if (n == 0) truncated(codec) }
      n -= 1
      ((acc >>> n) & 1).toInt
    }

    def bits(k: Int): Int = {
      if (n < k) { fill(); if (n < k) truncated(codec) }
      n -= k
      ((acc >>> n) & ((1L << k) - 1)).toInt
    }

    /** Drops the bits left in the current byte and returns them. */
    def alignByte(): Int = {
      val r = n & 7
      n -= r
      ((acc >>> n) & ((1 << r) - 1)).toInt
    }

    /** The first byte none of whose bits has been read. */
    def position: Int = pos - n / 8

    def atEnd: Boolean = n == 0 && pos == end
  }

  /** MSB-first writer. */
  final class MsbWriter(codec: String, hint: Int = 64) {
    val out = new OutBuffer(codec, hint)
    private var acc = 0L
    private var n = 0

    def bits(v: Int, k: Int): Unit = {
      acc = (acc << k) | low(v, k)
      n += k
      if (n >= 8) {
        out.ensure(n >> 3)
        while (n >= 8) { n -= 8; out.add((acc >>> n).toByte) }
      }
    }

    /** Pads to the next byte boundary with copies of `bit` (0 or 1). */
    def alignByte(bit: Int): Unit = if ((n & 7) != 0) bits(-bit, 8 - n)

    def bitCount: Long = out.len * 8L + n

    /** The bytes written, the last one zero-padded. */
    def result: Array[Byte] = { alignByte(0); out.result }
  }

  /** LSB-first reader over `bytes(start until end)`. */
  final class LsbReader(codec: String, bytes: Array[Byte], start: Int,
      end: Int) {
    def this(codec: String, bytes: Array[Byte]) =
      this(codec, bytes, 0, bytes.length)

    // the next `n` unread bits are the low bits of `acc`, oldest lowest
    private var pos = start
    private var acc = 0L
    private var n = 0

    private def fill(): Unit =
      while (n <= 56 && pos < end) {
        acc |= (bytes(pos) & 0xFFL) << n; pos += 1; n += 8
      }

    def bits(k: Int): Int = {
      if (n < k) { fill(); if (n < k) truncated(codec) }
      val v = (acc & ((1L << k) - 1)).toInt
      acc >>>= k
      n -= k
      v
    }

    /** The next `k` bits without reading them, zero past the end. */
    def peek(k: Int): Int = {
      if (n < k) fill()
      (acc & ((1L << k) - 1)).toInt
    }

    /** Drops the bits left in the current byte and returns them. */
    def alignByte(): Int = bits(n & 7)

    /** The first byte none of whose bits has been read. */
    def position: Int = pos - n / 8

    def atEnd: Boolean = n == 0 && pos == end

    /** Copies the next `len` bytes; the reader is byte-aligned. */
    def readBytes(dst: Array[Byte], off: Int, len: Int): Unit = {
      val from = seekBytes(len)
      System.arraycopy(bytes, from, dst, off, len)
    }

    /** Skips the next `len` bytes; the reader is byte-aligned. */
    def skipBytes(len: Int): Unit = seekBytes(len)

    private def seekBytes(len: Int): Int = {
      require((n & 7) == 0, s"$codec: byte read off a byte boundary")
      val from = position
      if (len > end - from) truncated(codec)
      pos = from + len; acc = 0L; n = 0
      from
    }
  }

  /** LSB-first writer. */
  final class LsbWriter(codec: String, hint: Int = 64) {
    val out = new OutBuffer(codec, hint)
    private var acc = 0L
    private var n = 0

    def bits(v: Int, k: Int): Unit = {
      acc |= low(v, k) << n
      n += k
      if (n >= 8) {
        out.ensure(n >> 3)
        while (n >= 8) { out.add(acc.toByte); acc >>>= 8; n -= 8 }
      }
    }

    /** A `k`-bit prefix-code word, its high bit first (the DEFLATE and
      * Brotli packing of Huffman codes into an LSB-first stream).
      */
    def code(v: Int, k: Int): Unit =
      bits(Integer.reverse(v) >>> (32 - k), k)

    /** Pads to the next byte boundary with zero bits. */
    def alignByte(): Unit = if ((n & 7) != 0) bits(0, 8 - n)

    /** Appends `len` bytes of `src`; the writer is byte-aligned. */
    def writeBytes(src: Array[Byte], off: Int, len: Int): Unit = {
      require(n == 0, s"$codec: byte write off a byte boundary")
      out.write(src, off, len)
    }

    def bitCount: Long = out.len * 8L + n

    /** The bytes written, the last one zero-padded. */
    def result: Array[Byte] = { alignByte(); out.result }
  }
}
