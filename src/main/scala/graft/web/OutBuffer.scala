package graft.web

/** The growable output buffer of the deflate, Brotli and Zstandard
  * decoders. `buf(0 until len)` is the output so far; the decoders read
  * it in place for back-references and context bytes.
  *
  * @param codec names the decoder in the error a too-large output raises
  * @param hint  the initial capacity (at least 64 bytes)
  */
final class OutBuffer(codec: String, hint: Int) {
  var buf: Array[Byte] = new Array[Byte](math.max(hint, 64))
  var len: Int = 0

  /** Makes room for `n` more bytes. `len <= buf.length`, so the test
    * cannot overflow.
    */
  def ensure(n: Int): Unit =
    if (n > buf.length - len)
      buf = java.util.Arrays.copyOf(buf,
        OutBuffer.grownCapacity(codec, buf.length, len, n))

  /** Appends one byte; the caller has called [[ensure]]. */
  def add(b: Byte): Unit = { buf(len) = b; len += 1 }

  def write(src: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n); System.arraycopy(src, off, buf, len, n); len += n
  }

  def fill(b: Byte, n: Int): Unit = {
    ensure(n); java.util.Arrays.fill(buf, len, len + n, b); len += n
  }

  /** Overlap-safe LZ77 copy of `n` bytes from `distance` back (an
    * overlapping copy is the formats' run-length idiom). The caller has
    * checked `1 <= distance <= len`.
    */
  def copyBack(distance: Int, n: Int): Unit = {
    ensure(n)
    var i = 0
    while (i < n) { buf(len) = buf(len - distance); len += 1; i += 1 }
  }

  def result: Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

object OutBuffer {

  /** The largest byte array the JVM reliably allocates. */
  val MaxLength: Int = Int.MaxValue - 8

  /** The capacity that takes `n` more bytes into a `cap`-byte buffer
    * holding `len`: `cap` doubled until it fits, capped at [[MaxLength]].
    * Doubling runs in Long, so it cannot wrap negative past 2^30^. An
    * output that would pass [[MaxLength]] fails with the decoders'
    * IllegalArgumentException.
    */
  def grownCapacity(codec: String, cap: Int, len: Int, n: Int): Int = {
    val need = len.toLong + n
    require(need <= MaxLength,
      s"$codec: output of $need bytes exceeds the $MaxLength-byte array limit")
    var c = math.max(cap, 1).toLong
    while (c < need) c <<= 1
    math.min(c, MaxLength.toLong).toInt
  }
}
