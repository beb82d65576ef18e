package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.web.OutBuffer

/** The decoders' shared output buffer: growth arithmetic checked near
  * Int.MaxValue without allocating, and the byte operations on a small
  * buffer.
  */
class OutBufferSpec extends AnyFunSuite {

  import OutBuffer.{MaxLength, grownCapacity}

  test("growth doubles until the request fits") {
    assert(grownCapacity("t", 64, 0, 64) === 64)
    assert(grownCapacity("t", 64, 60, 5) === 128)
    assert(grownCapacity("t", 64, 64, 1000) === 2048)
    assert(grownCapacity("t", 1 << 20, 1 << 20, 1) === (1 << 21))
  }

  test("growth past 2^30 caps at the maximum array length instead of " +
      "wrapping negative") {
    // an Int `cap <<= 1` from 2^30 wraps to Int.MinValue and never ends
    assert(grownCapacity("t", 1 << 30, 1 << 30, 1) === MaxLength)
    assert(grownCapacity("t", 1 << 30, (1 << 30) + 5, MaxLength - (1 << 30) - 5)
      === MaxLength)
  }

  test("a request beyond the maximum array length is the decoder's " +
      "IllegalArgumentException") {
    val e = intercept[IllegalArgumentException](
      grownCapacity("zstd", MaxLength, MaxLength, 1))
    assert(e.getMessage.startsWith("requirement failed: zstd: output of"))
    // len + n overflows Int: still the same error, not a wrapped size
    intercept[IllegalArgumentException](
      grownCapacity("brotli", 1 << 30, 1 << 30, Int.MaxValue))
  }

  test("write, fill, add and an overlapping copyBack") {
    val out = new OutBuffer("t", 1)
    assert(out.buf.length === 64)
    out.write("abc".getBytes("US-ASCII"), 0, 3)
    out.fill('x'.toByte, 2)
    out.ensure(1)
    out.add('y'.toByte)
    out.copyBack(2, 100) // period-2 run, grows the buffer mid-stream
    val s = new String(out.result, "US-ASCII")
    assert(s === "abcxxy" + "xy" * 50)
    assert(out.buf.length === 128)
  }
}
