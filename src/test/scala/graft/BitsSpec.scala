package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.web.{Bits, Deflate}

/** The codecs' bit readers and writers, both bit orders: seeded random
  * field sequences round-trip, reads past the end raise the decoders'
  * IllegalArgumentException, and alignment returns the pad bits and
  * lands on the byte the DEFLATE trailer starts at.
  */
class BitsSpec extends AnyFunSuite {

  /** `n` seeded (value, width) fields, widths 0..32. */
  private def fields(seed: Long, n: Int): IndexedSeq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(n) {
      val k = rnd.nextInt(33)
      (rnd.nextInt(), k)
    }
  }

  private def low(v: Int, k: Int): Int = (v.toLong & ((1L << k) - 1)).toInt

  test("MSB-first: random (value, width <= 32) sequences read back " +
      "equal, bit by bit and field by field") {
    for (seed <- 1L to 40L) {
      val fs = fields(seed, 200)
      val w = new Bits.MsbWriter("t")
      fs.foreach { case (v, k) => w.bits(v, k) }
      val total = fs.map(_._2.toLong).sum
      assert(w.bitCount === total)
      val bytes = w.result
      assert(bytes.length === (total + 7) / 8)
      val r = new Bits.MsbReader("t", bytes)
      fs.foreach { case (v, k) =>
        assert(r.bits(k) === low(v, k), s"seed $seed")
      }
      val r1 = new Bits.MsbReader("t", bytes)
      fs.take(20).foreach { case (v, k) =>
        var got = 0L
        (0 until k).foreach(_ => got = (got << 1) | r1.bit())
        assert(got.toInt === low(v, k))
      }
    }
  }

  test("LSB-first: random (value, width <= 32) sequences read back equal") {
    for (seed <- 1L to 40L) {
      val fs = fields(seed, 200)
      val w = new Bits.LsbWriter("t")
      fs.foreach { case (v, k) => w.bits(v, k) }
      val total = fs.map(_._2.toLong).sum
      assert(w.bitCount === total)
      val bytes = w.result
      assert(bytes.length === (total + 7) / 8)
      val r = new Bits.LsbReader("t", bytes)
      fs.foreach { case (v, k) =>
        assert(r.peek(k) === low(v, k))
        assert(r.bits(k) === low(v, k), s"seed $seed")
      }
    }
  }

  test("the two bit orders pack the same fields differently: MSB-first " +
      "fills a byte from its high bit, LSB-first from its low bit") {
    val m = new Bits.MsbWriter("t"); m.bits(1, 1); m.bits(2, 3)
    val l = new Bits.LsbWriter("t"); l.bits(1, 1); l.bits(2, 3)
    assert(m.result.toSeq === Seq(0xA0.toByte)) // 1 010 0000
    assert(l.result.toSeq === Seq(0x05.toByte)) // 0000 010 1
    // a prefix-code word goes out high bit first in an LSB-first stream
    val c = new Bits.LsbWriter("t"); c.code(0x30, 8)
    assert(c.result.toSeq === Seq(0x0C.toByte))
  }

  test("a read past the end raises IllegalArgumentException naming the " +
      "codec, in both bit orders") {
    val bytes = Array[Byte](1, 2, 3)
    def named(codec: String)(read: => Any): Unit = {
      val e = intercept[IllegalArgumentException](read)
      assert(e.getMessage === s"$codec: truncated stream")
    }
    named("msb") {
      val r = new Bits.MsbReader("msb", bytes); r.bits(20); r.bits(5)
    }
    named("msb") {
      val r = new Bits.MsbReader("msb", bytes); r.bits(24); r.bit()
    }
    named("msb") { new Bits.MsbReader("msb", bytes, 1, 2).bits(9) }
    named("lsb") {
      val r = new Bits.LsbReader("lsb", bytes); r.bits(23); r.bits(2)
    }
    named("lsb") { new Bits.LsbReader("lsb", bytes, 0, 1).bits(9) }
    named("lsb") {
      val r = new Bits.LsbReader("lsb", bytes); r.bits(8); r.skipBytes(3)
    }
    // the range bounds the read, not the array
    val r = new Bits.MsbReader("msb", bytes, 1, 2)
    assert(r.bits(8) === 2)
    assert(r.atEnd)
  }

  test("alignByte() returns the pad bits it drops, in both bit orders") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 300) {
      val k = rnd.nextInt(33)
      val v = rnd.nextInt()
      val padLen = (8 - k % 8) % 8
      val pad = rnd.nextInt(1 << padLen)
      val tail = rnd.nextInt(256)
      val m = new Bits.MsbWriter("t")
      m.bits(v, k); m.bits(pad, padLen); m.bits(tail, 8)
      val mr = new Bits.MsbReader("t", m.result)
      assert(mr.bits(k) === low(v, k))
      assert(mr.alignByte() === pad)
      assert(mr.alignByte() === 0) // already aligned: drops nothing
      assert(mr.bits(8) === tail)
      val l = new Bits.LsbWriter("t")
      l.bits(v, k); l.bits(pad, padLen); l.bits(tail, 8)
      val lr = new Bits.LsbReader("t", l.result)
      assert(lr.bits(k) === low(v, k))
      assert(lr.alignByte() === pad)
      assert(lr.alignByte() === 0)
      assert(lr.bits(8) === tail)
    }
    // the writers pad with the bit they are given
    val ones = new Bits.MsbWriter("t"); ones.bits(0, 3); ones.alignByte(1)
    assert(ones.result.toSeq === Seq(0x1F.toByte))
    val zeros = new Bits.LsbWriter("t"); zeros.bits(7, 3); zeros.alignByte()
    assert(zeros.bitCount === 8)
  }

  test("after alignment the LSB reader's position is the first byte " +
      "none of whose bits was read (DEFLATE's end-of-stream byte), and " +
      "aligned byte reads start there") {
    val rnd = new scala.util.Random(11)
    val bytes = Array.fill(64)(rnd.nextInt(256).toByte)
    for (start <- 0 until 4; read <- 0 to 200) {
      val r = new Bits.LsbReader("t", bytes, start, bytes.length)
      var left = read
      while (left > 0) {
        val k = math.min(left, 1 + rnd.nextInt(32))
        r.bits(k)
        left -= k
      }
      val end = start + (read + 7) / 8
      assert(r.position === end, s"start $start, $read bits")
      r.alignByte()
      assert(r.position === end)
      val dst = new Array[Byte](3)
      r.readBytes(dst, 0, 3)
      assert(dst.toSeq === bytes.slice(end, end + 3).toSeq)
      assert(r.position === end + 3)
      assert(r.bits(8) === (bytes(end + 3) & 0xFF))
    }
    // inflate ends where the deflate stream's last bit sits, whatever
    // follows it
    for (n <- Seq(0, 1, 5, 77, 300)) {
      val payload = Array.tabulate(n)(i => ((i * 31) % 200).toByte)
      val d = Deflate.deflateFixed(payload)
      val inf = Deflate.inflate(d ++ Array.fill(5)(0x5A.toByte), 0,
        d.length + 5)
      assert(inf.endPos === d.length)
      assert(inf.data.toSeq === payload.toSeq)
    }
  }
}
