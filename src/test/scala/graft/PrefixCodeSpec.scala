package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.web.{Bits, PrefixCode}

/** The canonical prefix code behind DEFLATE, Brotli and JPEG: random
  * complete and incomplete length vectors read back through both bit
  * orders, oversubscribed vectors are refused when the code is built,
  * running off an incomplete code raises the decoders' error, and the
  * one-symbol length-0 code reads no bits.
  */
class PrefixCodeSpec extends AnyFunSuite {

  /** Seeded code lengths up to `maxBits` over an alphabet of up to 300
    * symbols. A complete set grows from the root by splitting random
    * leaves; an incomplete one then drops some of them.
    */
  private def lengths(rnd: scala.util.Random, maxBits: Int,
      complete: Boolean): Array[Int] = {
    var leaves = Vector(0)
    val splits = 1 + rnd.nextInt(200)
    var i = 0
    while (i < splits) {
      val open = leaves.indices.filter(leaves(_) < maxBits)
      if (open.nonEmpty) {
        val k = open(rnd.nextInt(open.length))
        leaves = leaves.patch(k, Vector(leaves(k) + 1, leaves(k) + 1), 1)
      }
      i += 1
    }
    if (!complete)
      leaves = rnd.shuffle(leaves).take(1 + rnd.nextInt(leaves.length - 1))
    val alphabet = leaves.length + rnd.nextInt(100)
    val lens = new Array[Int](alphabet)
    rnd.shuffle((0 until alphabet).toVector).zip(leaves).foreach {
      case (s, l) => lens(s) = l
    }
    lens
  }

  /** RFC 1951 §3.2.2's code assignment, written out independently. */
  private def canonical(lens: Array[Int]): Array[Int] = {
    val maxLen = lens.max
    val count = new Array[Int](maxLen + 1)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](maxLen + 2)
    var code = 0
    for (l <- 1 to maxLen) {
      code = (code + count(l - 1)) << 1
      next(l) = code
    }
    lens.map { l =>
      if (l == 0) -1 else { val c = next(l); next(l) += 1; c }
    }
  }

  /** The (counts, symbols in code order) form that a DHT carries. */
  private def dht(lens: Array[Int], maxBits: Int): (Array[Int], Array[Int]) = {
    val counts = new Array[Int](maxBits + 1)
    lens.foreach(l => if (l > 0) counts(l) += 1)
    val order = lens.indices.filter(lens(_) > 0).sortBy(s => (lens(s), s))
    (counts, order.toArray)
  }

  private def kraft(lens: Array[Int]): Double =
    lens.filter(_ > 0).map(l => math.pow(2, -l)).sum

  test("random complete and incomplete codes up to 15 and 16 bits read " +
      "back the same symbols MSB-first and LSB-first") {
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 120) {
      val maxBits = if (trial % 2 == 0) 15 else 16
      val complete = trial % 3 != 0
      val lens = lengths(rnd, maxBits, complete)
      assert(lens.max <= maxBits)
      assert((kraft(lens) == 1.0) === complete)
      val codes = canonical(lens)
      val used = lens.indices.filter(lens(_) > 0)
      val msg = Vector.fill(300)(used(rnd.nextInt(used.length)))
      val lw = new Bits.LsbWriter("t")
      val mw = new Bits.MsbWriter("t")
      msg.foreach { s =>
        lw.code(codes(s), lens(s))
        mw.bits(codes(s), lens(s))
      }
      val fromLengths = PrefixCode.fromLengths("t", lens, maxBits)
      val (counts, symbols) = dht(lens, maxBits)
      val fromDht = new PrefixCode("t", counts, symbols)
      val (lsb, msb) = (lw.result, mw.result)
      val lr = new Bits.LsbReader("t", lsb)
      val mr = new Bits.MsbReader("t", msb)
      assert(msg.map(_ => fromLengths.decode(lr)) === msg, s"trial $trial")
      assert(msg.map(_ => fromDht.decode(mr)) === msg, s"trial $trial")
      assert(lr.position === lsb.length && mr.position === msb.length)
    }
  }

  test("an oversubscribed vector is refused when the code is built, in " +
      "both constructions") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 60) {
      val maxBits = if (trial % 2 == 0) 15 else 16
      val lens = lengths(rnd, maxBits, complete = true)
      // one more code of the longest length tips the Kraft sum over 1
      val over = lens :+ lens.max
      def refused(build: => PrefixCode): Unit = {
        val e = intercept[IllegalArgumentException](build)
        assert(e.getMessage.endsWith("t: oversubscribed prefix code"))
      }
      refused(PrefixCode.fromLengths("t", over, maxBits))
      val (counts, symbols) = dht(over, maxBits)
      refused(new PrefixCode("t", counts, symbols))
    }
    // a DHT with BITS = [3, 0, ...]: three codes in one bit
    intercept[IllegalArgumentException](new PrefixCode("jpeg",
      Array(0, 3) ++ Array.fill(15)(0), Array(1, 2, 3)))
    // a length outside 0..maxBits
    val e = intercept[IllegalArgumentException](
      PrefixCode.fromLengths("deflate", Array(1, 8, 1), 7))
    assert(e.getMessage.endsWith("deflate: code length 8 out of range"))
  }

  test("running off an incomplete code raises IllegalArgumentException " +
      "naming the codec, in both bit orders") {
    val rnd = new scala.util.Random(37)
    for (trial <- 0 until 60) {
      val maxBits = if (trial % 2 == 0) 15 else 16
      val lens = lengths(rnd, maxBits, complete = false)
      assert(kraft(lens) < 1.0)
      // canonical codes fill the code space from below, so the all-ones
      // word of `maxBits` bits starts with no code
      val ones = (1 << maxBits) - 1
      val lw = new Bits.LsbWriter("t"); lw.code(ones, maxBits)
      val mw = new Bits.MsbWriter("t"); mw.bits(ones, maxBits)
      val e1 = intercept[IllegalArgumentException](
        PrefixCode.fromLengths("deflate", lens, maxBits)
          .decode(new Bits.LsbReader("t", lw.result)))
      assert(e1.getMessage === "deflate: invalid prefix code")
      val (counts, symbols) = dht(lens, maxBits)
      val e2 = intercept[IllegalArgumentException](
        new PrefixCode("jpeg", counts, symbols)
          .decode(new Bits.MsbReader("t", mw.result)))
      assert(e2.getMessage === "jpeg: invalid prefix code")
    }
    // the all-zero alphabet of a literal-only DEFLATE block builds, and
    // fails only when walked
    val empty = PrefixCode.fromLengths("deflate", new Array[Int](30), 15)
    intercept[IllegalArgumentException](
      empty.decode(new Bits.LsbReader("t", Array[Byte](0, 0))))
  }

  test("the one-symbol length-0 code returns its symbol without reading " +
      "a bit; a one-symbol length-1 code reads its bit") {
    val zero = new PrefixCode("brotli", Array(1), Array(42))
    val bytes = Array[Byte](0x5A, 0x3C)
    val lr = new Bits.LsbReader("t", bytes)
    val mr = new Bits.MsbReader("t", bytes)
    for (_ <- 0 until 5) {
      assert(zero.decode(lr) === 42)
      assert(zero.decode(mr) === 42)
    }
    assert(lr.position === 0 && mr.position === 0)
    assert(lr.bits(8) === 0x5A && mr.bits(8) === 0x5A)
    // no input at all: still no read
    assert(zero.decode(new Bits.LsbReader("t", Array.emptyByteArray)) === 42)
    // DEFLATE's one-symbol code is one bit long: 0 decodes, 1 runs off
    val one = PrefixCode.fromLengths("deflate", Array(0, 0, 1), 15)
    val r = new Bits.LsbReader("t", Array[Byte](0x02, 0))
    assert(one.decode(r) === 2)
    val e = intercept[IllegalArgumentException](one.decode(r))
    assert(e.getMessage === "deflate: invalid prefix code")
  }
}
