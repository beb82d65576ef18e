package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Codecs

/** Golden fixtures for the from-scratch media codecs: HAND-WRITTEN byte
  * sequences with known pixels/samples (not round-trips of our own
  * encoder — a matched encode/decode bug cancels in a round-trip), plus
  * round-trip identities and loud-failure cases for malformed input.
  */
class CodecSpec extends AnyFunSuite with SharedSpark {

  // ------------------------------------------------------------- PPM

  test("golden P6: hand-written 2x2 image decodes to the exact pixels") {
    val header = "P6\n2 2\n255\n".getBytes("US-ASCII")
    val plane = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255)
      .map(_.toByte)
    val img = Codecs.decodePpm(header ++ plane)
    assert(img.width === 2 && img.height === 2 && img.maxVal === 255)
    assert(img.pixels.toSeq === plane.toSeq)
  }

  test("golden P6: comments and ragged whitespace in the header parse " +
      "(the Netpbm grammar), and the plane may start with a '#' byte") {
    // '#' (0x23) as the FIRST PLANE BYTE must not be eaten as a comment:
    // the header ends after exactly one whitespace byte past maxval
    val bytes = "P6 # a comment\n #another\n 3\t1 #w h\n17\n".getBytes("US-ASCII") ++
      Array('#'.toByte, 1.toByte, 2.toByte, 3.toByte, 4.toByte,
        5.toByte, 6.toByte, 7.toByte, 8.toByte)
    val img = Codecs.decodePpm(bytes)
    assert(img.width === 3 && img.height === 1 && img.maxVal === 17)
    assert((img.pixels(0) & 0xFF) === '#'.toInt)
    assert(img.pixels.length === 9)
  }

  test("P6 malformed inputs fail loudly") {
    intercept[IllegalArgumentException](Codecs.decodePpm(
      "P5\n1 1\n255\n".getBytes("US-ASCII") :+ 0.toByte)) // wrong magic
    intercept[IllegalArgumentException](Codecs.decodePpm(
      "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.fill(5)(0.toByte)))
    intercept[IllegalArgumentException](Codecs.decodePpm(
      "P6\n1 1\n65535\n".getBytes("US-ASCII") ++
        Array.fill(6)(0.toByte))) // 2-byte maxval unsupported
  }

  test("PPM round-trip: encode then decode is the identity") {
    val px = Array.tabulate(5 * 4 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val img = Codecs.decodePpm(Codecs.encodePpm(5, 4, 255, px))
    assert(img.width === 5 && img.height === 4)
    assert(img.pixels.toSeq === px.toSeq)
  }

  // ------------------------------------------------------------- PNG

  /** Assemble a PNG chunk BY HAND (independent of encodePng). */
  private def handChunk(chunkType: String, body: Array[Byte]): Array[Byte] = {
    val t = chunkType.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(body)
    java.nio.ByteBuffer.allocate(12 + body.length)
      .putInt(body.length).put(t).put(body).putInt(crc.getValue.toInt)
      .array()
  }

  private def handIhdr(w: Int, h: Int): Array[Byte] =
    handChunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  private val pngSig =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  test("golden PNG: hand-assembled 2x2 truecolor file (hand-filtered Sub " +
      "and Up rows, hand-chunked, an ancillary chunk in the middle) " +
      "decodes to the exact pixels") {
    // target pixels, row-major RGB:
    //   row 0: (10,20,30) (13,25,37)   row 1: (110,120,130) (23,25,27)
    // row 0 filtered with Sub  (type 1): 10 20 30, then 3 5 7
    // row 1 filtered with Up   (type 2): 100 100 100, then 10 0 -10&0xFF
    val raw = Array[Int](
      1, 10, 20, 30, 3, 5, 7,
      2, 100, 100, 100, 10, 0, 246).map(_.toByte)
    val png = pngSig ++ handIhdr(2, 2) ++
      handChunk("tEXt", "comment".getBytes("US-ASCII")) ++ // must be skipped
      handChunk("IDAT", zlib(raw)) ++
      handChunk("IEND", Array.emptyByteArray)
    val img = Codecs.decodePng(png)
    assert(img.width === 2 && img.height === 2)
    assert(img.pixels.map(_ & 0xFF).toSeq ===
      Seq(10, 20, 30, 13, 25, 37, 110, 120, 130, 23, 25, 27))
  }

  test("golden PNG: Paeth and Average rows reconstruct per the spec " +
      "predictor (hand-computed filtered bytes, split across two IDATs)") {
    // 2x2 image; row 0: (100,0,50) (40,60,50); row 1 targets
    // (90,35,75) (80,70,90).
    // row 0 Average (type 3): left/2 predictor on x>=3 ->
    //   100, 0, 50, 40-50=-10&0xFF=246, 60-0=60, 50-25=25
    // row 1 Paeth (type 4): a=left, b=up, c=up-left; x<3: pred=up ->
    //   90-100=-10&0xFF=246, 35, 75-50=25; x>=3: p=a+b-c picks...
    //   x=3: a=90 b=40 c=100 p=30 pa=60 pb=10 pc=70 -> b=40, 80-40=40
    //   x=4: a=35 b=60 c=0  p=95 pa=60 pb=35 pc=95 -> b=60, 70-60=10
    //   x=5: a=75 b=50 c=50 p=75 pa=0 -> a=75, 90-75=15
    val raw = Array[Int](
      3, 100, 0, 50, 246, 60, 25,
      4, 246, 35, 25, 40, 10, 15).map(_.toByte)
    val z = zlib(raw)
    val (z1, z2) = z.splitAt(math.max(1, z.length / 2))
    val png = pngSig ++ handIhdr(2, 2) ++
      handChunk("IDAT", z1) ++ handChunk("IDAT", z2) ++
      handChunk("IEND", Array.emptyByteArray)
    val img = Codecs.decodePng(png)
    assert(img.pixels.map(_ & 0xFF).toSeq ===
      Seq(100, 0, 50, 40, 60, 50, 90, 35, 75, 80, 70, 90))
  }

  test("PNG round-trip: encode (all five filters cycling, multi-IDAT) " +
      "then decode is the identity") {
    // 6 rows -> filters 0,1,2,3,4,0 all exercised
    val px6 = Array.tabulate(16 * 6 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val img6 = Codecs.decodePng(Codecs.encodePng(16, 6, px6))
    assert(img6.width === 16 && img6.height === 6 && img6.maxVal === 255)
    assert(img6.pixels.toSeq === px6.toSeq)
    // incompressible plane large enough that the stream spans >1 IDAT
    val rnd = new scala.util.Random(7)
    val pxBig = Array.fill(32 * 64 * 3)(rnd.nextInt(256).toByte)
    val enc = Codecs.encodePng(32, 64, pxBig)
    val nIdat = {
      var count = 0; var pos = 8
      val bb = java.nio.ByteBuffer.wrap(enc)
      while (pos < enc.length) {
        val len = bb.getInt(pos)
        val t = new String(enc, pos + 4, 4, "US-ASCII")
        if (t == "IDAT") count += 1
        pos += 12 + len
      }
      count
    }
    assert(nIdat >= 2, s"expected a multi-IDAT file, got $nIdat chunk(s)")
    assert(Codecs.decodePng(enc).pixels.toSeq === pxBig.toSeq)
  }

  test("PNG malformed inputs fail loudly (signature, CRC, truncation, " +
      "unsupported color type, wrong inflate size)") {
    val good = Codecs.encodePng(4, 2, Array.fill(4 * 2 * 3)(9.toByte))
    intercept[IllegalArgumentException](
      Codecs.decodePng("JUNKJUNK".getBytes("US-ASCII")))
    // flip one byte inside the IHDR body: CRC must catch it
    val crcBad = good.clone(); crcBad(16) = (crcBad(16) ^ 1).toByte
    intercept[IllegalArgumentException](Codecs.decodePng(crcBad))
    // truncated mid-chunk
    intercept[IllegalArgumentException](
      Codecs.decodePng(good.dropRight(15)))
    // grayscale color type: rejected, not mis-read
    val gray = pngSig ++ handChunk("IHDR", java.nio.ByteBuffer.allocate(13)
        .putInt(1).putInt(1).put(8.toByte).put(0.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()) ++
      handChunk("IDAT", zlib(Array[Byte](0, 7))) ++
      handChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException](Codecs.decodePng(gray))
    // IDAT inflating to the wrong length (one scanline missing)
    val short = pngSig ++ handIhdr(2, 2) ++
      handChunk("IDAT", zlib(Array[Int](0, 1, 2, 3, 4, 5, 6)
        .map(_.toByte))) ++
      handChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException](Codecs.decodePng(short))
  }

  // ------------------------------------------------------------- GIF

  /** Pack (code, width) pairs LSB-first into GIF data sub-blocks —
    * independent of the encoder under test.
    */
  private def packLzw(codes: Seq[(Int, Int)]): Array[Byte] = {
    var cur = 0L; var nBits = 0
    val out = new java.io.ByteArrayOutputStream()
    codes.foreach { case (code, width) =>
      cur |= code.toLong << nBits; nBits += width
      while (nBits >= 8) { out.write((cur & 0xFF).toInt); cur >>>= 8; nBits -= 8 }
    }
    if (nBits > 0) out.write((cur & 0xFF).toInt)
    val data = out.toByteArray
    val blocks = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < data.length) {
      val n = math.min(255, data.length - off)
      blocks.write(n); blocks.write(data, off, n); off += n
    }
    blocks.write(0)
    blocks.toByteArray
  }

  test("golden GIF: hand-assembled 2x2 file (4-color palette, hand-" +
      "traced variable-width LZW codes with a width bump, a comment " +
      "extension in the middle) decodes to the exact palette RGB") {
    // pixels (palette indices): 1, 1, 0, 3
    // hand-traced encoder codes: clear(4)@3, 1@3, 1@3, 0@3 (dict grows
    // 6,7,8 -> width bumps to 4 for the tail), 3@4, eoi(5)@4
    val lzw = packLzw(Seq((4, 3), (1, 3), (1, 3), (0, 3), (3, 4), (5, 4)))
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Byte](2, 0, 2, 0)) // 2x2 screen, LE
    out.write(0x81); out.write(0); out.write(0) // GCT: 4 entries
    val palette = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220)
    palette.foreach(out.write)
    out.write(0x21); out.write(0xFE) // comment extension: must be skipped
    out.write(3); out.write("hey".getBytes("US-ASCII")); out.write(0)
    out.write(0x2C) // image descriptor
    out.write(Array[Byte](0, 0, 0, 0, 2, 0, 2, 0, 0))
    out.write(2) // LZW minimum code size
    out.write(packLzw(Seq((4, 3), (1, 3), (1, 3), (0, 3), (3, 4), (5, 4))))
    out.write(0x3B)
    val img = Codecs.decodeGif(out.toByteArray)
    assert(img.width === 2 && img.height === 2)
    assert(img.pixels.map(_ & 0xFF).toSeq ===
      Seq(40, 50, 60, 40, 50, 60, 10, 20, 30, 200, 210, 220),
      "indices 1,1,0,3 must map through the hand-written palette")
    assert(lzw.nonEmpty) // silence unused warning on the traced stream
  }

  test("GIF round-trip: repetitive and random planes, dictionary " +
      "growth past 9/10 bits and a full-table reset, are the identity") {
    // repetitive plane: long runs exercise dictionary hits
    val rep = Array.tabulate(16 * 20)(i => ((i / 7) % 5 * 40).toByte)
    val r1 = Codecs.decodeGif(Codecs.encodeGif(16, 20, rep))
    assert(r1.width === 16 && r1.height === 20)
    assert(r1.pixels.grouped(3).map(_(0)).toSeq === rep.toSeq,
      "grayscale palette: R channel must equal the index plane")
    assert(r1.pixels.grouped(3).toSeq.forall(p => p(0) == p(1) && p(1) == p(2)))
    // random plane big enough that nextCode hits 4096 -> clear + reset
    val rnd = new scala.util.Random(11)
    val big = Array.fill(100 * 80)(rnd.nextInt(256).toByte)
    val r2 = Codecs.decodeGif(Codecs.encodeGif(100, 80, big))
    assert(r2.pixels.grouped(3).map(_(0)).toSeq === big.toSeq,
      "full-table reset must round-trip")
  }

  test("GIF malformed inputs fail loudly (magic, truncation, animation, " +
      "pixel-count mismatch, unknown block)") {
    val good = Codecs.encodeGif(4, 2, Array.fill(8)(7.toByte))
    intercept[IllegalArgumentException](
      Codecs.decodeGif("NOTAGIF!".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](Codecs.decodeGif(good.dropRight(4)))
    // a second image descriptor (animation): rejected, not half-decoded
    val animated = good.dropRight(1) ++
      good.drop(6 + 7 + 768).dropRight(1) ++ Array(0x3B.toByte)
    intercept[IllegalArgumentException](Codecs.decodeGif(animated))
    // declared height larger than the LZW stream's pixels (screen and
    // image heights both bumped so the failure IS the pixel count)
    val lying = good.clone()
    val ihPos = 6 + 7 + 768 // image descriptor offset (no extensions)
    assert(lying(ihPos) == 0x2C.toByte)
    lying(8) = 3 // screen height 2 -> 3
    lying(ihPos + 7) = 3 // image height 2 -> 3
    val e = intercept[IllegalArgumentException](Codecs.decodeGif(lying))
    assert(e.getMessage.contains("decoded"),
      s"must fail on the pixel count, got: ${e.getMessage}")
    // an unknown top-level block type
    val unknown = good.dropRight(1) ++ Array(0x99.toByte, 0x3B.toByte)
    intercept[IllegalArgumentException](Codecs.decodeGif(unknown))
  }

  // ------------------------------------------------------------- WAV

  /** Build a RIFF/WAVE file BY HAND (independent of encodeWav). */
  private def handWav(extraChunk: Boolean, samples: Seq[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val extra = if (extraChunk) 8 + 4 else 0 // "LIST" + size + 4 junk
    val bb = java.nio.ByteBuffer.allocate(44 + extra + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(44100)
      .putInt(44100 * 2 * 2).putShort(4).putShort(16)
    if (extraChunk) // an unknown chunk BETWEEN fmt and data: must be
      bb.put("LIST".getBytes("US-ASCII")).putInt(4) // skipped by size
        .put(Array[Byte](9, 9, 9, 9))
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("golden WAV: hand-written stereo PCM16 with an unknown chunk " +
      "between fmt and data decodes to the exact samples and format") {
    val samples = Seq[Short](0, 1, -1, 32767, -32768, 256)
    val wav = Codecs.decodeWav(handWav(extraChunk = true, samples))
    assert(wav.channels === 2 && wav.sampleRate === 44100 &&
      wav.bitsPerSample === 16)
    assert(wav.samples.toSeq === samples)
  }

  test("WAV malformed inputs fail loudly") {
    intercept[IllegalArgumentException](
      Codecs.decodeWav("RIFX1234WAVE".getBytes("US-ASCII")))
    // a data-less file: fmt only
    val fmtOnly = handWav(extraChunk = false, Nil).dropRight(8)
    intercept[IllegalArgumentException](Codecs.decodeWav(fmtOnly))
    // declared chunk size beyond the payload
    val lying = handWav(extraChunk = false, Seq[Short](1, 2))
    lying(42) = 99 // data size low byte: 4 -> 99
    intercept[IllegalArgumentException](Codecs.decodeWav(lying))
  }

  test("WAV round-trip: encode then decode is the identity") {
    val samples = Array.tabulate(100)(i => ((i - 50) * 601).toShort)
    val wav = Codecs.decodeWav(Codecs.encodeWav(1, 8000, samples))
    assert(wav.channels === 1 && wav.sampleRate === 8000)
    assert(wav.samples.toSeq === samples.toSeq)
  }

  // ------------------------------------------------- Spark pipelines

  test("q151/q152 pipelines: synthesized binaries decode to statistics " +
      "predictable from the source text (incl. empty and non-ASCII)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abc"),                 // 3 ascii codes: 97 98 99
      (2L, ""),                    // empty -> 1x16 black image, 0 samples
      (3L, "ééA"),            // non-ASCII chars contribute nothing
      (4L, "x" * 100))             // forces height 3 (ceil(100/48))
      .toDF("doc_id", "text")
    val img = graft.multimodal.Multimodal.decodeImageStats(
        graft.multimodal.Multimodal.imagesFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(img(1L).width === 16 && img(1L).height === 1)
    assert(img(1L).sum_channel === 97L + 98 + 99)
    assert(img(1L).max_channel === 99)
    assert(img(2L).sum_channel === 0L && img(2L).n_pixels === 16L)
    assert(img(3L).sum_channel === 65L, "only the ASCII 'A' contributes")
    assert(img(4L).height === 3 && img(4L).sum_channel === 120L * 100)
    val wav = graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.wavFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(wav(1L).n_samples === 3L)
    assert(wav(1L).sum_sample === ((97 - 64) + (98 - 64) + (99 - 64)) * 256L)
    assert(wav(2L).n_samples === 0L && wav(2L).min_sample === 0L)
    assert(wav(4L).n_samples === 100L &&
      wav(4L).duration_ms === 100L * 1000 / 8000)
  }

  test("q164 pipeline: PNG-encoded corpus decodes to EXACTLY the stats " +
      "of the uncompressed PPM path (same pixel contract, different " +
      "container), including empty and non-ASCII docs") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val docs = Seq(
      (1L, "abc"), (2L, ""), (3L, "ééA"), (4L, "x" * 100),
      (5L, "the quick brown fox jumps over the lazy dog " * 4))
      .toDF("doc_id", "text")
    val viaPng = Multimodal.decodePngStats(
        Multimodal.pngFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    val viaPpm = Multimodal.decodeImageStats(
        Multimodal.imagesFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(viaPng === viaPpm,
      "container swap changed the decoded truth")
    assert(viaPng(4L).height === 3 && viaPng(4L).sum_channel === 120L * 100)
  }

  test("q169 pipeline: GIF-encoded corpus (palette-index plane, LZW) " +
      "decodes to statistics predictable from the source text") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val docs = Seq(
      (1L, "abc"), (2L, ""), (3L, "ééA"), (4L, "x" * 100))
      .toDF("doc_id", "text")
    val g = Multimodal.decodeGifStats(
        Multimodal.gifFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(g(1L).width === 16 && g(1L).height === 1)
    assert(g(1L).sum_channel === 3L * (97 + 98 + 99),
      "grayscale palette triplicates each code into RGB")
    assert(g(1L).max_channel === 99)
    assert(g(1L).mean_channel === (97.0 + 98 + 99) / 16.0)
    assert(g(2L).sum_channel === 0L && g(2L).n_pixels === 16L)
    assert(g(3L).sum_channel === 3L * 65, "only the ASCII 'A' contributes")
    assert(g(4L).height === 7 && g(4L).sum_channel === 3L * 120 * 100)
  }

  // ------------------------------------------------------------- FLAC

  /** Independent CRC transcriptions from the FLAC spec (poly 0x07 and
    * 0x8005, MSB-first, zero init) — used to finish hand-assembled
    * goldens without calling the codec under test.
    */
  private def refCrc8(bytes: Seq[Int]): Int =
    bytes.foldLeft(0) { (c0, b) =>
      (0 until 8).foldLeft(c0 ^ b) { (c, _) =>
        if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xFF else (c << 1) & 0xFF
      }
    }
  private def refCrc16(bytes: Seq[Int]): Int =
    bytes.foldLeft(0) { (c0, b) =>
      (0 until 8).foldLeft(c0 ^ (b << 8)) { (c, _) =>
        if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xFFFF
        else (c << 1) & 0xFFFF
      }
    }

  /** STREAMINFO for mono/16-bit/8kHz with `n` total samples plus the
    * spec MD5 of the little-endian PCM — hand-packed field layout.
    */
  private def handFlacHeader(n: Int, samples: Seq[Short]): Seq[Int] = {
    val pcm = samples.flatMap(s => Seq(s & 0xFF, (s >> 8) & 0xFF))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(pcm.map(_.toByte).toArray).map(_ & 0xFF).toSeq
    Seq('f'.toInt, 'L'.toInt, 'a'.toInt, 'C'.toInt,
      0x80, 0x00, 0x00, 0x22,        // last block, type 0, length 34
      0x10, 0x00, 0x10, 0x00,        // min/max block size 4096
      0, 0, 0, 0, 0, 0,              // min/max frame size unknown
      // rate 8000 (20 bits) | channels-1 0 (3) | bps-1 15 (5) |
      // total samples (36) = 0x01 0xF4 0x00 0xF0 then 32 bits of n
      0x01, 0xF4, 0x00, 0xF0,
      (n >>> 24) & 0xFF, (n >>> 16) & 0xFF, (n >>> 8) & 0xFF, n & 0xFF
    ) ++ md5
  }

  test("golden FLAC: hand-assembled constant-subframe frame (hand-" +
      "packed STREAMINFO and frame header bits, spec CRCs computed " +
      "independently) decodes to the exact samples") {
    // Frame: sync 11111111111110, fixed blocking -> FF F8; block size
    // code 0111 (16-bit follows), rate code 0000 -> 70; channel 0000,
    // size 100, reserved 0 -> 08; frame number 0; blocksize-1 = 3.
    val hdr = Seq(0xFF, 0xF8, 0x70, 0x08, 0x00, 0x00, 0x03)
    // Subframe: pad 0, type 000000 (CONSTANT), wasted 0 -> 00; then
    // the 16-bit value 1000 = 03 E8 (already byte-aligned).
    val body = Seq(0x00, 0x03, 0xE8)
    val frame = hdr ++ Seq(refCrc8(hdr)) ++ body
    val bytes = (handFlacHeader(4, Seq.fill(4)(1000.toShort)) ++ frame ++
      Seq(refCrc16(frame) >>> 8, refCrc16(frame) & 0xFF))
      .map(_.toByte).toArray
    val out = Codecs.decodeFlac(bytes)
    assert(out.sampleRate === 8000 && out.channels === 1)
    assert(out.samples.toSeq === Seq.fill(4)(1000.toShort))
  }

  test("golden FLAC: hand-assembled FIXED order-1 subframe with HAND-" +
      "TRACED Rice bits (k=2, unary quotients) decodes through the " +
      "predictor to the exact samples") {
    // Samples [100, 101, 103]: warmup [100], residuals [1, 2],
    // zigzag [2, 4]; k=2: u=2 -> unary 1, rem 10; u=4 -> unary 01,
    // rem 00. Subframe byte: 0 001001 0 = 12; warmup 00 64; then
    // method 00, partition order 0000, param 0010, residuals
    // 110 0100, zero-padded:
    //   00 000000 10 | 1 10 01 00 ++ pad -> bytes 00 B2 00.
    val hdr = Seq(0xFF, 0xF8, 0x70, 0x08, 0x00, 0x00, 0x02)
    val body = Seq(0x12, 0x00, 0x64, 0x00, 0xB2, 0x00)
    val frame = hdr ++ Seq(refCrc8(hdr)) ++ body
    val samples = Seq[Short](100, 101, 103)
    val bytes = (handFlacHeader(3, samples) ++ frame ++
      Seq(refCrc16(frame) >>> 8, refCrc16(frame) & 0xFF))
      .map(_.toByte).toArray
    assert(Codecs.decodeFlac(bytes).samples.toSeq === samples)
  }

  test("FLAC round-trip: encode then decode is the identity (empty, " +
      "tiny, constant, random, smooth, and multi-frame streams with " +
      "multi-byte UTF-8 frame numbers)") {
    val rnd = new scala.util.Random(3)
    def rt(s: Array[Short]): Int = {
      val enc = Codecs.encodeFlac(8000, s)
      val dec = Codecs.decodeFlac(enc)
      assert(dec.sampleRate === 8000 && dec.bitsPerSample === 16)
      assert(java.util.Arrays.equals(dec.samples, s))
      enc.length
    }
    rt(Array.empty[Short]); rt(Array[Short](123)); rt(Array[Short](5, -7))
    val constBytes = rt(Array.fill[Short](500)(-12345))
    assert(constBytes < 100, "constant stream must compress to one " +
      s"CONSTANT subframe, got $constBytes bytes")
    rt(Array.fill[Short](1000)(rnd.nextInt(65536).toShort))
    val sineBytes = rt(Array.tabulate[Short](5000)(i =>
      (8000 * math.sin(i * 0.02)).toShort))
    assert(sineBytes < 5000, "smooth signals must beat PCM (Rice coding " +
      s"of order-2 residuals), got $sineBytes bytes for 10000 PCM bytes")
    // > 128 frames forces 2-byte UTF-8 frame numbers
    rt(Array.fill[Short](530000)(rnd.nextInt(200).toShort))
  }

  test("FLAC malformed inputs fail loudly (magic, truncation, residual " +
      "bit flip vs CRC-16, header bit flip vs CRC-8)") {
    def boom(b: Array[Byte]): Unit =
      assertThrows[IllegalArgumentException](Codecs.decodeFlac(b))
    boom(Array[Byte](1, 2, 3, 4, 5))
    val good = Codecs.encodeFlac(8000,
      Array.tabulate[Short](300)(i => (i * 7).toShort))
    boom(good.take(good.length - 2))
    val tail = good.clone()
    tail(good.length - 10) = (tail(good.length - 10) ^ 0x40).toByte
    boom(tail)
    val head = good.clone() // byte 47 sits in the first frame header
    head(47) = (head(47) ^ 0x01).toByte
    boom(head)
  }

  test("q171 pipeline: FLAC-encoded corpus decodes to EXACTLY the " +
      "stats of the uncompressed WAV path (lossless: same sample " +
      "contract, compressed container)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val docs = Seq(
      (1L, "abc"), (2L, ""), (3L, "ééA"), (4L, "x" * 100),
      (5L, "the quick brown fox jumps over the lazy dog " * 4))
      .toDF("doc_id", "text")
    val viaFlac = Multimodal.decodeFlacStats(
        Multimodal.flacFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    val viaWav = Multimodal.decodeAudioStats(
        Multimodal.wavFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(viaFlac === viaWav, "container swap changed the decoded truth")
    assert(viaFlac(1L).n_samples === 3L &&
      viaFlac(1L).sum_sample === ((97 - 64) + (98 - 64) + (99 - 64)) * 256L)
    assert(viaFlac(2L).n_samples === 0L)
  }

  // ------------------------------------------------------------- JPEG

  /** A minimal hand-assembled single-component baseline JPEG: all-ones
    * quant table, a custom one-symbol-per-class DHT (the decoder must
    * read tables from the file, so the golden need not use the
    * encoder's tables), and a hand-derived entropy stream.
    */
  private def handJpeg(dcBits: Seq[Int], dcVals: Seq[Int],
      acBits: Seq[Int], acVals: Seq[Int], scan: Seq[Int]): Array[Byte] = {
    val b = Seq.newBuilder[Int]
    b ++= Seq(0xFF, 0xD8) // SOI
    b ++= Seq(0xFF, 0xDB, 0x00, 0x43, 0x00) // DQT, 8-bit, id 0
    b ++= Seq.fill(64)(1)
    // SOF0: 8-bit, 8x8, one component, 1x1 sampling, qtable 0
    b ++= Seq(0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x08, 0x00, 0x08,
      0x01, 0x01, 0x11, 0x00)
    def dht(cls: Int, bits: Seq[Int], vals: Seq[Int]): Unit = {
      b ++= Seq(0xFF, 0xC4)
      val len = 2 + 1 + 16 + vals.length
      b ++= Seq(len >>> 8, len & 0xFF, cls << 4)
      b ++= bits; b ++= vals
    }
    dht(0, dcBits, dcVals); dht(1, acBits, acVals)
    // SOS: one component, DC table 0 / AC table 0, full spectral band
    b ++= Seq(0xFF, 0xDA, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3F, 0x00)
    b ++= scan
    b ++= Seq(0xFF, 0xD9) // EOI
    b.result().map(_.toByte).toArray
  }

  test("golden JPEG: hand-assembled DC-only constant-100 block (own DHT, " +
      "hand-derived entropy bits) decodes to the exact pixels") {
    // DC diff = (100-128)*8 = -224, category 8, payload bits
    // -224 + 255 = 31 = 00011111. DC table: single len-1 code "0" for
    // category 8; AC table: single len-1 code "0" for EOB.
    // Scan bits: 0 00011111 0 + six 1-pad = 00001111 10111111.
    val bytes = handJpeg(
      dcBits = 1 +: Seq.fill(15)(0), dcVals = Seq(8),
      acBits = 1 +: Seq.fill(15)(0), acVals = Seq(0x00),
      scan = Seq(0x0F, 0xBF))
    val img = Codecs.decodeJpeg(bytes)
    assert(img.width === 8 && img.height === 8)
    assert(img.pixels.forall(p => (p & 0xFF) == 100),
      "DC-only block must reconstruct to the constant source value")
  }

  test("golden JPEG: hand-assembled block with one AC coefficient " +
      "exercises zigzag placement, run/size decode, and the IDCT " +
      "against the T.81 formula computed independently") {
    // Quantized coefficients: DC = 0, AC at zigzag index 1 (natural
    // u=1, v=0) = +4. DC table: len-2 codes 00->cat0, 01->cat8 (cat8
    // unused here); AC: len-2 codes 00->EOB, 01->(run0,size3).
    // Scan bits: DC 00; AC 01 100 (4); EOB 00; pad 1111111
    //   -> 00011000 01111111 = 0x18 0x7F.
    val bytes = handJpeg(
      dcBits = Seq(0, 2) ++ Seq.fill(14)(0), dcVals = Seq(0, 8),
      acBits = Seq(0, 2) ++ Seq.fill(14)(0), acVals = Seq(0x00, 0x03),
      scan = Seq(0x18, 0x7F))
    val img = Codecs.decodeJpeg(bytes)
    // f(x,y) = 1/4 C(u=1) C(v=0) * 4 * cos((2x+1)pi/16) * cos(0)
    //        = cos((2x+1)pi/16) / sqrt(2), constant down each column
    for (x <- 0 until 8) {
      val want = Math.round(
        128.0 + math.cos((2 * x + 1) * math.Pi / 16) / math.sqrt(2.0)).toInt
      for (y <- 0 until 8)
        assert((img.pixels((y * 8 + x) * 3) & 0xFF) === want,
          s"pixel ($x,$y)")
    }
  }

  test("JPEG round-trip: block-constant planes are EXACT (DC-only + " +
      "all-ones quant), including every DC value 0..255 and cross-block " +
      "DC prediction") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 10) {
      val nb = 1 + rnd.nextInt(40)
      val codes = Array.fill(nb)(rnd.nextInt(128).toByte)
      val gray = new Array[Byte](64 * nb)
      for (i <- 0 until nb)
        java.util.Arrays.fill(gray, 64 * i, 64 * (i + 1), codes(i))
      val img = Codecs.decodeJpeg(Codecs.encodeJpeg(8, 8 * nb, gray))
      assert(img.width === 8 && img.height === 8 * nb)
      for (i <- 0 until gray.length; ch <- 0 until 3)
        assert((img.pixels(i * 3 + ch) & 0xFF) === (gray(i) & 0xFF))
    }
    for (v <- 0 until 256) { // every DC magnitude category both signs
      val img = Codecs.decodeJpeg(Codecs.encodeJpeg(8, 8,
        Array.fill(64)(v.toByte)))
      assert((img.pixels(0) & 0xFF) === v, s"constant $v")
    }
  }

  test("JPEG round-trip: arbitrary planes (non-multiple-of-8 dims, " +
      "real AC coefficients) reconstruct within the quantization " +
      "error bound") {
    val rnd = new scala.util.Random(11)
    var maxErr = 0
    for (_ <- 0 until 10) {
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(40)
      val gray = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val img = Codecs.decodeJpeg(Codecs.encodeJpeg(w, h, gray))
      assert(img.width === w && img.height === h)
      for (i <- 0 until w * h) {
        val e = math.abs((img.pixels(i * 3) & 0xFF) - (gray(i) & 0xFF))
        if (e > maxErr) maxErr = e
      }
    }
    // 64 coefficients, each rounded by <= 0.5, basis magnitude <= 1/4
    assert(maxErr <= 8, s"reconstruction error $maxErr exceeds bound")
  }

  test("JPEG malformed inputs fail loudly (no SOI, truncation, " +
      "non-baseline SOF, restart intervals)") {
    def boom(b: Array[Byte]): Unit =
      assertThrows[IllegalArgumentException](Codecs.decodeJpeg(b))
    boom(Array[Byte](1, 2, 3, 4))
    val good = Codecs.encodeJpeg(8, 8, Array.fill(64)(7.toByte))
    boom(good.take(good.length - 30)) // cut mid-headers
    boom(good.take(good.length - 3))  // cut inside the scan
    val progressive = good.clone()
    // SOF0 marker (FFC0) -> SOF2: progressive must be rejected by name
    val sof = progressive.indexOfSlice(Seq(0xFF.toByte, 0xC0.toByte))
    progressive(sof + 1) = 0xC2.toByte
    boom(progressive)
  }

  test("JPEG refuses an oversubscribed DHT: every code of the first " +
      "table moved to length 1 is refused when the table is read") {
    val good = Codecs.encodeJpeg(8, 8, Array.fill(64)(7.toByte))
    val dht = good.indexOfSlice(Seq(0xFF.toByte, 0xC4.toByte))
    val bits = dht + 5 // marker, length, Tc/Th
    val n = (0 until 16).map(l => good(bits + l) & 0xFF).sum
    assert(n >= 3)
    // the same number of HUFFVAL bytes follows, so the segment still
    // parses; only the BITS counts change
    val bad = good.clone()
    bad(bits) = n.toByte
    (1 until 16).foreach(l => bad(bits + l) = 0)
    val e = intercept[IllegalArgumentException](Codecs.decodeJpeg(bad))
    assert(e.getMessage.endsWith("jpeg: oversubscribed prefix code"))
  }

  test("q170 pipeline: JPEG-encoded corpus (one constant 8x8 block per " +
      "code, real Huffman transform coding) decodes to statistics " +
      "predictable from the source text") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val docs = Seq(
      (1L, "abc"), (2L, ""), (3L, "ééA"), (4L, "x" * 100))
      .toDF("doc_id", "text")
    val j = Multimodal.decodeJpegStats(
        Multimodal.jpegFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(j(1L).width === 8 && j(1L).height === 24, "one block per code")
    assert(j(1L).n_pixels === 192L)
    assert(j(1L).sum_channel === 3L * 64 * (97 + 98 + 99),
      "triplicated gray, 64 pixels per code")
    assert(j(1L).sum_channel_sq ===
      3L * 64 * (97L * 97 + 98L * 98 + 99L * 99))
    assert(j(1L).max_channel === 99)
    assert(j(1L).mean_channel === (97.0 + 98 + 99) / 3.0)
    assert(j(2L).height === 8 && j(2L).sum_channel === 0L,
      "empty text encodes one black block")
    assert(j(3L).sum_channel === 3L * 64 * 65,
      "only the ASCII 'A' contributes")
    assert(j(4L).height === 800 && j(4L).sum_channel === 3L * 64 * 120 * 100)
  }

  test("q177 real-pixel downsample: box-filter means match an " +
      "independently computed reference (incl. odd heights dropping " +
      "the trailing row and too-small images emitting a zero row)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val docs = Seq(
      (1L, "abc"),        // h = 1 -> no full 2x2 block: zero-sized out
      (2L, "x" * 100),    // h = 3 (odd): out height 1, third row dropped
      (3L, "the quick brown fox jumps over the lazy dog " * 3)) // h = 3
      .toDF("doc_id", "text")
    val out = Multimodal.downsampleImageStats(
        Multimodal.imagesFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(out(1L).out_height === 0 && out(1L).sum_channel === 0L &&
      out(1L).out_width === 8)
    // independent reference: rebuild the padded plane from the text and
    // average 2x2 blocks directly
    def reference(text: String): (Long, Int) = {
      val codes = text.getBytes("UTF-8").filter(b => (b & 0x80) == 0)
      val h = math.max(1, (codes.length + 47) / 48)
      def plane(i: Int): Int = if (i < codes.length) codes(i) & 0xFF else 0
      var sum = 0L; var mx = 0
      for (oy <- 0 until h / 2; ox <- 0 until 8; ch <- 0 until 3) {
        val v = (plane(3 * (16 * (2 * oy) + 2 * ox) + ch) +
          plane(3 * (16 * (2 * oy) + 2 * ox + 1) + ch) +
          plane(3 * (16 * (2 * oy + 1) + 2 * ox) + ch) +
          plane(3 * (16 * (2 * oy + 1) + 2 * ox + 1) + ch) + 2) / 4
        sum += v; if (v > mx) mx = v
      }
      (sum, mx)
    }
    for ((id, text) <- Seq(2L -> "x" * 100,
        3L -> ("the quick brown fox jumps over the lazy dog " * 3))) {
      val (sum, mx) = reference(text)
      assert(out(id).out_height === 1, s"doc $id")
      assert(out(id).sum_channel === sum, s"doc $id sum")
      assert(out(id).max_channel === mx, s"doc $id max")
    }
    // a uniform plane downsamples to itself: mean of equal values
    val const = Multimodal.downsampleImageStats(
        Multimodal.imagesFromText(spark,
          Seq((9L, "D" * 96)).toDF("doc_id", "text"), "doc_id", "text"))
      .collect().head
    assert(const.out_height === 1 && const.max_channel === 'D'.toInt)
    assert(const.sum_channel === 24L * 'D'.toInt,
      "uniform 2x2 blocks must average to the constant")
  }

  test("q178 quarantine decode: planted corruption is flagged (never " +
      "crashes, never silently decodes), and clean payloads emit the " +
      "same statistics as the plain decode path") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // ids 13 and 26 are corrupted (id % 13 == 0); 1/2/3 stay clean
    val docs = Seq((1L, "abc"), (2L, ""), (3L, "x" * 100),
      (13L, "corrupted payload body"), (26L, "another broken one"))
      .toDF("doc_id", "text")
    val tried = Multimodal.tryDecodeImageStats(
        Multimodal.corruptedPngFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(tried(13L).decode_ok === 0 && tried(26L).decode_ok === 0)
    assert(tried(13L).sum_channel === 0L && tried(13L).n_pixels === 0L,
      "quarantined rows must be zeroed, not partially decoded")
    val clean = Multimodal.decodePngStats(
        Multimodal.pngFromText(spark,
          docs.filter(docs("doc_id") < 13), "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(tried(id).decode_ok === 1)
      assert(tried(id).sum_channel === clean(id).sum_channel &&
        tried(id).n_pixels === clean(id).n_pixels, s"doc $id")
    }
  }

  test("q153 dHash: identical payloads hash identically, a hand-built " +
      "gradient image sets the predicted bits, banding is lossless at " +
      "hamming <= 3 (banded pair set == brute force)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // hand-built: one doc whose 16-wide gray row strictly increases ->
    // every (r,c) comparison is gray(c*16/9) < gray((c+1)*16/9), all
    // true since the sample columns 0,1,3,5,7,8,10,12,14 increase
    val ramp = (0 until 48).map(i => ('0' + (i / 3)).toChar).mkString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, ramp),
      (4L, ""),
      (5L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    val hashes = Multimodal.decodeImageDHash(
      Multimodal.imagesFromText(spark, docs, "doc_id", "text"))
    val byId = hashes.collect().map(h => h.media_id -> h).toMap
    assert(byId(1L).hash_hi === byId(2L).hash_hi &&
      byId(1L).hash_lo === byId(2L).hash_lo, "same pixels, same hash")
    assert(byId(3L).hash_hi === 0xFFFFFFFFL && byId(3L).hash_lo === 0xFFFFFFFFL,
      "strictly increasing gray row sets every bit in every grid row")
    assert(byId(4L).hash_hi === 0L && byId(4L).hash_lo === 0L,
      "all-black image has no strict increase anywhere")
    // lossless banding: brute-force hamming <= 3 over a bigger corpus
    val corpus = (0L until 200L).map(i =>
        (i, s"word${i % 7} text${i % 13} tail${i % 3} pad${i % 29} end"))
      .toDF("doc_id", "text")
    val hs = Multimodal.decodeImageDHash(
      Multimodal.imagesFromText(spark, corpus, "doc_id", "text"))
    val all = hs.collect()
    val brute = (for {
      a <- all; b <- all if a.media_id < b.media_id
      d = java.lang.Long.bitCount(a.hash_hi ^ b.hash_hi) +
        java.lang.Long.bitCount(a.hash_lo ^ b.hash_lo)
      if d <= 3
    } yield (a.media_id, b.media_id, d.toLong)).toSet
    val banded = Multimodal.dhashNearDupPairs(hs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === brute, "4x16-bit banding must be lossless at <= 3")
    assert(brute.nonEmpty, "the modular corpus must contain near-dup pairs")
  }

  test("decodePpmStream: hand-built two-frame stream parses to the exact " +
      "frames; trailing garbage and truncated frames fail loudly") {
    val f1 = Codecs.encodePpm(2, 1, 255,
      Array(10, 20, 30, 40, 50, 60).map(_.toByte))
    val f2 = Codecs.encodePpm(1, 2, 255,
      Array(1, 2, 3, 4, 5, 6).map(_.toByte))
    val frames = Codecs.decodePpmStream(f1 ++ f2)
    assert(frames.length === 2)
    assert(frames(0).width === 2 && frames(0).height === 1)
    assert(frames(0).pixels.map(_ & 0xFF).toSeq === Seq(10, 20, 30, 40, 50, 60))
    assert(frames(1).width === 1 && frames(1).height === 2)
    assert(frames(1).pixels.map(_ & 0xFF).toSeq === Seq(1, 2, 3, 4, 5, 6))
    intercept[IllegalArgumentException](
      Codecs.decodePpmStream(f1 ++ Array('X'.toByte)))
    intercept[IllegalArgumentException](
      Codecs.decodePpmStream(f1 ++ f2.dropRight(1)))
    assert(Codecs.decodePpmStream(Array.emptyByteArray).isEmpty)
  }

  test("q161/q162 video pipelines: frame walk, sampling, and scene cuts " +
      "are predictable from the source text") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // 100 'x' -> 3 frames (48, 48, 4 codes); a constant stream has no cuts
    val flat = "x" * 100
    // 48 '0' then 48 'z' -> one violent cut: |122*48 - 48*48| = 3552
    val cutty = ("0" * 48) + ("z" * 48)
    val docs = Seq((1L, flat), (2L, cutty), (3L, "")).toDF("doc_id", "text")
    val vs = Multimodal.decodeVideoStats(
        Multimodal.videoFromText(spark, docs, "doc_id", "text"), stride = 4)
      .collect().map(v => v.media_id -> v).toMap
    assert(vs(1L).n_frames === 3L && vs(1L).n_pixels === 48L)
    assert(vs(1L).sum_channel === 120L * 100)
    assert(vs(1L).sampled_frames === 1L, "frames 0..2, stride 4 -> frame 0")
    assert(vs(1L).sampled_sum === 120L * 48)
    assert(vs(3L).n_frames === 1L && vs(3L).sum_channel === 0L)
    val sc = Multimodal.detectSceneCuts(
        Multimodal.videoFromText(spark, docs, "doc_id", "text"),
        threshold = 1000L)
      .collect().map(v => v.media_id -> v).toMap
    // frames 0,1 are identical (no cut); the zero-padded partial frame 2
    // drops the sum 5760 -> 480, a real 5280 cut the detector must find
    assert(sc(1L).n_cuts === 1L && sc(1L).max_delta === 5760L - 480L,
      s"expected exactly the partial-frame cut, got ${sc(1L)}")
    assert(sc(2L).n_cuts === 1L && sc(2L).max_delta ===
      (122L - 48L) * 48, "the planted cut must be found exactly")
    assert(sc(3L).n_cuts === 0L && sc(3L).max_delta === 0L)
  }

  test("q157/q158 audio pipelines: envelope fingerprint and screening " +
      "features are predictable from the source text; a lightly edited " +
      "clip stays within a few bits of the original") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val edited = base.replace("zeta", "zety") // one char differs
    val docs = Seq(
      (1L, base), (2L, base), (3L, edited), (4L, ""), (5L, "ab"))
      .toDF("doc_id", "text")
    val fps = Multimodal.decodeAudioFingerprint(
        Multimodal.wavFromText(spark, docs, "doc_id", "text"))
      .collect().map(f => f.media_id -> f).toMap
    assert(fps(1L).hash_hi === fps(2L).hash_hi &&
      fps(1L).hash_lo === fps(2L).hash_lo, "same samples, same fingerprint")
    val editDist = java.lang.Long.bitCount(fps(1L).hash_hi ^ fps(3L).hash_hi) +
      java.lang.Long.bitCount(fps(1L).hash_lo ^ fps(3L).hash_lo)
    assert(editDist <= 4,
      s"a one-char edit moved the envelope hash by $editDist bits")
    assert(fps(4L).n_samples === 0L &&
      fps(4L).hash_hi === 0L && fps(4L).hash_lo === 0L,
      "empty clip hashes to zero")
    // n=2: probes alternate between the two samples; well-defined
    assert(fps(5L).n_samples === 2L)
    val ft = Multimodal.decodeAudioFeatures(
        Multimodal.wavFromText(spark, docs, "doc_id", "text"))
      .collect().map(f => f.media_id -> f).toMap
    // hand-check "ab": samples (97-64)*256, (98-64)*256 — both positive
    assert(ft(5L).zero_crossings === 0L)
    assert(ft(5L).peak === 34L * 256)
    assert(ft(5L).sum_abs === (33L + 34L) * 256)
    // base: spaces (32-64 < 0) between positive letter runs — every word
    // boundary contributes exactly 2 sign flips; 9 spaces => 18
    assert(ft(1L).zero_crossings === 18L,
      s"expected 18 crossings, got ${ft(1L).zero_crossings}")
    assert(ft(4L).n_samples === 0L && ft(4L).peak === 0L)
  }

  // ------------------------------------------------------------ ADPCM

  /** Hand-assemble an IMA ADPCM RIFF container (independent of
    * encodeWavAdpcm): fmt tag 0x11 with cbSize/samplesPerBlock, a fact
    * chunk, and raw block bytes.
    */
  private def handAdpcm(blockAlign: Int, fact: Int,
      blocks: Array[Byte]): Array[Byte] = {
    val spb = (blockAlign - 4) * 2 + 1
    val bb = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + blocks.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(52 + blocks.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(0x11).putShort(1).putInt(8000).putInt(4000)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(spb.toShort)
    bb.put("fact".getBytes("US-ASCII")).putInt(4).putInt(fact)
    bb.put("data".getBytes("US-ASCII")).putInt(blocks.length).put(blocks)
    bb.array()
  }

  test("golden ADPCM: a hand-traced nibble stream (step-index growth " +
      "through 0->2->10, sign nibbles, clamps) decodes to the exact " +
      "paper samples") {
    // seed pred=0 idx=0; nibbles 1,4,7,9,0,15,2,12 walk the step table
    // as hand-computed: dq = step>>3 (+step)(+step>>1)(+step>>2)
    val block = Array[Byte](0, 0, 0, 0, // header: pred 0, idx 0, rsvd
      0x41, 0x97.toByte, 0xF0.toByte, 0xC2.toByte) // low nibble first
    val wav = Codecs.decodeWavAdpcm(handAdpcm(8, 9, block))
    assert(wav.channels === 1 && wav.sampleRate === 8000)
    assert(wav.samples.toSeq ===
      Seq[Short](0, 1, 8, 24, 18, 20, -10, 11, -23))
  }

  test("ADPCM encoder: hand-checked nibble selection ([0,5,-3] -> " +
      "nibbles 3,12 then zero-difference pads), genuinely LOSSY (5 " +
      "reconstructs as 4) but deterministic, fact-trimmed on decode") {
    val enc = Codecs.encodeWavAdpcm(8000, Array[Short](0, 5, -3),
      blockAlign = 8)
    // data chunk tail: 4-byte header + nibble bytes C3 00 00 00
    assert(enc.takeRight(8).toSeq === Seq[Byte](0, 0, 0, 0,
      0xC3.toByte, 0, 0, 0))
    val wav = Codecs.decodeWavAdpcm(enc)
    assert(wav.samples.toSeq === Seq[Short](0, 4, -3),
      "step-7 quantization reconstructs 5 as 4 — lossy, deterministically")
  }

  test("ADPCM blockwise-constant signals are a lossless fixed point " +
      "(zero-difference nibbles at step index 0), across blocks and " +
      "with a trimmed final block; malformed payloads fail loudly") {
    val spb = 505
    val codes = Array[Int](97, 98, 40)
    val samples = codes.flatMap(c =>
      Array.fill(spb)(((c - 64) * 256).toShort))
    val wav = Codecs.decodeWavAdpcm(Codecs.encodeWavAdpcm(8000, samples))
    assert(wav.samples.toSeq === samples.toSeq,
      "constant blocks must round-trip exactly through the lossy codec")
    // partial final block: fact trims the pad nibbles
    val odd = samples.take(2 * spb + 17)
    assert(Codecs.decodeWavAdpcm(Codecs.encodeWavAdpcm(8000, odd))
      .samples.toSeq === odd.toSeq)
    // empty input: zero blocks, zero samples
    assert(Codecs.decodeWavAdpcm(Codecs.encodeWavAdpcm(8000,
      Array.empty[Short])).samples.isEmpty)
    // malformed: a PCM WAV is not ADPCM
    intercept[IllegalArgumentException](Codecs.decodeWavAdpcm(
      Codecs.encodeWav(1, 8000, Array[Short](1, 2))))
    // step index out of range in a block header
    val bad = Array[Byte](0, 0, 89.toByte, 0, 0, 0, 0, 0)
    intercept[IllegalArgumentException](
      Codecs.decodeWavAdpcm(handAdpcm(8, 9, bad)))
    // fact count exceeding the decodable samples
    intercept[IllegalArgumentException](
      Codecs.decodeWavAdpcm(handAdpcm(8, 10,
        Array[Byte](0, 0, 0, 0, 0, 0, 0, 0))))
  }

  test("q183 pipeline: ADPCM-encoded corpus decodes to statistics " +
      "predictable from the source text (505 samples per code)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "abc"), (2L, ""), (3L, "ééA"))
      .toDF("doc_id", "text")
    val a = Multimodal.decodeAdpcmStats(
        Multimodal.adpcmFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(a(1L).n_samples === 3L * 505)
    assert(a(1L).sum_sample ===
      505L * ((97 - 64) + (98 - 64) + (99 - 64)) * 256)
    assert(a(1L).min_sample === (97 - 64) * 256L &&
      a(1L).max_sample === (99 - 64) * 256L)
    assert(a(1L).duration_ms === 3L * 505 * 1000 / 8000)
    assert(a(2L).n_samples === 0L && a(2L).sum_sample === 0L)
    assert(a(3L).n_samples === 505L &&
      a(3L).sum_sample === 505L * (65 - 64) * 256,
      "only the ASCII 'A' contributes")
  }

  // ------------------------------------------------------------ MJPEG

  test("MJPEG stream walk: concatenated baseline JPEGs split at the " +
      "real marker boundaries (each frame decodes to its own pixels), " +
      "and malformed streams fail loudly") {
    // three frames with distinct constant blocks
    val f1 = Codecs.encodeJpeg(8, 8, Array.fill(64)(40.toByte))
    val f2 = Codecs.encodeJpeg(8, 16, Array.fill(128)(90.toByte))
    val f3 = Codecs.encodeJpeg(8, 8, Array.fill(64)(200.toByte))
    val frames = Codecs.decodeJpegStream(f1 ++ f2 ++ f3)
    assert(frames.length === 3)
    assert(frames(0).height === 8 && (frames(0).pixels(0) & 0xFF) === 40)
    assert(frames(1).height === 16 && (frames(1).pixels(0) & 0xFF) === 90)
    assert(frames(2).height === 8 && (frames(2).pixels(0) & 0xFF) === 200)
    assert(frames.forall(_.width === 8))
    // a single frame walks identically to the single-image decoder
    assert(Codecs.decodeJpegStream(f2).head.pixels.toSeq
      === Codecs.decodeJpeg(f2).pixels.toSeq)
    // garbage between frames: the walker demands SOI at every boundary
    intercept[IllegalArgumentException](
      Codecs.decodeJpegStream(f1 ++ Array[Byte](0, 0) ++ f2))
    // truncated tail: the second frame loses its EOI
    intercept[IllegalArgumentException](
      Codecs.decodeJpegStream(f1 ++ f2.dropRight(2)))
  }

  test("q181 pipeline: MJPEG-encoded corpus decodes to statistics " +
      "predictable from the source text (6-code frames, 192x sums)") {
    import spark.implicits._
    import graft.multimodal.{Codecs => C, Multimodal}
    val docs = Seq(
      (1L, "abcdefgh"),  // 8 codes -> 2 frames (6 + 2-padded)
      (2L, ""),          // empty -> 1 zero frame
      (3L, "x" * 30))    // 30 codes -> 5 frames
      .toDF("doc_id", "text")
    val v = Multimodal.decodeVideoStats(
        Multimodal.mjpegFromText(spark, docs, "doc_id", "text"),
        stride = 4, decoder = C.decodeJpegStream)
      .collect().map(s => s.media_id -> s).toMap
    val sum1 = "abcdefgh".map(_.toInt).sum * 192L
    assert(v(1L).n_frames === 2L && v(1L).n_pixels === 2L * 384)
    assert(v(1L).sum_channel === sum1)
    assert(v(1L).sampled_frames === 1L && // frame 0 only
      v(1L).sampled_sum === "abcdef".map(_.toInt).sum * 192L)
    assert(v(2L).n_frames === 1L && v(2L).sum_channel === 0L)
    assert(v(3L).n_frames === 5L &&
      v(3L).sum_channel === 30L * 'x'.toInt * 192)
  }

  // -------------------------------------------- mixed-lake quarantine

  test("q184 mixed quarantine: each container's planted corruption " +
      "class is rejected by its own verification layer, clean payloads " +
      "keep genuine stats, and ARBITRARY corruption never crashes") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // ids 0..47 cover all four formats; 0 (png), 13 (gif), 26 (jpeg),
    // 39 (flac) are the corrupt ones — one per container class
    val docs = (0L until 48L)
      .map(i => (i, s"media payload body $i " + "y" * (i % 31).toInt))
      .toDF("doc_id", "text")
    val tried = Multimodal.tryDecodeMixedStats(
        Multimodal.corruptMixed(
          Multimodal.mixedMediaLake(spark, docs, "doc_id", "text")))
      .collect().map(s => s.media_id -> s).toMap
    assert(tried.size === 48)
    for (id <- Seq(0L, 13L, 26L, 39L)) {
      assert(tried(id).decode_ok === 0 && tried(id).n_units === 0L &&
        tried(id).sum_val === 0L, s"id $id must quarantine zeroed")
    }
    assert(tried.count(_._2.decode_ok == 0) === 4,
      "exactly the four planted corruptions quarantine")
    // clean spot checks, one per format (codes of "media payload body 4 ")
    def codes(id: Long): Seq[Int] =
      s"media payload body $id " + "y" * (id % 31).toInt map (_.toInt)
    assert(tried(4L).media_type === "image/png" &&
      tried(4L).sum_val === codes(4L).sum)
    assert(tried(1L).media_type === "image/gif" &&
      tried(1L).sum_val === 3L * codes(1L).sum)
    assert(tried(2L).media_type === "image/jpeg" &&
      tried(2L).sum_val === 192L * codes(2L).sum &&
      tried(2L).n_units === 64L * codes(2L).length)
    assert(tried(3L).media_type === "audio/flac" &&
      tried(3L).sum_val === 256L * codes(3L).map(_ - 64).sum)
    // never-crash property: seeded random byte flips AND random-length
    // truncations over every container type — rows may decode or
    // quarantine, but every one comes back and none crashes the stage
    val clean = Multimodal.mixedMediaLake(spark, docs, "doc_id", "text")
      .collect()
    val rnd = new scala.util.Random(42)
    val mangled = clean.iterator.flatMap { r =>
      Iterator.tabulate(4) { k =>
        val b = r.content.clone()
        if (k % 2 == 0) {
          var j = 0
          while (j < 5) {
            val p = rnd.nextInt(b.length)
            b(p) = (b(p) ^ (1 + rnd.nextInt(255))).toByte
            j += 1
          }
          Multimodal.MediaRow(r.media_id * 10 + k, r.media_type, b)
        } else Multimodal.MediaRow(r.media_id * 10 + k, r.media_type,
          java.util.Arrays.copyOf(b, rnd.nextInt(b.length + 1)))
      }
    }.toSeq
    val res = Multimodal.tryDecodeMixedStats(mangled.toDS()).collect()
    assert(res.length === mangled.length,
      "every mangled payload must yield a row — decoded or quarantined")
  }

  // --------------------------------------- round-11 fix regressions

  test("REGRESSION (r11 GIF LZW width fix): a plane whose FINAL data " +
      "code lands exactly on the decoder's width bump, with the packed " +
      "stream ending on a byte boundary, round-trips exactly (pre-fix " +
      "the encoder wrote EOI one bit narrow and this plane died with " +
      "'truncated LZW stream')") {
    // b(0) = 0, b(i) = b(i-1) + (1 + 2*((i-1)/256)) mod 256: odd deltas
    // (gcd(d, 256) = 1) keep every consecutive byte pair globally
    // distinct, so the encoder never takes a dictionary hit. 8445
    // pixels then force two full-table clears and leave the third
    // segment's final insert exactly at the 1024-entry width boundary
    // with the pre-EOI bit count ≡ 6 (mod 8) — the one alignment where
    // a narrow EOI gets no padding-bit rescue (verified: the
    // mirror-less encoder fails decode on exactly this length and no
    // other in 8300..8700).
    val n = 8445 // = 563 * 15
    val plane = new Array[Byte](n)
    var i = 1
    while (i < n) {
      plane(i) = ((plane(i - 1) & 0xFF) + 1 + 2 * ((i - 1) / 256)).toByte
      i += 1
    }
    val img = Codecs.decodeGif(Codecs.encodeGif(563, 15, plane))
    assert(img.width === 563 && img.height === 15)
    // grayscale palette: the red channel of pixel p is index p
    var p = 0
    while (p < n) {
      assert((img.pixels(3 * p) & 0xFF) === (plane(p) & 0xFF),
        s"pixel $p diverged")
      p += 1
    }
  }

  test("REGRESSION (r11 NonFatal quarantine): a PNG whose IDAT chunk is " +
      "CRC-valid but NOT a zlib stream (Inflater's checked " +
      "DataFormatException) quarantines instead of crashing the stage") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // chunk CRC passes; payload 0x55... fails the zlib header check
    val hostile = pngSig ++ handIhdr(2, 2) ++
      handChunk("IDAT", Array.fill(8)(0x55.toByte)) ++
      handChunk("IEND", Array.emptyByteArray)
    intercept[Exception](Codecs.decodePng(hostile))
    val clean = graft.multimodal.Multimodal
      .pngFromText(spark, Seq((1L, "abc")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().head
    val tried = Multimodal.tryDecodeImageStats(
        Seq(Multimodal.MediaRow(7L, "image/png", hostile), clean).toDS())
      .collect().map(s => s.media_id -> s).toMap
    assert(tried(7L).decode_ok === 0 && tried(7L).n_pixels === 0L,
      "non-zlib IDAT must quarantine, zeroed")
    assert(tried(1L).decode_ok === 1 &&
      tried(1L).sum_channel === 97L + 98 + 99,
      "the clean payload in the same batch still decodes")
  }

  test("REGRESSION (r11 dimension caps): gifFromText truncates at " +
      "exactly 16*65535 ASCII codes and jpegFromText at 8191 — height " +
      "pins at the 16-bit ceiling and over-cap codes contribute nothing") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val cap = 16 * 65535 // 1048560
    val docs = Seq((1L, "x" * (cap - 1)), (2L, "x" * cap),
      (3L, "x" * (cap + 7))).toDF("doc_id", "text")
    val g = Multimodal.decodeGifStats(
        Multimodal.gifFromText(spark, docs, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(g(1L).height === 65535 &&
      g(1L).sum_channel === 3L * 120 * (cap - 1))
    assert(g(2L).height === 65535 && g(2L).sum_channel === 3L * 120 * cap)
    assert(g(3L).height === 65535 && g(3L).sum_channel === 3L * 120 * cap,
      "codes beyond the 16*65535 cap must contribute nothing")
    val jcap = 8191
    val jd = Seq((1L, "y" * (jcap - 1)), (2L, "y" * jcap),
      (3L, "y" * (jcap + 5))).toDF("doc_id", "text")
    val j = Multimodal.decodeJpegStats(
        Multimodal.jpegFromText(spark, jd, "doc_id", "text"))
      .collect().map(s => s.media_id -> s).toMap
    assert(j(1L).height === 8 * (jcap - 1) &&
      j(1L).sum_channel === 3L * 121 * 64 * (jcap - 1))
    assert(j(2L).height === 8 * jcap &&
      j(2L).sum_channel === 3L * 121 * 64 * jcap)
    assert(j(3L).height === 8 * jcap &&
      j(3L).sum_channel === 3L * 121 * 64 * jcap,
      "codes beyond the 8191 cap must contribute nothing")
  }

  test("REGRESSION (r13 ADPCM trailing garbage): bytes after the last " +
      "RIFF chunk are rejected loudly, matching the decodeFlc/" +
      "decodeJpegStream container contract") {
    import graft.multimodal.Codecs
    val wire = Codecs.encodeWavAdpcm(8000, Array.fill[Short](505)(100))
    Codecs.decodeWavAdpcm(wire) // sanity: the clean stream decodes
    val ex = intercept[IllegalArgumentException](
      Codecs.decodeWavAdpcm(wire :+ 0x00.toByte))
    assert(ex.getMessage.contains("trailing"),
      s"wrong failure: ${ex.getMessage}")
    // a full bogus chunk header after data is also trailing garbage
    intercept[IllegalArgumentException](Codecs.decodeWavAdpcm(
      wire ++ "JUNK".getBytes ++ Array[Byte](99, 0, 0, 0)))
  }

  test("REGRESSION (r13 corruptMixed SOF0 bound): a JPEG payload with " +
      "no baseline SOF0 marker raises a clear contract error instead " +
      "of an executor ArrayIndexOutOfBoundsException") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // media_id 13 selects the corruption branch; the payload is a
    // structurally plausible prefix with no FF C0 anywhere
    val rows = Seq(Multimodal.MediaRow(13L, "image/jpeg",
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xDB.toByte,
        0x00, 0x04, 0x01, 0x02))).toDS()
    val ex = intercept[Exception](
      Multimodal.corruptMixed(rows).collect())
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("SOF0"), s"wrong failure: $msgs")
  }

  test("MP3 frame walk: encode/walk round-trips frames exactly — " +
      "header-table lengths, offsets, padding — and the ID3v2 " +
      "syncsafe size crosses the 7-bit byte boundary") {
    import graft.multimodal.Codecs
    // three frames covering both padding values and distinct table rows
    val frames = Seq((1, 0, 0), (14, 2, 1), (9, 1, 0))
    val id3 = 200 // > 127: the syncsafe encoding spans two size bytes
    val bytes = Codecs.encodeMp3Stream(frames, id3)
    val s = Codecs.decodeMp3Stream(bytes)
    assert(s.id3Bytes === 210)
    assert(s.frames.map(f => (f.bitrateKbps, f.sampleRate, f.padding)) ===
      Seq((32, 44100, 0), (320, 32000, 1), (128, 48000, 0)))
    // hand-computed slot counts: 144000*32/44100=104, 144000*320/32000
    // +1=1441, 144000*128/48000=384
    assert(s.frames.map(_.length) === Seq(104, 1441, 384))
    assert(s.frames.map(_.offset) === Seq(210, 314, 1755))
    assert(bytes.length === 210 + 104 + 1441 + 384)
    // a tag-less stream walks from offset 0
    val bare = Codecs.decodeMp3Stream(Codecs.encodeMp3Stream(frames))
    assert(bare.id3Bytes === 0 && bare.frames.head.offset === 0)
  }

  test("ID3v2.3 text-frame walk: round-trip, padding stop, and loud " +
      "failures on truncation / flags / unsupported encoding") {
    import graft.multimodal.Codecs
    val tag = Codecs.encodeId3Frames(
      Seq("TIT2" -> "hello", "TPE1" -> "", "TALB" -> "wörld"), padding = 9)
    val stream = Codecs.encodeMp3Stream(Seq((3, 1, 0)), id3Payload = tag)
    assert(Codecs.decodeId3TextFrames(stream) ===
      Vector("TIT2" -> "hello", "TPE1" -> "", "TALB" -> "wörld"))
    // the frame-sync walk coexists: same stream, both layers parse
    assert(Codecs.decodeMp3Stream(stream).frames.size === 1)
    // a frame size overrunning the tag fails loudly
    val bad = stream.clone()
    bad(10 + 7) = 0x70.toByte // TIT2's BE size low byte -> huge
    intercept[IllegalArgumentException](Codecs.decodeId3TextFrames(bad))
    // non-zero frame flags are rejected by this subset
    val flagged = stream.clone(); flagged(10 + 8) = 0x40.toByte
    intercept[IllegalArgumentException](Codecs.decodeId3TextFrames(flagged))
    // flipping an ISO frame's encoding byte to UTF-16 makes its first
    // two text bytes ('h','e') an invalid BOM — rejected, not mis-decoded
    val enc = stream.clone(); enc(10 + 10) = 1.toByte
    intercept[IllegalArgumentException](Codecs.decodeId3TextFrames(enc))
  }

  test("ID3v2.3 UTF-16 text frames: BOM'd round-trip beyond Latin-1, " +
      "big-endian BOM accepted, and loud failures on v2.4 encodings, " +
      "lossy ISO encode, and surrogates") {
    import graft.multimodal.Codecs
    // mixed-encoding tag: TPE1 carries text no ISO-8859-1 frame could
    val tag = Codecs.encodeId3Frames(
      Seq("TIT2" -> "plain", "TPE1" -> "héllo — 日本語", "TALB" -> "wörld"),
      padding = 4, utf16 = Set("TPE1"))
    val stream = Codecs.encodeMp3Stream(Seq((3, 1, 0)), id3Payload = tag)
    assert(Codecs.decodeId3TextFrames(stream) ===
      Vector("TIT2" -> "plain", "TPE1" -> "héllo — 日本語",
        "TALB" -> "wörld"))
    // byte arithmetic: UTF-16 frame = header 10 + enc 1 + BOM 2 + 2/char
    val t = "héllo — 日本語"
    assert(tag.length ===
      (10 + 1 + 5) + (10 + 1 + 2 + 2 * t.length) + (10 + 1 + 5) + 4)
    // a big-endian BOM decodes too (the spec allows either byte order)
    val be = Codecs.encodeId3Frames(Seq("TXXX" -> "ab"), utf16 = Set("TXXX"))
    be(10 + 1) = 0xFE.toByte; be(10 + 2) = 0xFF.toByte // flip BOM to BE
    be(10 + 3) = 0; be(10 + 4) = 'a'.toByte // re-order the code units
    be(10 + 5) = 0; be(10 + 6) = 'b'.toByte
    val beTag = Codecs.encodeMp3Stream(Seq((3, 1, 0)), id3Payload = be)
    assert(Codecs.decodeId3TextFrames(beTag) === Vector("TXXX" -> "ab"))
    // v2.4-only encodings (0x02 UTF-16BE, 0x03 UTF-8) stay loud
    for (e <- Seq(2, 3)) {
      val bad = beTag.clone(); bad(10 + 10) = e.toByte
      intercept[IllegalArgumentException](Codecs.decodeId3TextFrames(bad))
    }
    // an ISO frame refuses non-Latin-1 text instead of '?'-substituting
    intercept[IllegalArgumentException](
      Codecs.encodeId3Frames(Seq("TIT2" -> "日本語")))
    // the UTF-16 subset refuses non-BMP text (surrogate pairs would
    // break the char-count = code-unit-count cross-engine contract)
    intercept[IllegalArgumentException](
      Codecs.encodeId3Frames(Seq("TIT2" -> "a😀b"),
        utf16 = Set("TIT2")))
  }

  test("MP3 census frame-less contract: a tag-only stream is valid " +
      "with zeroed frame fields, never a quarantine or a crash") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val tagOnly = Codecs.encodeMp3Stream(Seq.empty, id3Size = 40)
    assert(Codecs.decodeMp3Stream(tagOnly).frames.isEmpty)
    val ds = Seq(Multimodal.MediaRow(1L, "audio/mpeg", tagOnly)).toDS()
    val c = Multimodal.mp3FrameCensus(ds).collect()
    assert(c.length === 1)
    assert(c.head === Multimodal.Mp3Census(1L, 50L, 0L, 50L, 0L, 0L, 0L, 0L))
    val t = Multimodal.tryMp3Census(ds).collect()
    assert(t.head.decode_ok === 1L && t.head.n_frames === 0L)
  }

  test("H.264 NAL walk: encode/walk round-trips start codes, headers, " +
      "and every Exp-Golomb SPS field — offsets and RBSP sizes " +
      "hand-checked") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(profileIdc = 77, levelIdc = 31,
      log2MaxFrameNum = 7, maxNumRefFrames = 4, widthMbs = 16,
      heightMbs = 12, direct8x8 = 1)
    val bytes = Codecs.encodeH264Stream(sps,
      Seq((3, 5, 20), (0, 1, 17), (2, 1, 30)))
    val s = Codecs.decodeH264Stream(bytes)
    assert(s.sps === sps)
    assert(s.nals.map(n => (n.nalType, n.refIdc)) ===
      Vector((7, 3), (8, 3), (5, 3), (1, 0), (1, 2)))
    assert(s.nals.map(_.startCodeLen) === Vector(4, 3, 3, 3, 3))
    // SPS bit count by hand: 24 fixed header bits + ue(0)=1 +
    // ue(3)=5 + ue(2)=3 + ue(4)=5 + 1 + ue(15)=9 + ue(11)=7 +
    // 4 flags + stop = 34 + 5 + 5 + 9 + 7 = 60 bits -> 8 bytes
    assert(s.nals.head.rbspBytes === 8)
    assert(s.nals.map(_.offset) ===
      Vector(0, 4 + 1 + 8, 13 + 4 + 3, 20 + 4 + 20, 44 + 4 + 17))
    assert(bytes.length === 65 + 4 + 30)
    // slice payload bytes are nonzero by construction (no fake start
    // codes, no emulation prevention in the stub payload)
    assert(bytes.drop(20 + 4).take(20).forall(_ != 0))
  }

  test("H.264 emulation prevention: 00 00 0x sequences escape on the " +
      "wire and unescape back; a spurious 03 is rejected") {
    import graft.multimodal.Codecs
    val hot = Array[Byte](0, 0, 0, 0, 1, 0, 0, 2, 7, 0, 0, 3, 9)
    val esc = Codecs.escapeRbsp(hot)
    // escaped: 00 00 03 00 00 03 01 00 00 03 02 07 00 00 03 03 09
    assert(esc.map(_.toInt) ===
      Array(0, 0, 3, 0, 0, 3, 1, 0, 0, 3, 2, 7, 0, 0, 3, 3, 9))
    assert(Codecs.unescapeRbsp(esc) === hot)
    // no start code survives escaping
    assert(!esc.sliding(3).exists(w => w(0) == 0 && w(1) == 0 && w(2) == 1))
    // a 03 after 00 00 must be followed by <= 03 (or end) to be an
    // escape; anything else is a wire error, not silently passed through
    intercept[IllegalArgumentException](
      Codecs.unescapeRbsp(Array[Byte](0, 0, 3, 9)))
  }

  test("H.264 slice headers: slice_type and frame_num round-trip " +
      "through real Exp-Golomb bits with the SPS-declared frame_num " +
      "width, and the IDR constraints stay loud") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(77, 31, 9, 2, 4, 3, 0) // frame_num: 9 bits
    // plen parity drives the slice_type choice: 20 even -> I2/P0,
    // 17 odd -> P5; indices 1, 2 mod 512 are the frame_nums
    val bytes = Codecs.encodeH264Stream(sps,
      Seq((3, 5, 20), (0, 1, 17), (2, 1, 30)))
    val s = Codecs.decodeH264Stream(bytes)
    val sl = s.nals.filter(n => n.nalType == 1 || n.nalType == 5)
    assert(sl.map(n => (n.sliceType, n.frameNum)) ===
      Vector((2, 0), (5, 1), (0, 2)))
    // non-slice units carry the -1 sentinels
    assert(s.nals.take(2).map(_.sliceType) === Vector(-1, -1))
    // frame_num width really comes from the SPS: with log2 = 16 the
    // same slice list reads different header bits, still exact
    val wide = Codecs.H264Sps(77, 31, 16, 2, 4, 3, 0)
    val s2 = Codecs.decodeH264Stream(Codecs.encodeH264Stream(wide,
      Seq((3, 5, 20), (0, 1, 17))))
    assert(s2.nals.drop(2).map(_.frameNum) === Vector(0, 1))
    // an IDR whose frame_num bits are nonzero is rejected (§7.4.3):
    // flip the last frame_num bit — header bits are 1|011|1|9 zeros =
    // 14 bits, so bit 13 (frame_num's LSB) sits in payload byte 1
    val idrStart = bytes.length - (4 + 20) - (4 + 17) - (4 + 30) + 4
    val bad = bytes.clone()
    bad(idrStart + 1) = (bad(idrStart + 1) | 0x04).toByte
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(bad))
    // a slice arriving before any SPS is a contract error, not a
    // silent parse with a guessed width
    val spsLess = bytes.drop(4 + 1 + s.nals.head.rbspBytes)
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(spsLess))
  }

  test("H.264 PPS: multi-parameter-set round-trip with signed se(v) QP, " +
      "slice-to-PPS resolution, and loud dangling-reference checks") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(77, 31, 7, 4, 16, 12, 1)
    val ppss = Seq(
      Codecs.H264Pps(0, 0, entropyCodingMode = 0, numRefIdxL0 = 2,
        numRefIdxL1 = 1, initQpMinus26 = -13),
      Codecs.H264Pps(1, 0, entropyCodingMode = 1, numRefIdxL0 = 0,
        numRefIdxL1 = 0, initQpMinus26 = 12))
    // slices name their PPS: IDR -> 0, the P slices -> 1 then 0
    val bytes = Codecs.encodeH264StreamMultiPps(sps, ppss,
      Seq((3, 5, 20, 0), (0, 1, 17, 1), (2, 1, 30, 0)))
    val s = Codecs.decodeH264Stream(bytes)
    assert(s.ppss === ppss.toVector)
    assert(s.nals.count(_.nalType == 8) === 2)
    val sl = s.nals.filter(n => n.nalType == 1 || n.nalType == 5)
    assert(sl.map(_.ppsId) === Vector(0, 1, 0))
    // non-slice units carry the -1 sentinel
    assert(s.nals.filter(_.nalType != 1).filter(_.nalType != 5)
      .forall(_.ppsId === -1))
    // PPS 0's RBSP by hand: ue(0)=1 + ue(0)=1 + 1 + 1 + ue(0)=1 +
    // ue(2)=3 + ue(1)=3 + 1 + 2 + se(-13)=ue(26)=9 + 1 + 1 + 3 bits
    // = 28 bits + stop -> 4 bytes; PPS 1: ue(1)=3 + 1+1+1+1+1+1+1+2
    // + se(12)=ue(23)=9 + 1+1+3 = 26 + stop -> 4 bytes (23 = 2*12-1)
    assert(s.nals.filter(_.nalType == 8).map(_.rbspBytes) ===
      Vector(4, 4))
    // a slice naming an ABSENT PPS is a dangling reference, loudly
    val dangling = Codecs.encodeH264StreamMultiPps(sps, ppss,
      Seq((3, 5, 20, 0), (0, 1, 17, 2)))
    val e1 = intercept[IllegalArgumentException](
      Codecs.decodeH264Stream(dangling))
    assert(e1.getMessage.contains("dangling PPS reference"))
    // a PPS naming an absent SPS likewise — caught at the PPS, not
    // deferred to slice time
    val badSps = Codecs.encodeH264StreamMultiPps(sps,
      Seq(ppss.head.copy(spsId = 1)), Seq((3, 5, 20, 0)))
    val e2 = intercept[IllegalArgumentException](
      Codecs.decodeH264Stream(badSps))
    assert(e2.getMessage.contains("dangling SPS reference"))
    // duplicate PPS ids are a mux error, never a silent overwrite
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(
      Codecs.encodeH264StreamMultiPps(sps, Seq(ppss.head, ppss.head),
        Seq((3, 5, 20, 0)))))
    // out-of-range pic_init_qp is rejected by BOTH sides: the writer
    // refuses to code it, and a parsed value outside [-26, 25] (spec
    // §7.4.2.2) is a contract error
    intercept[IllegalArgumentException](
      Codecs.encodeH264StreamMultiPps(sps,
        Seq(ppss.head.copy(initQpMinus26 = 26)), Seq((3, 5, 20, 0))))
  }

  test("H.264 walk failure modes: forbidden bit, reserved NAL type, " +
      "ref_idc contract, missing SPS, and no start code all fail " +
      "loudly") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(66, 10, 4, 1, 1, 1, 0)
    val ok = Codecs.encodeH264Stream(sps, Seq((3, 5, 16)))
    assert(Codecs.decodeH264Stream(ok).nals.size === 3)
    // forbidden_zero_bit on the first header (the q205 corruption)
    val fb = ok.clone(); fb(4) = (fb(4) | 0x80).toByte
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(fb))
    // reserved NAL type 14
    val rt = ok.clone(); rt(4) = ((rt(4) & 0xE0) | 14).toByte
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(rt))
    // SPS with nal_ref_idc 0 violates §7.4.1
    val r0 = ok.clone(); r0(4) = (r0(4) & 0x1F).toByte
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(r0))
    // no start code at offset 0
    intercept[IllegalArgumentException](
      Codecs.decodeH264Stream(Array[Byte](9) ++ ok))
    // a stream whose only NALs are slices carries no SPS (the SPS NAL
    // is 4-byte SC + header + 5 RBSP bytes = 10; the remainder begins
    // with the PPS's own 3-byte start code)
    val spsLess = ok.drop(10)
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(spsLess))
  }

  test("H.264 SEI messages: ff-cascade type/size round-trip at both " +
      "widths and the 255 boundaries; byte accounting and trailing " +
      "bits stay loud") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(66, 20, 5, 1, 2, 2, 0)
    // cascade boundaries: 254 (one byte), 255 (FF 00), 256 (FF 01),
    // 510 (FF FF 00) — for both the type and the size fields
    for ((pt, sz) <- Seq((5, 254), (254, 255), (255, 256), (510, 300))) {
      val bytes = Codecs.encodeH264Stream(sps, Seq((3, 5, 16)),
        sei = Seq((pt, sz)))
      val s = Codecs.decodeH264Stream(bytes)
      assert(s.sei === Vector((pt, sz)), s"($pt, $sz)")
      val seiNal = s.nals.find(_.nalType == 6).get
      assert(seiNal.refIdc === 0) // §7.4.1: SEI carries nal_ref_idc 0
      assert(seiNal.rbspBytes ===
        (pt / 255 + 1) + (sz / 255 + 1) + sz + 1)
    }
    // a size over-declaration (payload runs past the NAL) is loud
    val ok = Codecs.encodeH264Stream(sps, Seq((3, 5, 16)),
      sei = Seq((5, 40)))
    val seiStart = 4 + 1 + Codecs.decodeH264Stream(ok).nals.head.rbspBytes +
      (3 + 1 + 3) + (3 + 1) // SPS NAL + PPS NAL + SEI SC/header
    val bad = ok.clone()
    bad(seiStart + 1) = 60.toByte // declared size 40 -> 60
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(bad))
    // a clobbered trailing byte is a missing rbsp_trailing_bits
    val bad2 = ok.clone()
    bad2(seiStart + 2 + 40) = 0x7F.toByte
    intercept[IllegalArgumentException](Codecs.decodeH264Stream(bad2))
  }

  test("H.264 hostile-input pin: seeded byte mutations of a valid " +
      "stream and raw random bytes either parse or raise the contract " +
      "error class — no index/arithmetic leak for the quarantine tier " +
      "to mask") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(88, 40, 11, 3, 16, 9, 1)
    val base = Codecs.encodeH264Stream(sps,
      Seq((3, 5, 24), (1, 1, 19), (0, 1, 33), (2, 1, 17)))
    val rnd = new scala.util.Random(0xC0DEC5L)
    var parsed = 0; var rejected = 0
    for (_ <- 1 to 400) {
      val b = base.clone()
      // 1-3 random byte stomps anywhere, including headers and sizes
      for (_ <- 0 to rnd.nextInt(3))
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try { Codecs.decodeH264Stream(b); parsed += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
      // any other exception class fails the test by propagating
    }
    // both outcomes occur at this seed: stomps in stub payload bytes
    // parse fine, stomps in structure get rejected
    assert(parsed > 0 && rejected > 0, s"parsed=$parsed rejected=$rejected")
    for (_ <- 1 to 200) {
      val junk = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      try Codecs.decodeH264Stream(junk)
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("MP3 frame walk failure modes: trailing garbage, lost sync, " +
      "truncated frame, and reserved table indices all fail loudly") {
    import graft.multimodal.Codecs
    val ok = Codecs.encodeMp3Stream(Seq((5, 0, 0)))
    // trailing garbage after the last frame
    intercept[IllegalArgumentException] {
      Codecs.decodeMp3Stream(ok :+ 0x00.toByte)
    }
    // lost sync: first header byte corrupted
    val badSync = ok.clone(); badSync(0) = 0x7F.toByte
    intercept[IllegalArgumentException](Codecs.decodeMp3Stream(badSync))
    // truncation inside the declared frame
    intercept[IllegalArgumentException] {
      Codecs.decodeMp3Stream(java.util.Arrays.copyOf(ok, ok.length - 1))
    }
    // forbidden bitrate index 15 and reserved sample-rate index 3
    val badBr = ok.clone(); badBr(2) = 0xF0.toByte
    intercept[IllegalArgumentException](Codecs.decodeMp3Stream(badBr))
    val badSr = ok.clone()
    badSr(2) = ((badSr(2) & 0xF0) | 0x0C).toByte
    intercept[IllegalArgumentException](Codecs.decodeMp3Stream(badSr))
    // an ID3 tag whose declared size overruns the stream
    val shortTag = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 1, 0)
    intercept[IllegalArgumentException](Codecs.decodeMp3Stream(shortTag))
  }

  // ---------------- Layer III side info (§2.4.1.7, r16)

  test("MP3 side info round-trips bit-exactly (normal and switched " +
      "windows) and the spec ceilings are loud") {
    import graft.multimodal.Codecs
    val gNorm = Codecs.Mp3Granule(1234, 288, 200, 9, 0, 0,
      Vector(31, 0, 17), 15, 7, 1, 0, 1)
    val gSwit = Codecs.Mp3Granule(4095, 0, 255, 15, 1, 2,
      Vector(5, 21), 0, 0, 0, 1, 0)
    val si = Codecs.Mp3SideInfo(511, 10, Vector(gNorm, gSwit))
    val b = Codecs.encodeMp3SideInfo(si)
    assert(b.length === 17)
    val back = Codecs.decodeMp3SideInfo(b, 0)
    assert(back.mainDataBegin === 511 && back.scfsi === 10)
    assert(back.granules(0) === gNorm)
    val g1 = back.granules(1)
    assert(g1.part23Length === 4095 && g1.windowSwitching === 1 &&
      g1.blockType === 2 && g1.tableSelect === Vector(5, 21))
    // big_values past the ceiling is loud at decode
    val bad = Codecs.encodeMp3SideInfo(Codecs.Mp3SideInfo(0, 0,
      Vector(gNorm.copy(bigValues = 289), gNorm)))
    val e = intercept[IllegalArgumentException](
      Codecs.decodeMp3SideInfo(bad, 0))
    assert(e.getMessage.contains("288"))
    // block_type 0 under window switching is reserved
    val bad2 = Codecs.encodeMp3SideInfo(Codecs.Mp3SideInfo(0, 0,
      Vector(gSwit.copy(blockType = 0), gNorm)))
    val e2 = intercept[IllegalArgumentException](
      Codecs.decodeMp3SideInfo(bad2, 0))
    assert(e2.getMessage.contains("reserved"))
  }

  test("a full stream's side-info walk reconciles with its frame walk") {
    import graft.multimodal.Codecs
    val g = Codecs.Mp3Granule(100, 50, 30, 1, 0, 0, Vector(1, 2, 3),
      4, 5, 0, 1, 0)
    val frames = (0 until 5).map { f =>
      ((1 + f % 14, f % 3, f % 2),
        Codecs.Mp3SideInfo(f * 9, f % 16, Vector(g, g.copy(bigValues = f))))
    }
    val b = Codecs.encodeMp3StreamSi(frames, id3Size = 33)
    val walked = Codecs.mp3SideInfos(b)
    assert(walked.size === 5)
    walked.zipWithIndex.foreach { case ((fr, si), f) =>
      assert(si.mainDataBegin === f * 9)
      assert(si.granules(1).bigValues === f)
      assert(fr.length === Codecs.mp3FrameLength(fr.bitrateKbps,
        fr.sampleRate, fr.padding))
    }
  }

  // ------------- CAVLC I-frame residuals (§7.3.5 / §9.2, r16)

  test("CAVLC I-frame slice round-trips every macroblock field: " +
      "trailing-one and level_prefix coefficient paths, all zigzag " +
      "positions, signed QP deltas") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(66, 30, 5, 2, 4, 4, 0)
    val mbs = (0 until 16).map { m =>
      val mag = 1 + m % 7
      Codecs.H264Mb(m % 4, (m * 3) % 4, m % 5 - 2,
        if (m % 2 == 0) mag else -mag, (m * 5) % 16)
    }
    val b = Codecs.encodeH264IFrameStream(sps, idrPicId = 9,
      sliceQpDelta = -3, mbs)
    val (spsBack, back) = Codecs.decodeH264IFrame(b)
    assert(spsBack.widthMbs === 4 && spsBack.heightMbs === 4)
    assert(back === mbs.toVector)
  }

  test("the unassigned total_zeros word (all zeros) is rejected BY the " +
      "residual parse and only by it") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(66, 30, 4, 1, 2, 2, 0)
    val mbs = (0 until 4).map(m =>
      Codecs.H264Mb(0, 0, 0, 1 + m, m))
    val bad = Codecs.encodeH264IFrameStream(sps, 0, 0, mbs, lieTzInMb = 2)
    // the structural NAL walk alone accepts the stream...
    Codecs.decodeH264Stream(bad)
    // ...only the macroblock parse catches the invalid code word
    val e = intercept[IllegalArgumentException](
      Codecs.decodeH264IFrame(bad))
    assert(e.getMessage.contains("total_zeros") ||
      e.getMessage.contains("invalid code word"))
  }

  test("hostile pin on the macroblock layer: seeded bit flips in the " +
      "slice payload either reparse or raise the loud contract — " +
      "never an unexpected crash class") {
    import graft.multimodal.Codecs
    val sps = Codecs.H264Sps(77, 40, 6, 2, 3, 3, 1)
    val mbs = (0 until 9).map(m =>
      Codecs.H264Mb(m % 4, m % 4, m % 5 - 2,
        (if (m % 2 == 0) 1 else -1) * (1 + m % 7), (m * 7) % 16))
    val base = Codecs.encodeH264IFrameStream(sps, 3, 1, mbs)
    val rnd = new scala.util.Random(13)
    var refused = 0
    (0 until 400).foreach { _ =>
      val m = base.clone()
      val i = rnd.nextInt(m.length)
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      try { Codecs.decodeH264IFrame(m); () } catch {
        case _: IllegalArgumentException => refused += 1
        case other: Throwable =>
          fail(s"flip leaked ${other.getClass}: ${other.getMessage}")
      }
    }
    assert(refused > 0, "no flip was ever refused — the checks are dead")
  }

  /** One seeded bit flip per trial at a byte drawn from `at`: each of
    * the 400 flips must decode or raise IllegalArgumentException.
    * Returns how many were refused.
    */
  private def seededFlips(base: Array[Byte], at: IndexedSeq[Int])(
      decode: Array[Byte] => Any): Int = {
    val rnd = new scala.util.Random(13)
    var refused = 0
    (0 until 400).foreach { _ =>
      val m = base.clone()
      val i = at(rnd.nextInt(at.length))
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      try { decode(m); () } catch {
        case _: IllegalArgumentException => refused += 1
        case other: Throwable =>
          fail(s"flip at byte $i leaked ${other.getClass}: ${other.getMessage}")
      }
    }
    info(s"$refused/400 flips refused")
    refused
  }

  test("hostile pin on the JPEG entropy-coded scan: seeded bit flips " +
      "after SOS either decode or raise the loud contract") {
    val (w, h) = (24, 16)
    val gray = Array.tabulate(w * h)(p =>
      ((p % w) * 9 + (p / w) * 5 + (p % w) * (p / w) % 7 * 11).toByte)
    val base = Codecs.encodeJpeg(w, h, gray)
    val sos = base.indexOfSlice(Seq(0xFF.toByte, 0xDA.toByte))
    val scan = sos + 2 + (((base(sos + 2) & 0xFF) << 8) | (base(sos + 3) & 0xFF))
    assert(sos > 0 && scan < base.length - 2)
    val refused = seededFlips(base, scan until base.length - 2)(
      Codecs.decodeJpeg)
    assert(refused > 0, "no flip was ever refused — the checks are dead")
  }

  test("hostile pin on the FLAC frames: seeded bit flips after " +
      "STREAMINFO either decode or raise the loud contract") {
    val samples = Array.tabulate[Short](6000)(i =>
      (6000 * math.sin(i * 0.03) + (i * 37) % 23).toShort)
    val base = Codecs.encodeFlac(8000, samples)
    val frames = 4 + 4 + 34 // magic, block header, STREAMINFO
    assert((base(frames) & 0xFF) == 0xFF) // the first frame's sync code
    val refused = seededFlips(base, frames until base.length)(
      Codecs.decodeFlac)
    assert(refused > 0, "no flip was ever refused — the checks are dead")
  }

  test("hostile pin on the GIF LZW sub-blocks: seeded bit flips in the " +
      "code stream either decode or raise the loud contract") {
    val (w, h) = (40, 30)
    val plane = Array.tabulate(w * h)(p =>
      ((p % w) / 3 * 17 + (p / w) / 2 * 29 + (p % w) * (p / w) % 5).toByte)
    val base = Codecs.encodeGif(w, h, plane)
    // header, screen descriptor, color table, image descriptor, then
    // the LZW minimum code size and the length-prefixed sub-blocks
    var p = 6 + 7 + 768 + 10 + 1
    val data = IndexedSeq.newBuilder[Int]
    while (base(p) != 0) {
      val n = base(p) & 0xFF
      data ++= (p + 1) to (p + n)
      p += 1 + n
    }
    val refused = seededFlips(base, data.result())(Codecs.decodeGif)
    assert(refused > 0, "no flip was ever refused — the checks are dead")
  }

  test("hostile pin on a dynamic-Huffman DEFLATE stream: seeded bit " +
      "flips in the block header, the code-length code and the data " +
      "either inflate or raise the loud contract") {
    import graft.web.Deflate
    val words = Array("job", "salary", "engineer", "hong", "kong",
      "senior", "analyst", "data", "the", "of", "and", "remote",
      "contract", "manager", "python", "spark", "sql", "team", "apply")
    val rnd = new scala.util.Random(13)
    val text = Iterator.continually(words(rnd.nextInt(words.length)))
      .take(560).mkString(" ").getBytes("US-ASCII")
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(text); d.finish()
    val buf = new Array[Byte](text.length * 2)
    val base = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    assert(((base(0) >> 1) & 3) == 2, "the stream is not a dynamic block")
    assert(Deflate.inflate(base, 0, base.length).data.toSeq === text.toSeq)
    val refused = seededFlips(base, base.indices)(m =>
      Deflate.inflate(m, 0, m.length))
    assert(refused > 0, "no flip was ever refused — the checks are dead")
  }

  // a narrow image: one scanline byte in 19 is a filter-type byte
  private val (pinW, pinH) = (6, 40)
  private val pinPng = Codecs.encodePng(pinW, pinH,
    Array.tabulate(pinW * pinH * 3)(i => ((i * 29 + (i / 18) * 7) % 251).toByte))

  test("hostile pin on the PNG container: seeded bit flips anywhere in " +
      "an encodePng file either decode or raise the loud contract") {
    val refused = seededFlips(pinPng, pinPng.indices)(Codecs.decodePng)
    // signature, lengths, types, bodies and CRCs are all checked: no
    // byte of the file is free to flip
    assert(refused === 400)
  }

  test("hostile pin on the PNG scanlines: seeded bit flips in the inflated " +
      "filter bytes and pixels, re-deflated under valid CRCs, either decode " +
      "or raise the loud contract") {
    val idat = new java.io.ByteArrayOutputStream()
    val bb = java.nio.ByteBuffer.wrap(pinPng)
    var pos = 8
    while (pos < pinPng.length) {
      val len = bb.getInt(pos)
      if (new String(pinPng, pos + 4, 4, "US-ASCII") == "IDAT")
        idat.write(pinPng, pos + 8, len)
      pos += 12 + len
    }
    val raw = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(idat.toByteArray)).readAllBytes()
    assert(raw.length === pinH * (1 + pinW * 3))
    def wrap(scanlines: Array[Byte]): Array[Byte] =
      pngSig ++ handIhdr(pinW, pinH) ++ handChunk("IDAT", zlib(scanlines)) ++
        handChunk("IEND", Array.emptyByteArray)
    assert(Codecs.decodePng(wrap(raw)).pixels.toSeq ===
      Codecs.decodePng(pinPng).pixels.toSeq)
    val refused = seededFlips(raw, raw.indices)(m => Codecs.decodePng(wrap(m)))
    // only a filter-type byte flipped past 4 is refused
    assert(refused > 0, "no flip was ever refused — the checks are dead")
  }
}
