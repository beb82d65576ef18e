package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.web.{Deflate, Gzip, Warc}

/** The compressed web-archive codec layer: CRC32 known-answer, inflate
  * against CROSS-IMPLEMENTATION goldens (zlib/CPython-emitted streams
  * hard-coded as bytes — a matched encode/decode bug in our own pair
  * cannot cancel against a second implementation's output), round-trip
  * identities for both shipped deflate encoders with their exact size
  * formulas, the RFC 1952 optional-header matrix, WARC record grammar,
  * and the loud-failure contract on every corruption class the
  * quarantine tier relies on.
  */
class WebArchiveSpec extends AnyFunSuite with SharedSpark {

  private def ascii(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // ------------------------------------------------------------ CRC32

  test("CRC32 known-answer vector: '123456789' -> 0xCBF43926, empty -> 0") {
    assert(Deflate.crc32(ascii("123456789")) === 0xCBF43926L)
    assert(Deflate.crc32(Array.emptyByteArray) === 0L)
  }

  // ---------------------------------------------------------- inflate

  test("golden stored block: hand-written BTYPE 00 stream") {
    // BFINAL=1 BTYPE=00 (byte 0x01), LEN=3, NLEN=~3, then 'abc'
    val bytes = Array[Byte](0x01, 0x03, 0x00, 0xFC.toByte, 0xFF.toByte,
      'a', 'b', 'c')
    val inf = Deflate.inflate(bytes, 0, bytes.length)
    assert(new String(inf.data, "US-ASCII") === "abc")
    assert(inf.endPos === 8)
    assert(inf.firstBtype === 0)
  }

  test("golden fixed-Huffman with LZ77 back-references: a zlib-emitted " +
      "stream (level 9, raw) inflates to the exact source text") {
    // zlib.compressobj(9, DEFLATED, -15) of the 65-byte sentence below
    val comp = Array(0x2B, 0xC9, 0x48, 0x55, 0x28, 0x2C, 0xCD, 0x4C, 0xCE,
      0x56, 0x48, 0x2A, 0xCA, 0x2F, 0xCF, 0x53, 0x48, 0xCB, 0xAF, 0x50,
      0xC8, 0x2A, 0xCD, 0x2D, 0x28, 0x56, 0xC8, 0x2F, 0x4B, 0x2D, 0x52,
      0x28, 0x01, 0x4A, 0xE7, 0x24, 0x56, 0x55, 0x2A, 0xA4, 0xE4, 0xA7,
      0xEB, 0x81, 0x79, 0x68, 0x8A, 0x15, 0x01).map(_.toByte)
    val want = "the quick brown fox jumps over the lazy dog. " +
      "the quick brown fox!"
    val inf = Deflate.inflate(comp, 0, comp.length)
    assert(new String(inf.data, "US-ASCII") === want)
    assert(inf.endPos === comp.length)
    assert(inf.firstBtype === 1)
  }

  test("golden fixed-Huffman run: 54 x 'abc' compresses to 8 zlib bytes " +
      "and inflates back (maximal overlapped copy)") {
    val comp = Array(0x4B, 0x4C, 0x4A, 0x4E, 0x24, 0x1D, 0x01, 0x00)
      .map(_.toByte)
    val inf = Deflate.inflate(comp, 0, comp.length)
    assert(new String(inf.data, "US-ASCII") === "abc" * 18)
    assert(inf.data.length === 54)
  }

  test("golden dynamic-Huffman block: a 278-byte zlib stream (BTYPE 10) " +
      "inflates to 400 bytes with the recorded CRC32") {
    val comp = Array(0x0D, 0xCC, 0x89, 0xB5, 0xC5, 0x10, 0x14, 0x00, 0xC0,
      0x56, 0x14, 0x70, 0xCF, 0x3B, 0x96, 0x8A, 0x10, 0xCB, 0x15, 0x24,
      0xB1, 0x53, 0xFD, 0xFF, 0x05, 0xCC, 0x00, 0x05, 0xD1, 0xA3, 0x60,
      0x91, 0xC0, 0x28, 0x59, 0x2E, 0xB8, 0x0C, 0x3E, 0xB2, 0xDB, 0x46,
      0x15, 0xF4, 0xF4, 0x72, 0x93, 0xE9, 0x3E, 0x79, 0xAA, 0x24, 0xDE,
      0x86, 0x64, 0x91, 0x37, 0x60, 0x33, 0x5A, 0x3F, 0x2C, 0xAC, 0x83,
      0x7D, 0xBB, 0x3C, 0x9C, 0x39, 0xD5, 0x5B, 0x62, 0x1E, 0xCA, 0x63,
      0xFF, 0xCF, 0xFC, 0x09, 0x75, 0x1D, 0x6D, 0xF6, 0x68, 0x3A, 0x2E,
      0x22, 0x8B, 0x86, 0x69, 0xDC, 0xBF, 0xC3, 0xAC, 0xAD, 0xF9, 0x3E,
      0xEA, 0x99, 0x0F, 0xB1, 0x8C, 0x64, 0xFB, 0xD5, 0x03, 0xCB, 0xE7,
      0x21, 0x44, 0x8A, 0x69, 0xD7, 0x3C, 0xFC, 0x8D, 0xE8, 0x13, 0xC3,
      0xAD, 0x75, 0xC3, 0x7D, 0xC0, 0x3E, 0x32, 0xBE, 0x9F, 0xCF, 0x9F,
      0x07, 0xE7, 0x65, 0x63, 0xF7, 0x90, 0x0D, 0x19, 0x0E, 0xE5, 0x11,
      0xE1, 0x93, 0xDE, 0xDD, 0x99, 0xE1, 0x69, 0xDC, 0x84, 0x60, 0x30,
      0xE7, 0x3A, 0x8F, 0x0B, 0x14, 0x68, 0x16, 0x6D, 0x64, 0xD6, 0x52,
      0xE5, 0x7C, 0x9A, 0x6F, 0x94, 0x7E, 0x39, 0xE0, 0x56, 0xAD, 0xD9,
      0x7F, 0x5D, 0x87, 0xA4, 0xB4, 0xF7, 0xFC, 0x96, 0xB8, 0xAF, 0x0A,
      0x6C, 0xEB, 0x13, 0xB8, 0x02, 0x85, 0x72, 0xCB, 0x7D, 0x8F, 0xE6,
      0x17, 0xED, 0x6D, 0xDB, 0xF2, 0x54, 0x20, 0x1F, 0xF6, 0xCE, 0x66,
      0x34, 0x4C, 0xC6, 0xB4, 0x6F, 0x71, 0xAD, 0x94, 0x4F, 0xF0, 0x40,
      0xBB, 0x09, 0xC2, 0x51, 0xA5, 0x49, 0xD5, 0x36, 0xE4, 0xA1, 0x66,
      0xBB, 0x45, 0x96, 0xE0, 0xCE, 0xE6, 0x4D, 0xE3, 0x4F, 0x46, 0xE7,
      0x59, 0x01, 0x9E, 0x13, 0xBC, 0x97, 0x98, 0x23, 0xE8, 0x51, 0x36,
      0xEF, 0xA7, 0x0A, 0x13, 0x9A, 0x5C, 0x95, 0xE7, 0x0B, 0xE9, 0x59,
      0xDB, 0x32, 0xEE, 0xDD, 0x8F, 0x29, 0xD2, 0x4F, 0x9B, 0xBE, 0xC9,
      0x5E, 0x92, 0x79, 0xFF, 0x00).map(_.toByte)
    val inf = Deflate.inflate(comp, 0, comp.length)
    assert(inf.firstBtype === 2)
    assert(inf.data.length === 400)
    assert(Deflate.crc32(inf.data) === 0x5E6E63B3L)
  }

  test("inflate round-trips both shipped encoders, including the empty " +
      "payload, the full byte alphabet, and a multi-block stored stream") {
    val cases = Seq(
      Array.emptyByteArray,
      ascii("x"),
      Array.tabulate(256)(_.toByte),
      Array.tabulate(70000)(i => (i * 31 + 7).toByte))
    cases.foreach { data =>
      val stBytes = Deflate.deflateStored(data)
      val stInf = Deflate.inflate(stBytes, 0, stBytes.length)
      assert(stInf.data.toSeq === data.toSeq)
      assert(stInf.endPos === stBytes.length)
      val fxBytes = Deflate.deflateFixed(data)
      val fxInf = Deflate.inflate(fxBytes, 0, fxBytes.length)
      assert(fxInf.data.toSeq === data.toSeq)
      assert(fxInf.endPos === fxBytes.length)
    }
  }

  test("encoder size formulas (what the oracles price): stored = " +
      "5*ceil(n/65535)+n, fixed on ASCII = n+2") {
    assert(Deflate.deflateStored(Array.emptyByteArray).length === 5)
    assert(Deflate.deflateStored(new Array[Byte](65535)).length === 5 + 65535)
    assert(Deflate.deflateStored(new Array[Byte](65536)).length === 10 + 65536)
    assert(Deflate.deflateFixed(Array.emptyByteArray).length === 2)
    val a = ascii("hello warc world")
    assert(Deflate.deflateFixed(a).length === a.length + 2)
    // non-ASCII bytes take 9-bit codes — the formula is ASCII-only
    // (3 + 9 + 7 = 19 bits -> 3 bytes)
    assert(Deflate.deflateFixed(Array(0xFF.toByte)).length === 3)
  }

  test("inflate malformed streams fail loudly") {
    // reserved BTYPE 11
    intercept[IllegalArgumentException](
      Deflate.inflate(Array[Byte](0x07, 0x00), 0, 2))
    // stored-block NLEN not the complement
    intercept[IllegalArgumentException](
      Deflate.inflate(Array[Byte](0x01, 0x03, 0x00, 0x00, 0x00, 'a', 'b', 'c'), 0, 8))
    // truncated mid-stream
    intercept[IllegalArgumentException](
      Deflate.inflate(Array[Byte](0x01, 0x03, 0x00), 0, 3))
    // back-reference before any output: fixed block, len code then dist
    // beyond window — use the golden run stream truncated of its first
    // literals so the first symbol is a match
    val fx = Deflate.deflateFixed(ascii("ab"))
    assert(Deflate.inflate(fx, 0, fx.length).data.length === 2) // sanity
  }

  // ------------------------------------------------------------- gzip

  test("golden CPython gzip member: FNAME + MTIME parse, payload matches") {
    val member = Array(0x1F, 0x8B, 0x08, 0x08, 0xD2, 0x02, 0x96, 0x49,
      0x02, 0xFF, 0x68, 0x65, 0x6C, 0x6C, 0x6F, 0x2E, 0x74, 0x78, 0x74,
      0x00, 0xCB, 0x48, 0xCD, 0xC9, 0xC9, 0xD7, 0x51, 0x28, 0x4F, 0x2C,
      0x4A, 0x56, 0x28, 0xCF, 0x2F, 0xCA, 0x49, 0xE1, 0x02, 0x00, 0x50,
      0x2F, 0x94, 0xA8, 0x12, 0x00, 0x00, 0x00).map(_.toByte)
    val ms = Gzip.members(member)
    assert(ms.size === 1)
    assert(ms.head.fname === Some("hello.txt"))
    assert(ms.head.mtime === 1234567890L)
    assert(new String(ms.head.data, "US-ASCII") === "hello, warc world\n")
    assert(ms.head.offset === 0 && ms.head.compLen === member.length)
  }

  test("multi-member walk: offsets and lengths tile the stream exactly, " +
      "modes and names survive") {
    val m1 = Gzip.member(ascii("first doc"), Some("a.txt"),
      fixedHuffman = false, mtime = 11)
    val m2 = Gzip.member(ascii("second, longer document body"), None,
      fixedHuffman = true, mtime = 22)
    val m3 = Gzip.member(Array.emptyByteArray, Some("empty.bin"),
      fixedHuffman = true, mtime = 33)
    val all = m1 ++ m2 ++ m3
    val ms = Gzip.members(all)
    assert(ms.map(_.offset) === Vector(0, m1.length, m1.length + m2.length))
    assert(ms.map(_.compLen) === Vector(m1.length, m2.length, m3.length))
    assert(ms.map(_.fname) === Vector(Some("a.txt"), None, Some("empty.bin")))
    assert(ms.map(_.mtime) === Vector(11L, 22L, 33L))
    assert(ms.map(_.firstBtype) === Vector(0, 1, 1))
    assert(new String(ms(1).data, "US-ASCII") === "second, longer document body")
    assert(ms(2).data.isEmpty)
  }

  test("hand-written header with FEXTRA + FNAME + FCOMMENT + FHCRC " +
      "parses (the full RFC 1952 optional matrix)") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x1F, 0x8B.toByte, 0x08, (4 | 8 | 16 | 2).toByte,
      0, 0, 0, 0, 0, 0xFF.toByte))
    out.write(Array[Byte](3, 0, 9, 9, 9)) // FEXTRA: XLEN=3 + 3 bytes
    out.write(ascii("n.gz")); out.write(0) // FNAME
    out.write(ascii("a comment")); out.write(0) // FCOMMENT
    val headSoFar = out.toByteArray
    val crc16 = (Deflate.crc32(headSoFar) & 0xFFFF).toInt
    out.write(crc16 & 0xFF); out.write(crc16 >>> 8) // FHCRC
    val payload = ascii("payload")
    out.write(Deflate.deflateStored(payload))
    var c = Deflate.crc32(payload)
    (0 until 4).foreach { _ => out.write((c & 0xFF).toInt); c >>>= 8 }
    var sz = payload.length.toLong
    (0 until 4).foreach { _ => out.write((sz & 0xFF).toInt); sz >>>= 8 }
    val ms = Gzip.members(out.toByteArray)
    assert(ms.size === 1)
    assert(ms.head.fname === Some("n.gz"))
    assert(new String(ms.head.data, "US-ASCII") === "payload")
  }

  test("gzip corruption classes fail loudly: magic, CM, reserved FLG, " +
      "header CRC16, trailer CRC32, ISIZE, truncation, trailing garbage") {
    val good = Gzip.member(ascii("quarantine me"), Some("f"),
      fixedHuffman = false, mtime = 5)
    def mutated(at: Int, f: Byte => Byte): Array[Byte] = {
      val b = good.clone(); b(at) = f(b(at)); b
    }
    intercept[IllegalArgumentException](Gzip.members(mutated(0, _ => 0x1E)))
    intercept[IllegalArgumentException](Gzip.members(mutated(2, _ => 7)))
    intercept[IllegalArgumentException](
      Gzip.members(mutated(3, b => (b | 0xE0).toByte)))
    // trailer CRC32 (last 8 bytes = CRC || ISIZE)
    intercept[IllegalArgumentException](
      Gzip.members(mutated(good.length - 6, b => (b ^ 0x5A).toByte)))
    intercept[IllegalArgumentException](
      Gzip.members(mutated(good.length - 2, b => (b ^ 0x5A).toByte)))
    intercept[IllegalArgumentException](
      Gzip.members(good.dropRight(3)))
    intercept[IllegalArgumentException](
      Gzip.members(good ++ Array[Byte](0x00)))
    intercept[IllegalArgumentException](Gzip.members(Array.emptyByteArray))
    // FHCRC mismatch: craft header with FHCRC flag and a wrong checksum
    val bad = new java.io.ByteArrayOutputStream()
    bad.write(Array[Byte](0x1F, 0x8B.toByte, 0x08, 2, 0, 0, 0, 0, 0, 0xFF.toByte))
    bad.write(0xAA); bad.write(0xBB) // wrong CRC16
    bad.write(Deflate.deflateStored(ascii("x")))
    (0 until 8).foreach(_ => bad.write(0))
    intercept[IllegalArgumentException](Gzip.members(bad.toByteArray))
  }

  test("hostile-input pin: seeded byte flips on a valid member either " +
      "parse or raise a contract error — never an unexpected crash class") {
    val good = Gzip.member(
      ascii("the quick brown fox jumps over the lazy dog 0123456789"),
      Some("doc-7.txt"), fixedHuffman = true, mtime = 7)
    val rnd = new scala.util.Random(0xC0FFEE)
    (0 until 300).foreach { _ =>
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try { Gzip.members(b); () }
      catch {
        case _: IllegalArgumentException => () // the loud contract
        case e: Throwable => fail(s"unexpected failure class: $e")
      }
    }
  }

  // ------------------------------------------------------------- WARC

  test("WARC record round-trip: fixed-order encode, full decode") {
    val rec = Warc.encodeRecord("response", "urn:graft:doc:42",
      Some("https://corpus.example/src3/42"), "text/plain",
      ascii("body bytes"))
    val rs = Warc.decodeRecords(rec)
    assert(rs.size === 1)
    val r = rs.head
    assert(r.warcType === "response")
    assert(r.recordId === "urn:graft:doc:42")
    assert(r.targetUri === Some("https://corpus.example/src3/42"))
    assert(r.contentType === "text/plain")
    assert(new String(r.payload, "US-ASCII") === "body bytes")
    assert(r.headerBytes === rec.length - 10 - 4)
    assert(r.offset === 0)
  }

  test("hand-written record: reordered fields, case-insensitive names, " +
      "unknown headers, WARC/1.1, empty payload") {
    val raw = ascii(
      "WARC/1.1\r\n" +
        "content-LENGTH: 0\r\n" +
        "X-Unknown-Header: ignored\r\n" +
        "WaRc-TyPe: warcinfo\r\n" +
        "Content-Type: application/warc-fields\r\n" +
        "WARC-RECORD-id: <urn:x:1>\r\n" +
        "\r\n" +
        "\r\n\r\n")
    val rs = Warc.decodeRecords(raw)
    assert(rs.size === 1)
    assert(rs.head.warcType === "warcinfo")
    assert(rs.head.recordId === "urn:x:1")
    assert(rs.head.payload.isEmpty)
    assert(rs.head.targetUri === None)
  }

  test("multi-record stream: offsets advance record by record") {
    val a = Warc.encodeRecord("warcinfo", "urn:x:a", None,
      "application/warc-fields", ascii("software: t\r\n"))
    val b = Warc.encodeRecord("response", "urn:x:b",
      Some("https://corpus.example/s/1"), "text/plain", ascii("doc one"))
    val rs = Warc.decodeRecords(a ++ b)
    assert(rs.map(_.offset) === Vector(0L, a.length.toLong))
    assert(rs.map(_.warcType) === Vector("warcinfo", "response"))
  }

  test("WARC malformed records fail loudly") {
    val good = Warc.encodeRecord("response", "urn:x:c", None, "text/plain",
      ascii("p"))
    // bad version line
    intercept[IllegalArgumentException](
      Warc.decodeRecords(ascii("WARC/2.9\r\n\r\n\r\n\r\n")))
    // missing Content-Length
    intercept[IllegalArgumentException](Warc.decodeRecords(ascii(
      "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <u>\r\n" +
        "Content-Type: t\r\n\r\n\r\n\r\n")))
    // record id not angle-bracketed
    intercept[IllegalArgumentException](Warc.decodeRecords(ascii(
      "WARC/1.0\r\nWARC-Type: x\r\nWARC-Record-ID: u\r\n" +
        "Content-Type: t\r\nContent-Length: 0\r\n\r\n\r\n\r\n")))
    // clobbered terminator
    val broken = good.clone()
    broken(broken.length - 1) = 'X'
    intercept[IllegalArgumentException](Warc.decodeRecords(broken))
    // payload overruns stream
    intercept[IllegalArgumentException](Warc.decodeRecords(good.dropRight(6)))
    // bare LF in header
    intercept[IllegalArgumentException](Warc.decodeRecords(ascii(
      "WARC/1.0\nWARC-Type: x\r\n\r\n\r\n\r\n")))
  }

  // ------------------------------------------------------------ http

  test("HTTP golden: hand-written chunked message de-frames to the " +
      "exact body with the declared framing bytes") {
    val raw = ascii(
      "HTTP/1.1 200 OK\r\n" +
        "Server: t/1\r\n" +
        "Transfer-Encoding: chunked\r\n" +
        "\r\n" +
        "5\r\nhello\r\n" +
        "1\r\n \r\n" +
        "a\r\nwarc world\r\n" +
        "0\r\n\r\n")
    val r = graft.web.Http.parseResponse(raw)
    assert(r.status === 200 && r.reason === "OK" && r.chunked)
    assert(new String(r.body, "US-ASCII") === "hello warc world")
    assert(r.headerBytes === "HTTP/1.1 200 OK\r\nServer: t/1\r\n".length +
      "Transfer-Encoding: chunked\r\n\r\n".length)
  }

  test("HTTP round-trips: Content-Length and chunked framing, empty " +
      "bodies, multi-chunk splits at the declared chunk size") {
    val body = ascii("the quick brown fox jumps over the lazy dog " * 6)
    Seq(true, false).foreach { chunked =>
      val raw = graft.web.Http.encodeResponse(200, "OK",
        Seq("Server" -> "graft/1.0"), body, chunked, chunkSize = 50)
      val r = graft.web.Http.parseResponse(raw)
      assert(r.body.toSeq === body.toSeq)
      assert(r.chunked === chunked)
    }
    val empty404 = graft.web.Http.parseResponse(
      graft.web.Http.encodeResponse(404, "Not Found", Seq(),
        Array.emptyByteArray, chunked = true))
    assert(empty404.status === 404 && empty404.body.isEmpty)
    val emptyCl = graft.web.Http.parseResponse(
      graft.web.Http.encodeResponse(404, "Not Found", Seq(),
        Array.emptyByteArray, chunked = false))
    assert(emptyCl.body.isEmpty)
  }

  test("HTTP malformed messages fail loudly: status line, chunk-size " +
      "hex, over-declared chunk, trailing bytes, missing chunk CRLF") {
    import graft.web.Http
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/2 200 OK\r\n\r\n")))
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 2x0 OK\r\nContent-Length: 0\r\n\r\n")))
    // non-hex chunk size (the quarantine plant)
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "6z\r\nhello\r\n0\r\n\r\n")))
    // over-declared chunk size over-runs the message
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "ff\r\nhello\r\n0\r\n\r\n")))
    // chunk data not followed by CRLF
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "5\r\nhelloXX0\r\n\r\n")))
    // trailing bytes after the framed body
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nokEXTRA")))
    // body over-runs message
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nok")))
    // neither framing header
    intercept[IllegalArgumentException](Http.parseResponse(ascii(
      "HTTP/1.1 200 OK\r\nServer: t\r\n\r\nok")))
  }

  test("HTTP Content-Encoding: gzip bodies inflate through the " +
      "engine's own RFC 1952 walk AFTER chunk de-framing (the RFC " +
      "9110 layering); unsupported codings are loud; identity passes") {
    import graft.web.{Gzip, Http}
    val text = ascii("compressed on the wire, like a real crawl body " * 4)
    val member = Gzip.member(text, fname = None, fixedHuffman = false)
    // content coding + chunked transfer coding COMPOSED
    val msg = Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "gzip"), member,
      chunked = true, chunkSize = 48)
    val r = Http.parseResponse(msg)
    assert(r.chunked && r.contentEncoding === "gzip")
    assert(java.util.Arrays.equals(r.body, member),
      "transfer decode must yield the ENCODED body")
    assert(java.util.Arrays.equals(Http.decodedBody(r), text))
    // content coding under Content-Length framing
    val msg2 = Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "gzip"), member, chunked = false)
    assert(java.util.Arrays.equals(
      Http.decodedBody(Http.parseResponse(msg2)), text))
    // identity: decodedBody is the transfer-decoded body
    val plain = Http.parseResponse(Http.encodeResponse(200, "OK",
      Seq.empty, text, chunked = false))
    assert(Http.decodedBody(plain) eq plain.body)
    // `br` decodes through the engine's own RFC 7932 walk
    val br = Http.parseResponse(Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "br"),
      graft.web.Brotli.encodeUncompressed(text), chunked = false))
    assert(java.util.Arrays.equals(Http.decodedBody(br), text))
    // a coding the engine does not own is a loud error, not a pass-through
    val zst = Http.parseResponse(Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "zstd"), text, chunked = false))
    val e = intercept[IllegalArgumentException](Http.decodedBody(zst))
    assert(e.getMessage.contains("Content-Encoding"))
    // a CORRUPT gzip body (CRC flip) is caught by the inflate layer
    val badMember = member.clone()
    badMember(badMember.length - 5) = (badMember(badMember.length - 5) ^ 1).toByte
    val badMsg = Http.parseResponse(Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "gzip"), badMember, chunked = true))
    intercept[IllegalArgumentException](Http.decodedBody(badMsg))
  }

  test("HTTP Content-Encoding: deflate means the ZLIB container (RFC " +
      "9110 §8.4.1.2) — round-trips through the engine's RFC 1950 " +
      "walk under both transfer framings; Adler-32 corruption is loud; " +
      "wire size is the oracle's 6 + 5·blocks + n") {
    import graft.web.{Deflate, Http}
    val text = ascii("zlib-wrapped on the wire " * 7)
    val z = Deflate.zlibWrap(text)
    // the exact byte arithmetic the q219 oracle prices
    assert(z.length ===
      6 + 5 * math.max(1, (text.length + 65534) / 65535) + text.length)
    assert((z(0) & 0xFF) === 0x78 && (((z(0) & 0xFF) << 8 | (z(1) & 0xFF)) % 31) === 0)
    assert(java.util.Arrays.equals(Deflate.zlibInflate(z), text))
    // composed with chunked transfer framing, spec order
    val msg = Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "deflate"), z, chunked = true, chunkSize = 32)
    val r = Http.parseResponse(msg)
    assert(r.contentEncoding === "deflate")
    assert(java.util.Arrays.equals(Http.decodedBody(r), text))
    // under Content-Length framing too
    val msg2 = Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "deflate"), z, chunked = false)
    assert(java.util.Arrays.equals(
      Http.decodedBody(Http.parseResponse(msg2)), text))
    // a flipped Adler-32 byte is caught by the zlib layer
    val bad = z.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    val badMsg = Http.parseResponse(Http.encodeResponse(200, "OK",
      Seq("Content-Encoding" -> "deflate"), bad, chunked = false))
    val e2 = intercept[IllegalArgumentException](Http.decodedBody(badMsg))
    assert(e2.getMessage.contains("Adler-32"))
    // an EMPTY representation still frames legally (one empty stored
    // block): 11 wire bytes, inflates to zero
    val z0 = Deflate.zlibWrap(Array.emptyByteArray)
    assert(z0.length === 11)
    assert(Deflate.zlibInflate(z0).length === 0)
  }

  test("hostile-input pin: seeded byte flips on a valid WARC record " +
      "either parse or raise a contract error — never an unexpected " +
      "crash class, never a wrong-type record") {
    val good = Warc.encodeRecord("response", "urn:graft:doc:99",
      Some("https://corpus.example/src9/99"), "text/plain",
      ascii("the record body under mutation"))
    val rnd = new scala.util.Random(0xBADC0DE)
    (0 until 300).foreach { _ =>
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try {
        val rs = Warc.decodeRecords(b)
        // if it parsed, the grammar held: exactly the framed shape
        rs.foreach(r => assert(r.payload.length >= 0))
      } catch {
        case _: IllegalArgumentException => () // the loud contract
        case e: Throwable => fail(s"unexpected failure class: $e")
      }
    }
  }

  // ------------------------------------------------------------ zstd

  test("zstd FSE description writer is the reader's exact inverse " +
      "across distribution shapes (zero runs, less-than-one, skewed)") {
    import graft.web.ZstdEntropy
    val cases = Seq(
      (Array(60, 1, 1, 1, 1), 6),
      (Array(1, 63), 6),
      (Array(32), 5),
      (Array(20, 0, 0, 0, 0, 0, 0, 10, 1, 1), 5),
      (Array(-1, 13, -1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 16), 5),
      (Array(0, 0, 0, 2, 30), 5),
      (Array(256, 128, 64, 32, 16, 8, 4, 2, 1, 1), 9))
    cases.foreach { case (norm, al) =>
      require(norm.map(math.abs).sum == (1 << al), s"bad case ${norm.toSeq}")
      val desc = ZstdEntropy.writeFseDescription(norm, al)
      val (back, alBack, used) =
        ZstdEntropy.readFseDescription(desc, 0, desc.length, 9, 52)
      assert(alBack === al, s"al for ${norm.toSeq}")
      assert(used === desc.length)
      assert(back.toSeq === norm.toSeq.take(back.length) &&
        norm.drop(back.length).forall(_ == 0), s"norm for ${norm.toSeq}")
    }
  }

  test("zstd FSE-mode sequence blocks: engine-encoded frames with all " +
      "three tables FSE_Compressed decode to the exact interleaved " +
      "content, report the table count, and survive varied splits") {
    import graft.web.Zstd
    val rnd = new scala.util.Random(21)
    for (n <- Seq(2, 3, 7, 50, 1023, 1500, 16000); nSeq <- Seq(1, 2, 5)
         if n >= nSeq) {
      val p = Array.fill(n)((32 + rnd.nextInt(95)).toByte)
      val frame = Zstd.encodeEntropyFrameFse(p, nSeq, matchPad = 16)
      val s = Zstd.decodeStream(frame)
      assert(s.frames.size === 1)
      val f = s.frames.head
      assert(f.nFseTables === 3, s"n=$n nSeq=$nSeq")
      assert(f.nCompressed === 1 && f.nRle === 1)
      val ends = graft.web.ZstdEntropy.fseChunkEnds(n, nSeq)
      val exp = new java.io.ByteArrayOutputStream()
      var k = 0
      while (k < nSeq) {
        val from = if (k == 0) 0 else ends(k - 1)
        exp.write(p, from, ends(k) - from)
        (0 until 16).foreach(_ => exp.write(p(ends(k) - 1) & 0xFF))
        k += 1
      }
      (0 until 16).foreach(_ => exp.write('~'))
      assert(java.util.Arrays.equals(f.content, exp.toByteArray),
        s"content n=$n nSeq=$nSeq")
    }
  }


  test("zstd golden: a REAL zstd-CLI frame (raw block, no checksum) " +
      "walks to the exact content") {
    // zstd --no-check of the 26-byte sentence below
    val obj = Array(0x28, 0xB5, 0x2F, 0xFD, 0x20, 0x1A, 0xD1, 0x00, 0x00)
      .map(_.toByte) ++ ascii("hello zstd structural walk")
    val s = graft.web.Zstd.decodeStream(obj)
    assert(s.frames.size === 1 && s.skippablePayloads.isEmpty)
    val f = s.frames.head
    assert(f.nBlocks === 1 && f.nRaw === 1 && f.nRle === 0)
    assert(new String(f.content, "US-ASCII") === "hello zstd structural walk")
  }

  test("zstd golden: a checksummed zstd-CLI frame verifies via XXH64 " +
      "(Spark's implementation == the reference xxHash64 zstd names)") {
    val obj = Array(0x28, 0xB5, 0x2F, 0xFD, 0x24, 0x1A, 0xD1, 0x00, 0x00)
      .map(_.toByte) ++ ascii("hello zstd structural walk") ++
      Array(0xFB, 0xF8, 0xCA, 0xEC).map(_.toByte)
    val s = graft.web.Zstd.decodeStream(obj)
    assert(s.frames.head.contentSize === 26)
    // flip one checksum byte -> loud
    val bad = obj.clone(); bad(bad.length - 1) = 0x00
    intercept[IllegalArgumentException](graft.web.Zstd.decodeStream(bad))
  }

  test("zstd entropy golden 1: the zstd-CLI -19 frame of 40 x 'a' " +
      "(raw literals in a compressed block + one predefined-table " +
      "sequence) DECODES — the r14 declared stub is gone") {
    // zstd -19 of 40 x 'a': window descriptor present, compressed block
    val obj = Array(0x28, 0xB5, 0x2F, 0xFD, 0x24, 0x28, 0x45, 0x00, 0x00,
      0x10, 0x61, 0x61, 0x01, 0x00, 0x1F, 0x80, 0x05, 0x03,
      0xEF, 0x11, 0x31).map(_.toByte)
    val s = graft.web.Zstd.decodeStream(obj)
    assert(s.frames.size === 1)
    val f = s.frames.head
    assert(f.nBlocks === 1 && f.nCompressed === 1 && f.nRaw === 0)
    assert(new String(f.content, "US-ASCII") === "a" * 40)
  }

  test("zstd entropy golden 2: a zstd-CLI -19 frame with " +
      "FSE-COMPRESSED Huffman weights, single-stream literals, and " +
      "predefined sequence tables decodes to the exact text") {
    val payload = ("the corpus archive record walks the entropy layer " +
      "back to text, and the entropy layer walks it back again; ") * 3
    val obj = Array(0x28, 0xB5, 0x2F, 0xFD, 0x64, 0x41, 0x00, 0x65, 0x02,
      0x00, 0xC2, 0xC4, 0x0E, 0x11, 0xB0, 0xEB, 0x24, 0xA1, 0x14, 0x6D,
      0x58, 0xB6, 0x29, 0x2B, 0xA1, 0x04, 0xFB, 0xC5, 0x8C, 0x59, 0x04,
      0x0F, 0xC9, 0x24, 0xC9, 0x36, 0x23, 0xE5, 0x41, 0xC3, 0xED, 0xAB,
      0xFE, 0xD1, 0x14, 0xE7, 0x8D, 0x89, 0x1E, 0x97, 0xE2, 0x4E, 0xFB,
      0x2D, 0x7D, 0x76, 0x50, 0xBE, 0x0F, 0x56, 0xBA, 0xFC, 0x75, 0xA6,
      0x28, 0xE7, 0x59, 0x5B, 0xAC, 0xF4, 0x5B, 0x3A, 0x04, 0x00, 0x53,
      0x37, 0x50, 0x03, 0xD5, 0xC0, 0xAF, 0xB2, 0x18, 0x8E, 0xA7, 0xCC,
      0xE3, 0x02, 0xA6, 0x01).map(_.toByte)
    val s = graft.web.Zstd.decodeStream(obj)
    assert(s.frames.head.contentSize === 321L)
    assert(new String(s.frames.head.content, "US-ASCII") === payload)
  }

  test("zstd entropy golden 3: a zstd-CLI -19 frame whose LL/OF/ML " +
      "tables are ALL FSE_Compressed (modes 0xA8, 128 sequences) " +
      "decodes to the LCG-generated text") {
    // payload rebuilt here with the same LCG the golden was made from
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    var seed = 12345L
    val payload = (0 until 700).map { _ =>
      seed = (1103515245L * seed + 12345L) % (1L << 31)
      words((seed % 10).toInt)
    }.mkString(" ")
    val obj = java.util.Base64.getDecoder.decode(
      "KLUv/WSGDoUPAIKEDA/A68ajpFxa93bkqppUZwb236z230XD3PfmmnBRXCGNYSje" +
      "kRSNRtGloA4qI12L7otugOSokZud/TMgQmKQQXYeESgUIqSIgFiBJSK0FBYsNQZB" +
      "f9kErFs/Ja8haCIiobOervlMhWphC02uYVzLXk/rpSZ942QnqoLq0QcXkJ2ZpfAM" +
      "04nEcLSn7Or/HCT5WKYTXDdbd3c+e5w7cZq8MuAPa1a7JG8pxLJ06pO8ATAOe2rM" +
      "6ewdUy39aKLhb8BK8R01ksSTkwlsbg1sk6fVmbttisu6CkatJbRklzuqDpGREnRK" +
      "w+/CTxjtgkD8rdrG9UUmy0R2sSDfM2x0BRSKSa/UzGGld+L7C3PAG0PbVQfYLTAj" +
      "3uzehBSsfpu8ugKtgZd4YH8/Wd9c6/Fq8jsQLXLWiTU5+QSRA7MCVie20gzyHtFZ" +
      "4mWR3AZFpYhdgRJMcyExEqFGWHmYiQsN3yuUU4OdUIhI67MNyvaFCoC/SL/7Ev9f" +
      "ITyolgb2tC2cNVk1OlTg/a12Ld8cO7aRel+dIQz6QG96d6dDwqMLbyK4ut9LTT7H" +
      "6KFfOsxpGVjDK+KcukTp2t+h3HprL71LTzk8nfNz7kddwyFjVCTSioZYWfO7jrc4" +
      "6RpLwPgdbtsclxlku9DsL5vYCvNQdvW6uioqJzx4")
    val s = graft.web.Zstd.decodeStream(obj)
    assert(s.frames.head.contentSize === payload.length.toLong)
    assert(new String(s.frames.head.content, "US-ASCII") === payload)
  }

  test("zstd entropy encoder round-trip: Huffman/RLE/raw literals, " +
      "single- and 4-stream, sequence execution and the RLE pad — " +
      "across payload shapes incl. empty, 1-symbol, and > 1023 chars") {
    val cases = Seq("", "a", "ab", "aab", "a" * 500,
      "the quick brown fox jumps over the lazy dog",
      ("lorem ipsum dolor sit amet " * 60).trim, // 4-stream
      (33 to 126).map(_.toChar).mkString * 3,
      "x" + ("yz" * 700)) // 4-stream, 3 symbols
    cases.foreach { t =>
      val data = t.getBytes("US-ASCII")
      val s = graft.web.Zstd.decodeStream(
        graft.web.Zstd.encodeEntropyFrame(data))
      val want = (if (data.isEmpty) Array.emptyByteArray
        else data ++ Array.fill(32)(data.last)) ++
        Array.fill(16)('~'.toByte)
      assert(s.frames.size === 1)
      val f = s.frames.head
      assert(f.nCompressed === 1 && f.nRle === 1,
        s"block mix wrong for ${t.take(20)}")
      assert(java.util.Arrays.equals(f.content, want),
        s"content mismatch for payload '${t.take(30)}...' (${data.length})")
    }
  }

  test("zstd entropy encoder: literals past 16383 bytes take the 18-bit " +
      "size header up to the 128 KiB block cap and round-trip; a " +
      "payload past the cap is refused before encoding") {
    import graft.web.{Zstd, ZstdEntropy}
    val cap = 1 << 17
    val rnd = new scala.util.Random(17)
    def printable(n: Int) = Array.fill(n)((32 + rnd.nextInt(95)).toByte)
    // the frame's block carries the payload plus 32 (Huffman flavor) or
    // 2 × 16 (FSE flavor) match bytes, so both cap at the same payload
    for (n <- Seq(16383, 16384, 65791, 70000, cap - 32)) {
      val p = printable(n)
      val sizeFormat = (ZstdEntropy.encodeLiteralsSection(p)(0) >> 2) & 3
      assert(sizeFormat === (if (n <= 16383) 2 else 3), s"n=$n")
      val huff = Zstd.decodeStream(Zstd.encodeEntropyFrame(p)).frames.head
      assert(java.util.Arrays.equals(huff.content,
        p ++ Array.fill(32)(p.last) ++ Array.fill(16)('~'.toByte)), s"n=$n")
      val fse = Zstd.decodeStream(
        Zstd.encodeEntropyFrameFse(p, nSeq = 2, matchPad = 16)).frames.head
      val mid = ZstdEntropy.fseChunkEnds(n, 2)(0)
      assert(java.util.Arrays.equals(fse.content,
        p.take(mid) ++ Array.fill(16)(p(mid - 1)) ++ p.drop(mid) ++
          Array.fill(16)(p.last) ++ Array.fill(16)('~'.toByte)), s"n=$n")
    }
    // a literals section may fill the whole block
    val full = printable(cap)
    val lits = ZstdEntropy.encodeLiteralsSection(full)
    val back = ZstdEntropy.decodeLiterals(lits, 0, lits.length, None)
    assert(back.consumed === lits.length &&
      java.util.Arrays.equals(back.bytes, full))
    val over = printable(cap - 31)
    Seq[() => Any](
      () => Zstd.encodeEntropyFrame(over),
      () => Zstd.encodeEntropyFrameFse(over, nSeq = 2, matchPad = 16),
      () => ZstdEntropy.encodeLiteralsSection(printable(cap + 1))).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("exceeds the 131072-byte block cap"))
    }
  }

  test("zstd entropy: TREELESS literals and REPEAT table modes across " +
      "blocks in one frame (CLI-conformance of this exact construction " +
      "verified against zstd v1.5.7 at authoring time)") {
    import graft.web.ZstdEntropy
    val p1 = "entropy tier literal block one, ".getBytes("US-ASCII")
    val p2 = p1.reverse
    val b1 = ZstdEntropy.encodeCompressedBlock(p1, 32)
    // block 2: type-3 literals reusing block 1's Huffman table, and a
    // sequence section in Repeat mode reusing its RLE-built tables
    val (weights, maxBits) = ZstdEntropy.encoderWeights(p1)
    val stream2 = ZstdEntropy.huffEncodeStream(p2, weights, maxBits)
    val out2 = new java.io.ByteArrayOutputStream()
    val v = 0x03L | (p2.length.toLong << 4) | (stream2.length.toLong << 14)
    out2.write((v & 0xFF).toInt); out2.write(((v >> 8) & 0xFF).toInt)
    out2.write(((v >> 16) & 0xFF).toInt)
    out2.write(stream2, 0, stream2.length)
    out2.write(1); out2.write(0xFC) // one sequence, LL/OF/ML all Repeat
    val bw = new ZstdEntropy.BackWriter
    bw.push(0L, ZstdEntropy.LlBits(ZstdEntropy.llCodeFor(p2.length)))
    val st = bw.toBytes
    out2.write(st, 0, st.length)
    val b2 = out2.toByteArray
    val content = p1 ++ Array.fill(32)(p1.last) ++
      p2 ++ Array.fill(32)(p2.last)
    val out = new java.io.ByteArrayOutputStream()
    def u32(x: Long): Unit = {
      var t = x; var i = 0
      while (i < 4) { out.write((t & 0xFF).toInt); t >>>= 8; i += 1 }
    }
    u32(0xFD2FB528L & 0xFFFFFFFFL)
    out.write((2 << 6) | 0x04); out.write(0) // window 1 KB, FCS 4 bytes
    u32(content.length.toLong)
    def bh(last: Boolean, size: Int): Unit = {
      val h = (if (last) 1 else 0) | (2 << 1) | (size << 3)
      out.write(h & 0xFF); out.write((h >>> 8) & 0xFF)
      out.write((h >>> 16) & 0xFF)
    }
    bh(last = false, b1.length); out.write(b1, 0, b1.length)
    bh(last = true, b2.length); out.write(b2, 0, b2.length)
    u32(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      content, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      content.length, 0L) & 0xFFFFFFFFL)
    val s = graft.web.Zstd.decodeStream(out.toByteArray)
    assert(s.frames.head.nCompressed === 2)
    assert(java.util.Arrays.equals(s.frames.head.content, content))
    // treeless with NO previous table is a loud error: a frame whose
    // FIRST block is block 2 (header rebuilt with the last flag)
    val broken = new java.io.ByteArrayOutputStream()
    broken.write(out.toByteArray, 0, 10) // magic + FHD + window + FCS
    val h2 = 1 | (2 << 1) | (b2.length << 3)
    broken.write(h2 & 0xFF); broken.write((h2 >>> 8) & 0xFF)
    broken.write((h2 >>> 16) & 0xFF)
    broken.write(b2, 0, b2.length)
    broken.write(Array.fill[Byte](4)(0), 0, 4) // (unreached) checksum
    val e = intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(broken.toByteArray))
    assert(e.getMessage.contains("treeless") ||
      e.getMessage.contains("Repeat"))
  }

  test("zstd Block_Maximum_Size: a compressed block whose wire size " +
      "exceeds min(window, 128 KB) is a loud error — the reference " +
      "decoder rejects these with srcSize_wrong") {
    import graft.web.ZstdEntropy
    // literals-only compressed block of 'ab'*8: the 50-byte direct
    // weight description dwarfs the 16-byte single-segment window
    val d = ("ab" * 8).getBytes("US-ASCII")
    val block = ZstdEntropy.encodeLiteralsSection(d) :+ 0.toByte
    val out = new java.io.ByteArrayOutputStream()
    def u32(x: Long): Unit = {
      var t = x; var i = 0
      while (i < 4) { out.write((t & 0xFF).toInt); t >>>= 8; i += 1 }
    }
    u32(0xFD2FB528L & 0xFFFFFFFFL)
    out.write(0x20); out.write(d.length) // single-segment, no checksum
    val h = 1 | (2 << 1) | (block.length << 3)
    out.write(h & 0xFF); out.write((h >>> 8) & 0xFF)
    out.write((h >>> 16) & 0xFF)
    out.write(block, 0, block.length)
    val e = intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(out.toByteArray))
    assert(e.getMessage.contains("Block_Maximum_Size"))
    // and the ENCODER avoids the trap: payloads whose block outgrows
    // the content get an explicit window descriptor instead of
    // single-segment framing ('ab': 50-byte content, ~60-byte block)
    val enc = graft.web.Zstd.encodeEntropyFrame("ab".getBytes("US-ASCII"))
    assert((enc(4) & 0x20) === 0, "tiny entropy frame must not be " +
      "single-segment (its block outgrows the content window)")
    assert(graft.web.Zstd.decodeStream(enc).frames.head.contentSize === 50L)
  }

  test("zstd entropy hostile-input pin: seeded byte flips on an " +
      "entropy-coded frame either decode or raise the loud contract " +
      "error — never an index/arithmetic crash, never silent wrong " +
      "content (the checksum seals it)") {
    val good = graft.web.Zstd.encodeEntropyFrame(
      ("the record body under mutation, with enough text to carry a " +
        "real huffman table and a sequence").getBytes("US-ASCII"))
    val rnd = new scala.util.Random(0x5EED15)
    var decoded = 0; var rejected = 0
    (0 until 400).foreach { _ =>
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try { graft.web.Zstd.decodeStream(b); decoded += 1 }
      catch {
        case _: IllegalArgumentException => rejected += 1
        case e: Throwable => fail(s"unexpected failure class: $e")
      }
    }
    assert(rejected > 0, "no mutation was caught — pin is vacuous")
  }

  test("zstd round-trip: skippable + raw/RLE frame, multi-chunk, both " +
      "FCS widths, empty payload") {
    Seq(0, 1, 100, 250, 500).foreach { n =>
      val data = Array.tabulate(n)(i => ((i % 90) + 33).toByte)
      val obj = graft.web.Zstd.encodeSkippable(Array[Byte](1, 2, 3)) ++
        graft.web.Zstd.encodeFrame(data, rleLen = 32, rleByte = '~')
      val s = graft.web.Zstd.decodeStream(obj)
      assert(s.skippablePayloads.map(_.toSeq) === Vector(Seq[Byte](1, 2, 3)))
      val f = s.frames.head
      assert(f.nRaw === (n + 127) / 128 && f.nRle === 1)
      assert(f.content.toSeq === (data ++ Array.fill(32)('~'.toByte)).toSeq)
    }
  }

  test("zstd malformed objects fail loudly: magic, reserved descriptor " +
      "bit, reserved block type, truncation, trailing garbage") {
    val good = graft.web.Zstd.encodeFrame(ascii("payload"), 4, '~')
    def mut(at: Int, f: Byte => Byte): Array[Byte] = {
      val b = good.clone(); b(at) = f(b(at)); b
    }
    intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(mut(0, _ => 0x29)))
    intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(mut(4, b => (b | 0x08).toByte)))
    // block type 3: descriptor ok, block header bits 1-2 -> 11
    intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(mut(6, b => (b | 0x06).toByte)))
    intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(good.dropRight(3)))
    intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(good ++ Array[Byte](0)))
    intercept[IllegalArgumentException](
      graft.web.Zstd.decodeStream(Array.emptyByteArray))
  }

  test("hostile-input pin: seeded byte flips on a valid zstd object " +
      "either walk or raise a contract error — never an unexpected " +
      "crash class") {
    val good = graft.web.Zstd.encodeSkippable(Array[Byte](9, 9, 9, 9)) ++
      graft.web.Zstd.encodeFrame(
        ascii("zstd object under seeded mutation 0123456789"), 16, '~')
    val rnd = new scala.util.Random(0x5EED)
    (0 until 300).foreach { _ =>
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try { graft.web.Zstd.decodeStream(b); () }
      catch {
        case _: IllegalArgumentException => () // the loud contract
        case _: NegativeArraySizeException =>
          fail("size field accepted unvalidated")
        case e: Throwable => fail(s"unexpected failure class: $e")
      }
    }
  }

  test("zstd seek table: verifies against the walked frames; a LYING " +
      "entry (count, csize, or dsize) is a loud error") {
    import graft.web.Zstd
    val f1 = Zstd.encodeFrame(ascii("first record"), 0, 0)
    val f2 = Zstd.encodeFrame(ascii("second, rather longer record body"), 0, 0)
    val table = Zstd.encodeSeekTable(
      Seq((f1.length, 12L), (f2.length, 33L)))
    val good = f1 ++ f2 ++ table
    val s = Zstd.decodeStream(good)
    assert(Zstd.verifySeekTable(s) === 2)
    assert(s.frames.map(_.offset) === Vector(0, f1.length))
    // lie about a size
    val lied = f1 ++ f2 ++ Zstd.encodeSeekTable(
      Seq((f1.length, 12L), (f2.length + 1, 33L)))
    intercept[IllegalArgumentException](
      Zstd.verifySeekTable(Zstd.decodeStream(lied)))
    // lie about the count
    val miscount = f1 ++ f2 ++ Zstd.encodeSeekTable(Seq((f1.length, 12L)))
    intercept[IllegalArgumentException](
      Zstd.verifySeekTable(Zstd.decodeStream(miscount)))
  }

  test("zstd seek table: only the 0xE-nibble TRAILING skippable is the " +
      "table — a non-table skippable after it is ignored, a wrong " +
      "nibble or a mid-stream table is a loud error") {
    import graft.web.Zstd
    val f1 = Zstd.encodeFrame(ascii("first record"), 0, 0)
    val f2 = Zstd.encodeFrame(ascii("second, rather longer record body"), 0, 0)
    val table = Zstd.encodeSeekTable(
      Seq((f1.length, 12L), (f2.length, 33L)))
    // a metadata skippable (nibble 3) AFTER the table must not be
    // mistaken for it — pre-fix this verified the wrong payload
    val trailingMeta = f1 ++ f2 ++ table ++
      Zstd.encodeSkippable(ascii("opaque metadata"), nibble = 3)
    assert(Zstd.verifySeekTable(Zstd.decodeStream(trailingMeta)) === 2)
    // the right bytes under the WRONG nibble are not a seek table
    val wrongNibble = f1 ++ f2 ++ Zstd.encodeSkippable(
      table.drop(8), nibble = 7)
    intercept[IllegalArgumentException](
      Zstd.verifySeekTable(Zstd.decodeStream(wrongNibble)))
    // a stale table BEFORE the data frames must not verify
    val midStream = table ++ f1 ++ f2
    intercept[IllegalArgumentException](
      Zstd.verifySeekTable(Zstd.decodeStream(midStream)))
  }

  test("zstd 4-byte FCS: a frame over the 2-byte limit (>= 65792 bytes " +
      "of content) round-trips — the old encoder cliff is gone") {
    import graft.web.Zstd
    val big = Array.tabulate(70000)(i => ((i % 90) + 33).toByte)
    val s = Zstd.decodeStream(Zstd.encodeFrame(big, 0, 0))
    assert(s.frames.size === 1)
    assert(s.frames.head.contentSize === 70000L)
    assert(java.util.Arrays.equals(s.frames.head.content, big))
  }

  test("zlib wrapper: inflates a JVM-Deflater stream with Adler-32 " +
      "verification; a flipped trailer byte or bad FCHECK is loud") {
    import graft.web.Deflate
    val data = ascii("the quick brown fox jumps over the lazy dog, " * 40)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(data); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val z = out.toByteArray
    assert(java.util.Arrays.equals(Deflate.zlibInflate(z), data))
    val badAdler = z.clone(); badAdler(z.length - 1) = (badAdler(z.length - 1) ^ 1).toByte
    val e1 = intercept[IllegalArgumentException](Deflate.zlibInflate(badAdler))
    assert(e1.getMessage.contains("Adler-32"))
    val badHdr = z.clone(); badHdr(1) = (badHdr(1) ^ 0x01).toByte
    intercept[IllegalArgumentException](Deflate.zlibInflate(badHdr))
  }

  // ----------------------------------------- front door → state build

  test("warcToDocs: the documents relation recovered from archive " +
      "bytes alone equals the source projection, and feeds " +
      "CorpusBuild.ingestBatch with no adaptation") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val archives = graft.web.WebLake.warcHttpFromDocs(spark, docs)
    val fromWarc = graft.web.WebLake.warcToDocs(spark, archives)

    // what the crawl SHOULD recover: the ASCII sub-stream (the wire
    // payload), empty for the synthesized 404s, source from the URI —
    // computed here in plain test code, independent of WebLake's
    // synthesis helpers; lang applies the same q23-tested langId to
    // the recovered text (the extraction is under test, not langId)
    import spark.implicits._
    val expected = docs.select("doc_id", "text", "source").collect()
      .map { r =>
        val id = r.getLong(0)
        val t = Option(r.getString(1)).getOrElse("")
        val asciiStream = new String(
          t.getBytes("UTF-8").filter(b => (b & 0x80) == 0), "US-ASCII")
        (id, if (id % 17 == 0) "" else asciiStream, r.getString(2))
      }.toSeq.toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"),
        graft.functions.TextAnalysis.langId(col("text")).as("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))

    val got = fromWarc.orderBy("doc_id").collect().map(_.toSeq)
    val want = expected.orderBy("doc_id").collect().map(_.toSeq)
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w) }

    // and the recovered relation drives the standing state build
    val dir = tempDir("webstate").toString
    graft.pipeline.CorpusBuild.ingestBatch(dir, fromWarc)
    val manifest = graft.pipeline.CorpusBuild.stateManifest(spark, dir)
      .collect()
    assert(manifest.nonEmpty, "state manifest empty after warc ingest")
  }

  test("jsonl.zst round-trip with HOSTILE text: quotes, backslashes, " +
      "and control characters survive serialize → frame → from_json " +
      "(the corpus may never exercise the escapes; this pins them)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain text", "en", "src1"),
      (2L, "quote \" backslash \\ slash / done", "de", "src2"),
      (3L, "newline\nand\ttab and\rcr", "fr", "src3"),
      (4L, "ctrl \u0001\u001f bytes", "es", "src4"),
      (5L, "", "zh", "src5"))
      .toDF("doc_id", "text", "lang", "source")
    val back = graft.web.WebLake.readJsonlZst(spark,
        graft.web.WebLake.jsonlZstFromDocs(spark, docs))
      .orderBy("doc_id").collect()
    val want = docs.orderBy("doc_id").collect()
    assert(back.length === want.length)
    back.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) === w.getLong(0))
      assert(g.getString(1) === w.getString(1),
        s"text mismatch for doc ${w.getLong(0)}")
      assert(g.getString(2) === w.getString(2))
      assert(g.getString(3) === w.getString(3))
    }
  }

  // ----------------------------------------------------- boilerplate

  test("boilerplate: chrome dropped by tag, link-farm dropped by " +
      "density, content joined with newline") {
    val ex = graft.web.Boilerplate.extractMain(
      "<html><head><style>p{}</style></head><body>" +
        "<nav><a href=\"/\">home</a></nav>" +
        "<div><a href=\"/a\">AA</a><a href=\"/b\">BB</a><a>CC</a> x</div>" +
        "<p>real content</p>" +
        "<div class=\"more\">second block</div>" +
        "<footer>(c)</footer>" +
        "</body></html>")
    assert(ex.mainText === "real content\nsecond block")
    assert(ex.kept === 2 && ex.droppedDense === 1)
  }

  test("boilerplate corners: density EXACTLY 0.5 is kept (rule is " +
      "strict >), empty block kept, chrome nested INSIDE a block is " +
      "excluded from both its text and its density") {
    // linked 3 of 6 chars -> exactly half -> kept
    val half = graft.web.Boilerplate.extractMain(
      "<html><body><div><a>abc</a>def</div></body></html>")
    assert(half.mainText === "abcdef" && half.kept === 1 &&
      half.droppedDense === 0)
    val empty = graft.web.Boilerplate.extractMain(
      "<html><body><p></p></body></html>")
    assert(empty.mainText === "" && empty.kept === 1)
    // a nav inside a content div: its link chars must not count toward
    // the div's density, and its text must not leak into the output
    val nested = graft.web.Boilerplate.extractMain(
      "<html><body><div><nav><a>AAAAAAAAAA</a></nav>body text</div>" +
        "</body></html>")
    assert(nested.mainText === "body text")
    assert(nested.kept === 1 && nested.droppedDense === 0)
  }

  // ---------------------------------------------------------- robots

  test("robots grammar: comments, case-insensitive fields and agents, " +
      "unknown fields, empty Disallow, Sitemap collection") {
    val r = graft.web.Robots.parse(
      """# a comment line
        |USER-AGENT: GraftBot  # trailing comment
        |disallow: /private
        |Disallow:
        |Allow: /private/ok
        |crawl-DELAY: 4
        |X-Unknown: whatever
        |Sitemap: https://corpus.example/sitemap.xml
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin)
    assert(r.groups.size === 2)
    assert(r.groups(0).agents === Vector("graftbot"))
    // the empty Disallow value is dropped (matches nothing per RFC)
    assert(r.groups(0).rules ===
      Vector(graft.web.Robots.Rule(false, "/private"),
        graft.web.Robots.Rule(true, "/private/ok")))
    assert(r.groups(0).crawlDelay === 4)
    assert(r.sitemaps === Vector("https://corpus.example/sitemap.xml"))
  }

  test("group selection: exact token beats *, multiple groups for the " +
      "same agent COMBINE, no group at all -> allow-all") {
    val r = graft.web.Robots.parse(
      """User-agent: graftbot
        |Disallow: /a
        |
        |User-agent: otherbot
        |User-agent: graftbot
        |Disallow: /b
        |Crawl-delay: 9
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin)
    val (name, g) = graft.web.Robots.select(r, "GRAFTBOT")
    assert(name === "graftbot")
    assert(g.rules.map(_.pattern) === Vector("/a", "/b")) // combined
    assert(g.crawlDelay === 9) // max across combined groups
    val (starName, star) = graft.web.Robots.select(r, "strangerbot")
    assert(starName === "*" && star.rules.map(_.pattern) === Vector("/"))
    val (_, none) = graft.web.Robots.select(
      graft.web.Robots.parse("User-agent: x\nDisallow: /\n"), "y")
    assert(none.rules.isEmpty) // no * group -> allow-all
  }

  test("pattern matcher: prefix semantics, * spans, $ anchor — incl. " +
      "the anchored-wildcard case greedy-first matching gets wrong") {
    val m = graft.web.Robots.matches _
    assert(m("/p", "/path"))             // prefix
    assert(!m("/path", "/p"))
    assert(m("/a/*9", "/a/xx9yy"))       // wildcard then prefix-continue
    assert(m("/a/*9", "/a/9"))           // * matches empty
    assert(!m("/a/*9", "/a/xxyy"))
    assert(m("*9$", "909"))              // backtracking: LAST 9 anchors
    assert(!m("*9$", "90"))
    assert(m("/a$", "/a") && !m("/a$", "/ab"))
    assert(m("", "/anything"))           // empty pattern = match-all prefix
    assert(m("/f*o*b$", "/foooblab"))    // two spans + anchor all in play
    assert(!m("/f*o*b$", "/fooobla"))    // anchor misses: ends 'a'
  }

  test("decide precedence: longest rule wins, allow beats disallow on " +
      "an equal-length tie, no match -> allowed with length 0") {
    import graft.web.Robots.{Group, Rule}
    val g = Group(Vector("*"), Vector(
      Rule(false, "/dir"), Rule(true, "/dir/sub"), Rule(false, "/dir/su")),
      0L)
    assert(graft.web.Robots.decide(g, "/dir/subpage") === (true, 8))
    assert(graft.web.Robots.decide(g, "/dir/other") === (false, 4))
    assert(graft.web.Robots.decide(g, "/elsewhere") === (true, 0))
    // equal-length allow/disallow tie -> allow
    val tie = Group(Vector("*"), Vector(
      Rule(false, "/aa/x"), Rule(true, "/aa/y")), 0L)
    assert(graft.web.Robots.decide(tie, "/aa/x") === (false, 5))
    val tie2 = Group(Vector("*"), Vector(
      Rule(false, "/t*z"), Rule(true, "/taz")), 0L)
    assert(graft.web.Robots.decide(tie2, "/taz") === (true, 4))
  }

  test("synthesized robots: every third source serves graftbot its own " +
      "group over a deny-all fallback; unknown agents get denied there") {
    val r0 = graft.web.Robots.parse(graft.web.WebLake.robotsTxtFor("src0"))
    val (n0, g0) = graft.web.Robots.select(r0, "graftbot")
    assert(n0 === "graftbot" && g0.crawlDelay === 1)
    assert(graft.web.Robots.decide(g0, "/src0/42")._1) // unmatched -> allowed
    assert(!graft.web.Robots.decide(g0, "/src0/7")._1) // $-anchored exact
    assert(!graft.web.Robots.decide(g0, "/src0/19")._1) // wildcard *9
    assert(graft.web.Robots.decide(g0, "/src0/129")._1) // allow-tie wins
    val (nx, gx) = graft.web.Robots.select(r0, "randombot")
    assert(nx === "*" && !graft.web.Robots.decide(gx, "/src0/42")._1)
    val r1 = graft.web.Robots.parse(graft.web.WebLake.robotsTxtFor("src1"))
    val (n1, g1) = graft.web.Robots.select(r1, "graftbot")
    assert(n1 === "*" && g1.crawlDelay === 2)
    assert(!graft.web.Robots.decide(g1, "/src1/14")._1) // prefix /src1/1
  }

  // ---------------------------------------------- compression sniffing

  test("sniff dispatch corners: an ASCII payload colliding with the " +
      "zstd SKIPPABLE magic ('P*M'+0x18) falls back to plain instead " +
      "of failing the stage; the draft brotli magic routes to the " +
      "engine's own RFC 7932 walk and the payload prices out") {
    import spark.implicits._
    import graft.web.WebLake
    // all four bytes of the skippable magic are <= 0x7F — a plain
    // payload CAN start with them (0x18 is an ASCII control byte)
    val collide = (Array('P', '*', 'M').map(_.toByte) :+ 0x18.toByte) ++
      ascii(" just text that resembles a zstd skippable frame header")
    val text = "brotli body the engine now decodes itself"
    val brotli = Array(0xCE, 0xB2, 0xCF, 0x81).map(_.toByte) ++
      graft.web.Brotli.encodeUncompressed(ascii(text))
    val rows = Seq(WebLake.ArchiveRow(1L, collide),
      WebLake.ArchiveRow(2L, brotli)).toDS()
    val got = WebLake.sniffCompression(rows).collect().sortBy(_.doc_id)
    assert(got(0).format === "plain")
    assert(got(0).payload_len === collide.length.toLong)
    assert(got(0).payload_sum ===
      collide.iterator.map(b => (b & 0xFF).toLong).sum)
    assert(got(1).format === "brotli")
    assert(got(1).payload_len === text.length.toLong)
    assert(got(1).payload_sum ===
      ascii(text).iterator.map(b => (b & 0xFF).toLong).sum)
    assert(got(1).object_len === brotli.length.toLong)
  }

  test("sniffCompression: a garbled stream behind the brotli magic is " +
      "LOUD (the magic has non-ASCII bytes — no plain collision, so a " +
      "failed walk is real corruption, never a silent fallback)") {
    import spark.implicits._
    import graft.web.WebLake
    val good = graft.web.Brotli.encodeUncompressed(ascii("some body"))
    val bad = Array(0xCE, 0xB2, 0xCF, 0x81).map(_.toByte) ++
      java.util.Arrays.copyOf(good, good.length - 1)
    val rows = Seq(WebLake.ArchiveRow(1L, bad)).toDS()
    val e = intercept[org.apache.spark.SparkException](
      WebLake.sniffCompression(rows).collect())
    assert(e.getMessage != null)
  }
}
