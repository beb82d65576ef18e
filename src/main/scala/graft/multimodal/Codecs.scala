package graft.multimodal

import graft.web.{Bits, PrefixCode}

/** From-scratch, zero-dependency codecs for the two classic uncompressed
  * media containers — real parsers, not stubs:
  *
  *  - Netpbm P6 (binary PPM) images: the public Netpbm format — ASCII
  *    header `P6 <width> <height> <maxval>` with `#` comments and
  *    arbitrary whitespace, then a raw RGB plane, one byte per channel
  *    for maxval < 256.
  *  - RIFF/WAVE PCM audio: the public Microsoft RIFF container — the
  *    `fmt ` chunk (format tag, channels, sample rate, bits/sample) and
  *    the `data` chunk located by WALKING the chunk list (unknown
  *    chunks are skipped by their declared size, as the spec requires),
  *    16-bit little-endian signed samples.
  *
  * Both decoders validate what they parse and fail loudly on malformed
  * input — a corrupt payload in a 100 TB media lake should surface as a
  * quarantined error row, never a silently wrong statistic. Everything
  * here is pure JVM arithmetic (no image/audio libraries exist in this
  * environment, and none are needed for these formats), so the decode
  * kernels run inside the same per-partition iterators the rest of
  * [[Multimodal]] uses.
  *
  * Reference behavior being replaced: the reference pipeline stores and
  * ships opaque payloads only (scraping_jobsdb holds HTML text); these
  * codecs are the "beyond the reference" multimodal tier — the decode /
  * feature-extract step a training-data pipeline runs between the
  * binary column and the feature table.
  */
object Codecs {

  /** A decoded P6 image: dimensions + the raw interleaved RGB plane
    * (3 bytes per pixel, row-major).
    */
  final case class PpmImage(width: Int, height: Int, maxVal: Int,
      pixels: Array[Byte])

  /** A decoded PCM WAV: format fields as READ FROM THE FILE plus the
    * signed 16-bit samples (channel-interleaved when channels > 1).
    */
  final case class WavAudio(channels: Int, sampleRate: Int,
      bitsPerSample: Int, samples: Array[Short])

  // ---------------------------------------------------------------- PPM

  /** Encode a P6 binary PPM. `pixels` must be exactly width*height*3
    * bytes of interleaved RGB.
    */
  def encodePpm(width: Int, height: Int, maxVal: Int,
      pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(maxVal > 0 && maxVal < 256, s"maxval $maxVal not in [1, 255]")
    require(pixels.length == width * height * 3,
      s"pixel plane ${pixels.length} != ${width * height * 3}")
    val header = s"P6\n$width $height\n$maxVal\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** Parse a P6 binary PPM: magic, then three header integers separated
    * by whitespace with `#`-to-end-of-line comments allowed anywhere
    * whitespace is (the Netpbm grammar), then a SINGLE whitespace byte,
    * then the raw plane. maxval ≥ 256 (2-byte samples) is rejected as
    * unsupported rather than mis-read.
    */
  def decodePpm(bytes: Array[Byte]): PpmImage = decodePpmAt(bytes, 0)._1

  /** Parse ONE P6 image starting at `start`, returning the image and the
    * position one past its plane — the primitive a multi-frame image
    * stream ([[decodePpmStream]]) walks with.
    */
  def decodePpmAt(bytes: Array[Byte], start: Int): (PpmImage, Int) = {
    require(bytes.length >= start + 2 &&
      bytes(start) == 'P' && bytes(start + 1) == '6',
      s"not a P6 PPM payload at byte $start")
    var pos = start + 2
    def isSpace(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    def skipSeparators(): Unit = {
      var moved = true
      while (moved) {
        moved = false
        while (pos < bytes.length && isSpace(bytes(pos))) { pos += 1; moved = true }
        if (pos < bytes.length && bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          moved = true
        }
      }
    }
    def readInt(): Int = {
      skipSeparators()
      require(pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9',
        s"expected header integer at byte $pos")
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val (w, h, maxVal) = (readInt(), readInt(), readInt())
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(maxVal > 0 && maxVal < 256,
      s"maxval $maxVal unsupported (2-byte samples)")
    // exactly ONE whitespace byte terminates the header (per the spec —
    // a pixel plane may legally begin with a '#' or space BYTE VALUE)
    require(pos < bytes.length && isSpace(bytes(pos)),
      "missing header-terminating whitespace")
    pos += 1
    val need = w * h * 3
    require(bytes.length - pos >= need,
      s"truncated plane: ${bytes.length - pos} of $need bytes")
    (PpmImage(w, h, maxVal,
      java.util.Arrays.copyOfRange(bytes, pos, pos + need)), pos + need)
  }

  /** Decode a concatenated-P6 image stream (the MJPEG shape for the
    * uncompressed Netpbm family: frame after frame, each a complete P6
    * file): walk [[decodePpmAt]] until the bytes are exhausted. Trailing
    * garbage fails loudly (a partial frame is a truncation, not EOF).
    */
  def decodePpmStream(bytes: Array[Byte]): IndexedSeq[PpmImage] = {
    val frames = IndexedSeq.newBuilder[PpmImage]
    var pos = 0
    while (pos < bytes.length) {
      val (img, next) = decodePpmAt(bytes, pos)
      frames += img
      pos = next
    }
    frames.result()
  }

  // ---------------------------------------------------------------- PNG

  /** Write one PNG chunk: 4-byte big-endian length, 4-byte ASCII type,
    * body, then CRC-32 computed over type+body (the spec's coverage).
    */
  private def writePngChunk(out: java.io.ByteArrayOutputStream,
      chunkType: String, body: Array[Byte]): Unit = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val typeBytes = chunkType.getBytes(ascii)
    require(typeBytes.length == 4, s"bad chunk type '$chunkType'")
    val bb = java.nio.ByteBuffer.allocate(4).putInt(body.length)
    out.write(bb.array())
    out.write(typeBytes)
    out.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(typeBytes); crc.update(body)
    out.write(java.nio.ByteBuffer.allocate(4)
      .putInt(crc.getValue.toInt).array())
  }

  private val PngSignature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Encode an 8-bit truecolor (color type 2) PNG from an interleaved
    * RGB plane — a REAL compressed image: scanlines are filtered and
    * DEFLATE-compressed (`java.util.zip.Deflater`, the JVM's built-in
    * zlib). Row `r` uses filter type `r % 5`, so any image with ≥ 5
    * rows exercises the decoder's ENTIRE un-filter surface (None, Sub,
    * Up, Average, Paeth); the compressed stream is split across
    * multiple IDAT chunks (the spec explicitly allows it) so decoders
    * that forget to concatenate IDAT bodies fail loudly. Layout per
    * the public PNG specification (RFC 2083 / ISO 15948): signature,
    * IHDR, IDAT+, IEND, each chunk CRC-32-protected.
    */
  def encodePng(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(pixels.length == width * height * 3,
      s"pixel plane ${pixels.length} != ${width * height * 3}")
    val stride = width * 3
    // filter the scanlines (raw -> filtered, one filter byte per row)
    val raw = new Array[Byte](height * (1 + stride))
    var r = 0
    while (r < height) {
      raw(r * (1 + stride)) = (r % 5).toByte
      pngFilterRow(r % 5, pixels, r, stride, raw, r * (1 + stride) + 1,
        unfilter = false)
      r += 1
    }
    // zlib-deflate the filtered stream
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val compressed = comp.toByteArray
    // assemble: signature, IHDR, IDAT (split), IEND
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSignature)
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte)  // compression: deflate
      .put(0.toByte)  // filter method: adaptive (the 5 filter types)
      .put(0.toByte)  // interlace: none
    writePngChunk(out, "IHDR", ihdr.array())
    var off = 0
    while (off < compressed.length) {
      val n = math.min(4096, compressed.length - off)
      writePngChunk(out, "IDAT",
        java.util.Arrays.copyOfRange(compressed, off, off + n))
      off += n
    }
    writePngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Filter row `r` of an RGB `plane` (`stride` bytes a row) with
    * filter type `ft` into `line` from `off` — or, with `unfilter`,
    * rebuild the row in `plane` from the filtered bytes in `line`. The
    * prediction reads the plane's left, up and upper-left bytes, which
    * un-filtering has already rebuilt, so both directions predict alike.
    * One call a row keeps the per-byte loop free of calls but Paeth's.
    */
  private def pngFilterRow(ft: Int, plane: Array[Byte], r: Int,
      stride: Int, line: Array[Byte], off: Int, unfilter: Boolean): Unit = {
    val i0 = r * stride
    var x = 0
    while (x < stride) {
      val left = if (x >= 3) plane(i0 + x - 3) & 0xFF else 0
      val up = if (r > 0) plane(i0 - stride + x) & 0xFF else 0
      val predicted = ft match {
        case 0 => 0
        case 1 => left
        case 2 => up
        case 3 => (left + up) / 2
        case 4 => paethPredictor(left, up,
          if (r > 0 && x >= 3) plane(i0 - stride + x - 3) & 0xFF else 0)
      }
      if (unfilter) plane(i0 + x) = ((line(off + x) + predicted) & 0xFF).toByte
      else line(off + x) = ((plane(i0 + x) - predicted) & 0xFF).toByte
      x += 1
    }
  }

  /** The Paeth predictor exactly as specified: the neighbor (left,
    * above, upper-left) closest to `left + above − upperLeft`, ties
    * broken left, above, upper-left.
    */
  private def paethPredictor(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Parse a PNG (8-bit truecolor, non-interlaced): verify the 8-byte
    * signature, walk the chunk list verifying EVERY chunk's CRC-32
    * (corruption fails loudly, never decodes silently wrong), require
    * IHDR first, concatenate all IDAT bodies in order, stop at IEND,
    * skip unknown ancillary chunks by their declared length. The
    * concatenated stream is zlib-inflated by the engine's OWN RFC
    * 1950/1951 decoder ([[graft.web.Deflate.zlibInflate]] — Adler-32
    * verified) and must yield exactly height·(1+width·3) bytes; scanlines are
    * then un-filtered per the five spec filter types. Returns the
    * image as a [[PpmImage]] (maxVal 255) so every downstream pixel
    * consumer — stats, dHash, resample — is container-agnostic.
    */
  def decodePng(bytes: Array[Byte]): PpmImage = {
    require(bytes.length >= 8 &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOf(bytes, 8), PngSignature),
      "not a PNG payload (bad signature)")
    val bb = java.nio.ByteBuffer.wrap(bytes, 8, bytes.length - 8)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    var width = 0; var height = 0
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      require(bb.remaining() >= 12, "truncated PNG chunk stream")
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining() - 8,
        s"chunk declares $len bytes, ${bb.remaining() - 8} remain")
      val typeBytes = new Array[Byte](4); bb.get(typeBytes)
      val chunkType = new String(typeBytes, ascii)
      val body = new Array[Byte](len); bb.get(body)
      val crcStored = bb.getInt
      val crc = new java.util.zip.CRC32()
      crc.update(typeBytes); crc.update(body)
      require(crc.getValue.toInt == crcStored,
        s"CRC mismatch on chunk '$chunkType'")
      chunkType match {
        case "IHDR" =>
          require(!sawIhdr, "duplicate IHDR")
          require(len == 13, s"IHDR length $len != 13")
          val hb = java.nio.ByteBuffer.wrap(body)
          width = hb.getInt; height = hb.getInt
          val bitDepth = hb.get() & 0xFF; val colorType = hb.get() & 0xFF
          val compression = hb.get() & 0xFF; val filterMethod = hb.get() & 0xFF
          val interlace = hb.get() & 0xFF
          require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
          require(bitDepth == 8, s"bit depth $bitDepth unsupported")
          require(colorType == 2,
            s"color type $colorType unsupported (truecolor RGB only)")
          require(compression == 0 && filterMethod == 0,
            "non-standard compression/filter method")
          require(interlace == 0, "Adam7 interlacing unsupported")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "IDAT before IHDR")
          idat.write(body)
        case "IEND" =>
          require(sawIhdr, "IEND before IHDR")
          sawIend = true
        case _ => // ancillary chunk (tEXt, gAMA, …): CRC-checked, skipped
      }
    }
    val stride = width * 3
    val rawLen = height * (1 + stride)
    // the engine's own RFC 1950/1951 decoder (graft.web.Deflate) — the
    // same proven inflate the gzip front door runs, plus the Adler-32
    // verification java.util.zip.Inflater skips
    val raw = graft.web.Deflate.zlibInflate(idat.toByteArray)
    require(raw.length == rawLen,
      s"IDAT inflates to wrong size (got ${raw.length}, want $rawLen)")
    // un-filter scanlines in place into the output plane
    val pixels = new Array[Byte](height * stride)
    var r = 0
    while (r < height) {
      val ft = raw(r * (1 + stride)) & 0xFF
      require(ft <= 4, s"unknown filter type $ft on row $r")
      pngFilterRow(ft, pixels, r, stride, raw, r * (1 + stride) + 1,
        unfilter = true)
      r += 1
    }
    PpmImage(width, height, 255, pixels)
  }

  // ---------------------------------------------------------------- GIF

  /** Encode a GIF89a with a 256-entry grayscale global color table
    * (palette i → (i,i,i)) and ONE image whose pixel bytes are palette
    * indices — a REAL LZW-compressed container: variable-width codes
    * (9→12 bits, LSB-first bit packing), clear/EOI control codes, a
    * table reset when the dictionary fills, and 255-byte data
    * sub-blocks, per the public GIF89a specification. Grayscale
    * palette keeps the decoded RGB plane a pure function of the index
    * plane, which is what lets a second engine predict every decoded
    * statistic from the source bytes.
    */
  def encodeGif(width: Int, height: Int, indices: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(width <= 65535 && height <= 65535,
      s"GIF dimensions ${width}x$height exceed the 16-bit header fields")
    require(indices.length == width * height,
      s"index plane ${indices.length} != ${width * height}")
    val out = new java.io.ByteArrayOutputStream()
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    out.write("GIF89a".getBytes(ascii))
    // logical screen descriptor: w, h (LE), packed (GCT present, 8-bit
    // color resolution, 256-entry table), background 0, no aspect
    out.write(width & 0xFF); out.write((width >> 8) & 0xFF)
    out.write(height & 0xFF); out.write((height >> 8) & 0xFF)
    out.write(0xF7); out.write(0); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    // image descriptor at (0,0), no local table, no interlace
    out.write(0x2C)
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(width & 0xFF); out.write((width >> 8) & 0xFF)
    out.write(height & 0xFF); out.write((height >> 8) & 0xFF)
    out.write(0)
    // LZW-compressed index stream
    val minCodeSize = 8
    out.write(minCodeSize)
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val bits = new Bits.LsbWriter("gif", indices.length)
    var codeSize = minCodeSize + 1
    def emit(code: Int): Unit = bits.bits(code, codeSize)
    val dict = new java.util.HashMap[Long, Integer]()
    var nextCode = eoi + 1
    def reset(): Unit = { dict.clear(); nextCode = eoi + 1; codeSize = minCodeSize + 1 }
    emit(clear)
    var w = indices(0) & 0xFF
    i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xFF
      val key = (w.toLong << 12) | k // w is a code < 4096, k a byte
      val hit = dict.get(key)
      if (hit != null) w = hit.intValue()
      else {
        emit(w)
        if (nextCode < 4096) {
          dict.put(key, nextCode); nextCode += 1
          // the decoder reconstructs each entry one code LATER than the
          // encoder defines it, so the de-facto GIF width contract is
          // offset by one: encoder widens at (1<<size)+1, decoder at
          // (1<<size) — both sides then agree on every code's width
          if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
        } else { emit(clear); reset() }
        w = k
      }
      i += 1
    }
    emit(w)
    // The decoder adds one more dictionary entry when it READS this
    // final code (its inserts lag the encoder's by one code) and bumps
    // its width if that entry lands exactly on 1<<codeSize — so mirror
    // that bookkeeping here, or EOI gets written one bit narrower than
    // the decoder reads it and a stream ending on a byte boundary
    // fails as truncated. (No real entry is defined; only the width
    // accounting advances.)
    if (nextCode < 4096) {
      nextCode += 1
      if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
    }
    emit(eoi)
    // 255-byte sub-blocks + terminator
    val data = bits.result
    var off = 0
    while (off < data.length) {
      val n = math.min(255, data.length - off)
      out.write(n); out.write(data, off, n); off += n
    }
    out.write(0)
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Parse a GIF (87a or 89a): header + logical screen descriptor +
    * global color table, extension blocks skipped by their sub-block
    * chain lengths (as the spec requires), then ONE image: descriptor
    * validated (no interlace, no local-table surprises — a local table
    * is read and used if present), and the LZW index stream decoded
    * with the full variable-width algorithm — code growth 9→12 bits,
    * clear-code table resets, the `code == nextCode` (KwKwK) case, and
    * sub-block reassembly. Indices map through the active palette to
    * an interleaved RGB plane, returned as a [[PpmImage]] (maxVal 255)
    * so every pixel consumer is container-agnostic. Animated GIFs
    * (a second image descriptor) and malformed streams fail loudly.
    */
  def decodeGif(bytes: Array[Byte]): PpmImage = {
    require(bytes.length >= 13, "truncated GIF header")
    val magic = new String(bytes, 0, 6,
      java.nio.charset.StandardCharsets.US_ASCII)
    require(magic == "GIF89a" || magic == "GIF87a",
      s"not a GIF payload (header '$magic')")
    var pos = 6
    def u8(): Int = { val v = bytes(pos) & 0xFF; pos += 1; v }
    def u16(): Int = { val v = (bytes(pos) & 0xFF) | ((bytes(pos + 1) & 0xFF) << 8); pos += 2; v }
    val screenW = u16(); val screenH = u16()
    val packed = u8(); u8(); u8() // background index, aspect ratio
    val gctSize = if ((packed & 0x80) != 0) 2 << (packed & 7) else 0
    require(pos + 3 * gctSize <= bytes.length, "truncated global color table")
    val gct = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * gctSize)
    pos += 3 * gctSize
    // walk blocks to the first image descriptor
    var image: PpmImage = null
    var done = false
    while (!done) {
      require(pos < bytes.length, "unterminated GIF block stream")
      u8() match {
        case 0x21 => // extension: label + sub-block chain, skipped by size
          require(pos < bytes.length, "truncated extension")
          u8()
          var n = u8()
          while (n != 0) {
            require(pos + n <= bytes.length, "truncated extension sub-block")
            pos += n; n = u8()
          }
        case 0x2C =>
          require(image == null, "animated GIF (second image) unsupported")
          u16(); u16() // left, top
          val w = u16(); val h = u16()
          require(w > 0 && h > 0 && w <= screenW && h <= screenH,
            s"bad image dimensions ${w}x$h in ${screenW}x$screenH screen")
          val iPacked = u8()
          require((iPacked & 0x40) == 0, "interlaced GIF unsupported")
          val lctSize = if ((iPacked & 0x80) != 0) 2 << (iPacked & 7) else 0
          require(pos + 3 * lctSize <= bytes.length, "truncated local color table")
          val palette =
            if (lctSize > 0) {
              val p = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * lctSize)
              pos += 3 * lctSize; p
            } else gct
          require(palette.nonEmpty, "no color table for image data")
          val minCodeSize = u8()
          require(minCodeSize >= 2 && minCodeSize <= 8,
            s"bad LZW minimum code size $minCodeSize")
          // reassemble the sub-block chain
          val data = new java.io.ByteArrayOutputStream()
          var n = u8()
          while (n != 0) {
            require(pos + n <= bytes.length, "truncated image sub-block")
            data.write(bytes, pos, n); pos += n; n = u8()
          }
          image = lzwDecode(data.toByteArray, minCodeSize, w, h, palette)
        case 0x3B =>
          require(image != null, "GIF trailer before any image")
          done = true
        case other =>
          throw new IllegalArgumentException(
            f"unknown GIF block 0x$other%02X at byte ${pos - 1}")
      }
    }
    image
  }

  /** GIF-variant LZW over a reassembled code stream: LSB-first variable
    * width codes, clear/EOI, dictionary growth with the KwKwK case,
    * width bump at table powers, reset on clear. Exactly `w*h` indices
    * must decode; each maps through the palette to RGB.
    */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
      w: Int, h: Int, palette: Array[Byte]): PpmImage = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val nColors = palette.length / 3
    val out = new Array[Byte](w * h)
    var outPos = 0
    // dictionary as (prefix code, appended byte) per entry
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var nextCode = eoi + 1
    var codeSize = minCodeSize + 1
    val codes = new Bits.LsbReader("gif", data)
    var prevCode = -1
    val stack = new Array[Byte](4096)
    def expand(code: Int): Unit = {
      // walk the prefix chain, then reverse into the output
      var c = code
      var len = 0
      while (c >= clear + 2) {
        stack(len) = suffix(c); len += 1; c = prefix(c)
      }
      require(c < clear, s"corrupt LZW chain root $c")
      require(c < nColors, s"palette index $c outside $nColors-color table")
      stack(len) = c.toByte; len += 1
      require(outPos + len <= out.length,
        "LZW stream decodes past the declared pixel count")
      var i = len - 1
      while (i >= 0) { out(outPos) = stack(i); outPos += 1; i -= 1 }
    }
    def firstByteOf(code: Int): Byte = {
      var c = code
      while (c >= clear + 2) c = prefix(c)
      c.toByte
    }
    var ended = false
    while (!ended) {
      val code = codes.bits(codeSize)
      if (code == clear) {
        nextCode = eoi + 1; codeSize = minCodeSize + 1; prevCode = -1
      } else if (code == eoi) {
        ended = true
      } else if (prevCode == -1) {
        require(code < clear, s"first code after clear must be a literal, got $code")
        expand(code); prevCode = code
      } else {
        require(code <= nextCode,
          s"LZW code $code ahead of dictionary ($nextCode)")
        val effective =
          if (code == nextCode) { // KwKwK: entry being defined right now
            require(nextCode < 4096, "KwKwK against a full table")
            prefix(nextCode) = prevCode
            suffix(nextCode) = firstByteOf(prevCode)
            nextCode += 1
            if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
            expand(nextCode - 1)
            nextCode - 1
          } else {
            expand(code)
            if (nextCode < 4096) {
              prefix(nextCode) = prevCode
              suffix(nextCode) = firstByteOf(code)
              nextCode += 1
              if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
            }
            code
          }
        prevCode = effective
      }
    }
    require(outPos == out.length,
      s"LZW stream decoded $outPos of ${out.length} pixels")
    // indices -> RGB through the palette
    val pixels = new Array[Byte](w * h * 3)
    var i = 0
    while (i < out.length) {
      val idx = out(i) & 0xFF
      require(idx < nColors, s"pixel index $idx outside $nColors-color table")
      pixels(i * 3) = palette(idx * 3)
      pixels(i * 3 + 1) = palette(idx * 3 + 1)
      pixels(i * 3 + 2) = palette(idx * 3 + 2)
      i += 1
    }
    PpmImage(w, h, 255, pixels)
  }

  // ---------------------------------------------------------------- WAV

  /** Encode a PCM 16-bit RIFF/WAVE file (standard 44-byte header when no
    * extra chunks precede `data`).
    */
  def encodeWav(channels: Int, sampleRate: Int,
      samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && sampleRate > 0, "bad WAV format fields")
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + dataLen)
      .put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16.toShort)              // bits per sample
    bb.put("data".getBytes(ascii)).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Parse a RIFF/WAVE PCM payload by walking the chunk list: RIFF
    * magic + WAVE form type, then chunks `(fourcc, size, body)` until
    * both `fmt ` and `data` are found — unknown chunks (LIST, fact,
    * cue …) are skipped by their declared size, with the spec's odd-size
    * pad byte honored. Only integer-PCM (format tag 1), 16 bits per
    * sample is decoded; anything else fails loudly.
    */
  def decodeWav(bytes: Array[Byte]): WavAudio = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b)
      new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    }
    require(bytes.length >= 12, "truncated RIFF header")
    require(fourcc() == "RIFF", "not a RIFF payload")
    bb.getInt // declared RIFF size — files in the wild lie; ignored
    require(fourcc() == "WAVE", "RIFF form is not WAVE")
    var fmt: Option[(Int, Int, Int, Int)] = None // tag, ch, rate, bits
    var data: Option[Array[Byte]] = None
    while ((fmt.isEmpty || data.isEmpty) && bb.remaining() >= 8) {
      val id = fourcc()
      val size = bb.getInt
      require(size >= 0 && size <= bb.remaining(),
        s"chunk '$id' declares $size bytes, ${bb.remaining()} remain")
      val body = new Array[Byte](size); bb.get(body)
      if (size % 2 == 1 && bb.remaining() > 0) bb.get() // RIFF pad byte
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too small ($size)")
          val fb = java.nio.ByteBuffer.wrap(body)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          fmt = Some((fb.getShort & 0xFFFF, fb.getShort & 0xFFFF,
            fb.getInt, { fb.getInt; fb.getShort; fb.getShort & 0xFFFF }))
        case "data" => data = Some(body)
        case _ => // unknown chunk: skipped by size, as the spec requires
      }
    }
    val (tag, channels, rate, bits) = fmt.getOrElse(
      throw new IllegalArgumentException("no fmt chunk"))
    val d = data.getOrElse(throw new IllegalArgumentException("no data chunk"))
    require(tag == 1, s"format tag $tag unsupported (integer PCM only)")
    require(bits == 16, s"$bits bits/sample unsupported (16-bit only)")
    require(d.length % 2 == 0, s"odd PCM16 data length ${d.length}")
    val sb = java.nio.ByteBuffer.wrap(d)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val samples = new Array[Short](d.length / 2)
    sb.get(samples)
    WavAudio(channels, rate, bits, samples)
  }

  // -------------------------------------------------------------- ADPCM
  //
  // From-scratch LOSSY compressed audio: IMA ADPCM inside a RIFF/WAVE
  // container (format tag 0x0011) — 4-bit delta nibbles against the
  // spec's 89-entry step table with per-nibble step-index adaptation,
  // 4-byte block headers re-seeding (predictor, step index) so any
  // block decodes independently, and a `fact` chunk carrying the true
  // sample count. The reconstruction is pure small-integer shift/add
  // arithmetic the public IMA spec defines exactly, so the decoded PCM
  // is bit-identical across engines: 4:1 lossy on the wire, fully
  // deterministic on decode.

  private val AdpcmStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private val AdpcmIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA quantized-difference reconstruction step: returns the new
    * (predictor, stepIndex) after applying nibble `n` — shared verbatim
    * by the encoder (which must track the decoder's state, not its own
    * ideal) and the decoder.
    */
  private def adpcmStep(pred: Int, idx: Int, n: Int): (Int, Int) = {
    val step = AdpcmStepTable(idx)
    var dq = step >> 3
    if ((n & 4) != 0) dq += step
    if ((n & 2) != 0) dq += step >> 1
    if ((n & 1) != 0) dq += step >> 2
    var p = if ((n & 8) != 0) pred - dq else pred + dq
    if (p > 32767) p = 32767 else if (p < -32768) p = -32768
    var i = idx + AdpcmIndexTable(n & 7)
    if (i < 0) i = 0 else if (i > 88) i = 88
    (p, i)
  }

  /** Encode mono PCM16 as IMA ADPCM in a RIFF/WAVE container (format
    * tag 0x0011): `blockAlign`-byte blocks, each opening with a 4-byte
    * header — seed predictor (int16 LE, the block's FIRST sample), the
    * running step index, a reserved zero — followed by one 4-bit
    * nibble per remaining sample, low nibble first, so a block carries
    * (blockAlign−4)·2 + 1 samples. A final partial block pads with
    * zero-difference nibbles; the `fact` chunk's sample count trims
    * them on decode.
    */
  def encodeWavAdpcm(sampleRate: Int, samples: Array[Short],
      blockAlign: Int = 256): Array[Byte] = {
    require(sampleRate > 0, "bad sample rate")
    require(blockAlign >= 8 && blockAlign % 4 == 0,
      s"bad block align $blockAlign")
    val spb = (blockAlign - 4) * 2 + 1
    val nBlocks = (samples.length + spb - 1) / spb // 0 for empty input
    val dataLen = nBlocks * blockAlign
    val bb = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(52 + dataLen) // file size - 8
      .put("WAVE".getBytes(ascii))
    bb.put("fmt ".getBytes(ascii)).putInt(20)
      .putShort(0x11.toShort)            // IMA ADPCM
      .putShort(1.toShort)               // mono
      .putInt(sampleRate)
      .putInt(((sampleRate.toLong * blockAlign + spb - 1) / spb).toInt)
      .putShort(blockAlign.toShort)
      .putShort(4.toShort)               // bits per (coded) sample
      .putShort(2.toShort)               // cbSize
      .putShort(spb.toShort)             // samples per block
    bb.put("fact".getBytes(ascii)).putInt(4).putInt(samples.length)
    bb.put("data".getBytes(ascii)).putInt(dataLen)
    var idx = 0
    var s = 0
    while (s < samples.length) {
      var pred = samples(s).toInt
      bb.putShort(pred.toShort).put(idx.toByte).put(0.toByte)
      var j = 1
      var lowNibble = -1
      while (j < spb) {
        val target = if (s + j < samples.length) samples(s + j).toInt
          else pred // pad: encode zero difference
        val step = AdpcmStepTable(idx)
        var diff = target - pred
        val sign = if (diff < 0) 8 else 0
        if (sign != 0) diff = -diff
        var code = 0
        if (diff >= step) { code |= 4; diff -= step }
        if (diff >= (step >> 1)) { code |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) code |= 1
        val nib = sign | code
        val st = adpcmStep(pred, idx, nib) // track the DECODER's state
        pred = st._1; idx = st._2
        if (lowNibble < 0) lowNibble = nib
        else { bb.put((lowNibble | (nib << 4)).toByte); lowNibble = -1 }
        j += 1
      }
      if (lowNibble >= 0) bb.put(lowNibble.toByte) // spb is odd+1: even nibble count, unreachable
      s += spb
    }
    bb.array()
  }

  /** Decode an IMA ADPCM RIFF/WAVE payload (format tag 0x0011): chunk
    * walk (fmt validated — mono, 4-bit, samples-per-block consistent
    * with the block align; `fact` required for the true count), then
    * per block: re-seed (predictor, step index) from the header, emit
    * the seed sample, apply each nibble through the shared
    * reconstruction. Returns 16-bit PCM ([[WavAudio]], bits = 16 — the
    * DECODED precision) so every audio consumer stays
    * container-agnostic. Malformed payloads fail loudly.
    */
  def decodeWavAdpcm(bytes: Array[Byte]): WavAudio = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b)
      new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    }
    require(bytes.length >= 12, "truncated RIFF header")
    require(fourcc() == "RIFF", "not a RIFF payload")
    bb.getInt
    require(fourcc() == "WAVE", "RIFF form is not WAVE")
    var fmt: Option[(Int, Int, Int, Int, Int)] = None
    var fact = -1
    var data: Option[Array[Byte]] = None
    // walk EVERY chunk to the end of the payload — bytes after the last
    // chunk (or a dangling partial header) are trailing garbage and the
    // container contract is to fail loudly, like decodeFlc/decodeJpegStream
    while (bb.remaining() >= 8) {
      val id = fourcc()
      val size = bb.getInt
      require(size >= 0 && size <= bb.remaining(),
        s"chunk '$id' declares $size bytes, ${bb.remaining()} remain")
      val body = new Array[Byte](size); bb.get(body)
      if (size % 2 == 1 && bb.remaining() > 0) bb.get()
      id match {
        case "fmt " =>
          require(size >= 20, s"ADPCM fmt chunk too small ($size)")
          val fb = java.nio.ByteBuffer.wrap(body)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val tag = fb.getShort & 0xFFFF
          val ch = fb.getShort & 0xFFFF
          val rate = fb.getInt
          fb.getInt // byte rate: informational
          val ba = fb.getShort & 0xFFFF
          val bits = fb.getShort & 0xFFFF
          fb.getShort // cbSize
          val spb = fb.getShort & 0xFFFF
          fmt = Some((tag, ch, rate, ba, { require(bits == 4,
            s"$bits bits/sample unsupported (IMA ADPCM is 4)"); spb }))
        case "fact" =>
          require(size >= 4, "fact chunk too small")
          fact = java.nio.ByteBuffer.wrap(body)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        case "data" => data = Some(body)
        case _ => // unknown chunk: skipped by size
      }
    }
    require(bb.remaining() == 0,
      s"${bb.remaining()} trailing bytes after the last RIFF chunk")
    val (tag, channels, rate, blockAlign, spb) = fmt.getOrElse(
      throw new IllegalArgumentException("no fmt chunk"))
    require(tag == 0x11, s"format tag $tag unsupported (IMA ADPCM only)")
    require(channels == 1, s"$channels channels unsupported (mono only)")
    require(spb == (blockAlign - 4) * 2 + 1,
      s"samples-per-block $spb inconsistent with block align $blockAlign")
    val d = data.getOrElse(throw new IllegalArgumentException("no data chunk"))
    require(fact >= 0, "no fact chunk (required for ADPCM sample count)")
    require(d.length % blockAlign == 0,
      s"data length ${d.length} is not a whole number of $blockAlign-byte blocks")
    val nBlocks = d.length / blockAlign
    require(fact <= nBlocks * spb,
      s"fact count $fact exceeds ${nBlocks * spb} decodable samples")
    require(nBlocks == 0 || fact > (nBlocks - 1) * spb,
      s"fact count $fact leaves the final block empty")
    val out = new Array[Short](fact)
    var outPos = 0
    val db = java.nio.ByteBuffer.wrap(d)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var b = 0
    while (b < nBlocks) {
      var pred: Int = db.getShort.toInt
      var idx: Int = db.get() & 0xFF
      require(idx <= 88, s"step index $idx out of range")
      db.get() // reserved
      if (outPos < fact) { out(outPos) = pred.toShort; outPos += 1 }
      var k = 0
      val nNibbleBytes = blockAlign - 4
      while (k < nNibbleBytes) {
        val byte = db.get() & 0xFF
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) byte & 0x0F else byte >>> 4
          val st = adpcmStep(pred, idx, nib)
          pred = st._1; idx = st._2
          if (outPos < fact) { out(outPos) = pred.toShort; outPos += 1 }
          half += 1
        }
        k += 1
      }
      b += 1
    }
    require(outPos == fact, s"decoded $outPos of $fact declared samples")
    WavAudio(1, rate, 16, out)
  }

  // --------------------------------------------------------------- FLAC
  //
  // From-scratch LOSSLESS compressed audio: a FLAC (free lossless audio
  // codec) subset — real Rice/unary entropy coding, fixed linear
  // predictors, CRC-8-protected frame headers, CRC-16-protected frames,
  // UTF-8-coded frame numbers, and a STREAMINFO MD5 of the decoded PCM
  // that the decoder VERIFIES. Mono 16-bit streams with fixed blocking;
  // constant / verbatim / fixed-predictor subframes (orders 0-4) and
  // any Rice partition order decode; LPC subframes and stereo
  // decorrelation are out of subset and fail loudly by type. Because
  // the codec is lossless, the decoded truth equals the source samples
  // exactly — the property the oracle queries rely on.

  private def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0; var i = from
    while (i < until) {
      c ^= bytes(i) & 0xFF
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xFF
            else (c << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    c
  }

  private def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0; var i = from
    while (i < until) {
      c ^= (bytes(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xFFFF
            else (c << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    c
  }

  /** Unary-encoded Rice quotient: q zero bits then a one. */
  private def putUnary(w: Bits.MsbWriter, q: Int): Unit = {
    var left = q
    while (left >= 32) { w.bits(0, 32); left -= 32 }
    w.bits(1, left + 1)
  }

  /** The UTF-8-style variable-length integer FLAC uses for frame
    * numbers (1-7 bytes, up to 36 payload bits).
    */
  private def putUtf8(w: Bits.MsbWriter, v: Long): Unit = {
    require(v >= 0 && v < (1L << 36), s"frame number $v out of range")
    if (v < 0x80) w.bits(v.toInt, 8)
    else {
      // k total bytes carry 6*(k-1) + (7-k) payload bits for k in 2..6,
      // and exactly 36 for k = 7
      var k = 2
      while (k < 7 && v >= (1L << (6 * (k - 1) + (7 - k)))) k += 1
      val lead = (0xFF << (8 - k)) & 0xFF // k ones then a zero
      val leadBits = if (k == 7) 0
        else (v >>> (6 * (k - 1))).toInt & ((1 << (7 - k)) - 1)
      w.bits(lead | leadBits, 8)
      var i = k - 2
      while (i >= 0) {
        w.bits(0x80 | ((v >>> (6 * i)).toInt & 0x3F), 8)
        i -= 1
      }
    }
  }

  /** Encode 16-bit mono PCM as a FLAC-subset stream: fLaC magic, a
    * STREAMINFO block (with the spec's MD5 of the little-endian PCM),
    * then fixed-blocksize frames of up to 4096 samples. Each frame
    * picks its subframe type the way a real encoder does: CONSTANT
    * when all samples agree, VERBATIM for tiny blocks, else a FIXED
    * order-2 predictor with single-partition Rice residuals (the
    * parameter chosen from the residual magnitudes).
    */
  def encodeFlac(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), "bad sample rate")
    val w = new Bits.MsbWriter("flac", samples.length + 64)
    "fLaC".foreach(c => w.bits(c, 8))
    // STREAMINFO: last-block flag + type 0, 24-bit length 34
    w.bits(0x80, 8); w.bits(34, 24)
    w.bits(4096, 16); w.bits(4096, 16) // min/max block size
    w.bits(0, 24); w.bits(0, 24)       // min/max frame size unknown
    w.bits(sampleRate, 20)
    w.bits(0, 3)                      // channels - 1
    w.bits(15, 5)                     // bits/sample - 1
    w.bits(0, 4); w.bits(samples.length, 32) // 36-bit total samples
    val md = java.security.MessageDigest.getInstance("MD5")
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    md.update(pcm.array())
    md.digest().foreach(b => w.bits(b & 0xFF, 8))
    var off = 0; var frameNo = 0L
    while (off < samples.length) {
      val bs = math.min(4096, samples.length - off)
      val frameStart = w.out.len
      w.bits(0x3FFE, 14) // sync
      w.bits(0, 1)       // reserved
      w.bits(0, 1)       // fixed blocking strategy
      w.bits(0x7, 4)     // block size: 16-bit value - 1 follows
      w.bits(0x0, 4)     // sample rate: from STREAMINFO
      w.bits(0x0, 4)     // channel assignment: mono
      w.bits(0x4, 3)     // sample size: 16 bits
      w.bits(0, 1)       // reserved
      putUtf8(w, frameNo)
      w.bits(bs - 1, 16)
      w.bits(crc8(w.out.buf, frameStart, w.out.len), 8)
      // subframe header: pad bit + 6-bit type + wasted-bits flag
      val allEqual = (0 until bs).forall(i => samples(off + i) == samples(off))
      if (allEqual) {
        w.bits(0, 1); w.bits(0x00, 6); w.bits(0, 1)
        w.bits(samples(off) & 0xFFFF, 16)
      } else if (bs < 3) {
        w.bits(0, 1); w.bits(0x01, 6); w.bits(0, 1)
        for (i <- 0 until bs) w.bits(samples(off + i) & 0xFFFF, 16)
      } else {
        val order = 2
        w.bits(0, 1); w.bits(0x08 | order, 6); w.bits(0, 1)
        for (i <- 0 until order) w.bits(samples(off + i) & 0xFFFF, 16)
        val res = new Array[Int](bs - order)
        var i = order
        while (i < bs) {
          res(i - order) = samples(off + i) -
            2 * samples(off + i - 1) + samples(off + i - 2)
          i += 1
        }
        // residual: method 00 (4-bit Rice), partition order 0
        w.bits(0, 2); w.bits(0, 4)
        var zzSum = 0L
        res.foreach(r => zzSum += ((r << 1) ^ (r >> 31)).toLong)
        var k = 0
        while (k < 14 && (res.length.toLong << (k + 1)) < zzSum) k += 1
        w.bits(k, 4)
        res.foreach { r =>
          val u = (r << 1) ^ (r >> 31)
          putUnary(w, u >>> k); w.bits(u & ((1 << k) - 1), k)
        }
      }
      w.alignByte(0)
      w.bits(crc16(w.out.buf, frameStart, w.out.len), 16)
      off += bs; frameNo += 1
    }
    w.result
  }

  /** A `k`-bit two's-complement field. */
  private def signedBits(r: Bits.MsbReader, k: Int): Int =
    (r.bits(k) << (32 - k)) >> (32 - k)

  /** Unary-coded Rice quotient: the zero bits before a one. */
  private def unary(r: Bits.MsbReader): Int = {
    var q = 0
    while (r.bit() == 0) q += 1
    q
  }

  private def readUtf8(r: Bits.MsbReader): Long = {
    val b0 = r.bits(8)
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var k = 0; var mask = 0x80
      while (k < 8 && (b0 & mask) != 0) { k += 1; mask >>>= 1 }
      require(k >= 2 && k <= 7, s"bad UTF-8 lead byte $b0")
      var v = (b0 & (mask - 1)).toLong
      var i = 1
      while (i < k) {
        val c = r.bits(8)
        require((c & 0xC0) == 0x80, "bad UTF-8 continuation byte")
        v = (v << 6) | (c & 0x3F)
        i += 1
      }
      v
    }
  }

  /** Decode a FLAC-subset payload: magic + metadata-block walk (unknown
    * blocks skipped by their declared length, STREAMINFO parsed), then
    * frames — sync code, header fields, CRC-8 over the header bytes,
    * subframes (constant / verbatim / fixed 0-4 with any Rice
    * partition order, escape codes included), byte alignment, CRC-16
    * over the whole frame. The total sample count AND the STREAMINFO
    * MD5 of the decoded PCM are verified, so a predictor slip or a
    * Rice mis-read fails loudly even when every CRC happens to pass.
    */
  def decodeFlac(bytes: Array[Byte]): WavAudio = {
    require(bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C', "not a FLAC payload (no magic)")
    val r = new Bits.MsbReader("flac", bytes, 4, bytes.length)
    var last = false
    var rate = -1; var channels = -1; var bps = -1
    var totalSamples = -1L; var md5 = Array.empty[Byte]
    while (!last) {
      val h = r.bits(8); last = (h & 0x80) != 0
      val btype = h & 0x7F
      val len = r.bits(24)
      if (btype == 0) {
        require(len == 34, s"bad STREAMINFO length $len")
        r.bits(16); r.bits(16); r.bits(24); r.bits(24)
        rate = r.bits(20)
        channels = r.bits(3) + 1
        bps = r.bits(5) + 1
        totalSamples = (r.bits(4).toLong << 32) | (r.bits(32) & 0xFFFFFFFFL)
        md5 = Array.tabulate(16)(_ => r.bits(8).toByte)
      } else {
        var i = 0
        while (i < len) { r.bits(8); i += 1 } // skip by declared length
      }
    }
    require(rate > 0, "no STREAMINFO block")
    require(channels == 1, s"$channels channels unsupported (mono subset)")
    require(bps == 16, s"$bps bits/sample unsupported (16-bit subset)")
    val outSamples = Array.newBuilder[Short]
    var decoded = 0L
    while (!r.atEnd) {
      val frameStart = r.position
      require(r.bits(14) == 0x3FFE, "bad frame sync code")
      r.bit() // reserved
      r.bit() // blocking strategy
      val bsCode = r.bits(4)
      val srCode = r.bits(4)
      val chan = r.bits(4)
      val ssCode = r.bits(3)
      r.bit() // reserved
      require(chan == 0, "stereo decorrelation unsupported (mono subset)")
      require(ssCode == 4, "non-16-bit frame sample size unsupported")
      readUtf8(r) // frame number
      val bs = bsCode match {
        case 0x1 => 192
        case c if c >= 0x2 && c <= 0x5 => 576 << (c - 2)
        case 0x6 => r.bits(8) + 1
        case 0x7 => r.bits(16) + 1
        case c if c >= 0x8 => 256 << (c - 8)
        case c => throw new IllegalArgumentException(s"bad block size code $c")
      }
      require(srCode == 0, "frame-local sample rate unsupported")
      val hdrEnd = r.position
      val wantCrc8 = r.bits(8)
      require(crc8(bytes, frameStart, hdrEnd) == wantCrc8,
        "frame header CRC-8 mismatch")
      // one subframe (mono)
      require(r.bit() == 0, "subframe padding bit set")
      val sfType = r.bits(6)
      val wasted = r.bit()
      require(wasted == 0, "wasted-bits unsupported in subset")
      val block = new Array[Int](bs)
      if (sfType == 0x00) { // CONSTANT
        val v = signedBits(r, 16)
        java.util.Arrays.fill(block, v)
      } else if (sfType == 0x01) { // VERBATIM
        var i = 0
        while (i < bs) { block(i) = signedBits(r, 16); i += 1 }
      } else if (sfType >= 0x08 && sfType <= 0x0C) { // FIXED order 0-4
        val order = sfType - 0x08
        var i = 0
        while (i < order) { block(i) = signedBits(r, 16); i += 1 }
        val method = r.bits(2)
        require(method == 0 || method == 1,
          s"reserved residual coding method $method")
        val pBits = if (method == 0) 4 else 5
        val pOrder = r.bits(4)
        val nPart = 1 << pOrder
        require(bs % nPart == 0 && (bs >> pOrder) > order,
          s"bad partition order $pOrder for block $bs")
        var idx = order
        var p = 0
        while (p < nPart) {
          val cnt = (bs >> pOrder) - (if (p == 0) order else 0)
          val param = r.bits(pBits)
          val escape = param == (1 << pBits) - 1
          val rawBits = if (escape) r.bits(5) else 0
          var j = 0
          while (j < cnt) {
            block(idx) =
              if (escape) { if (rawBits == 0) 0 else signedBits(r, rawBits) }
              else {
                val u = (unary(r) << param) | r.bits(param)
                (u >>> 1) ^ -(u & 1)
              }
            idx += 1; j += 1
          }
          p += 1
        }
        // undo the fixed predictor
        var i2 = order
        while (i2 < bs) {
          val pr = order match {
            case 0 => 0
            case 1 => block(i2 - 1)
            case 2 => 2 * block(i2 - 1) - block(i2 - 2)
            case 3 => 3 * block(i2 - 1) - 3 * block(i2 - 2) + block(i2 - 3)
            case 4 => 4 * block(i2 - 1) - 6 * block(i2 - 2) +
              4 * block(i2 - 3) - block(i2 - 4)
          }
          block(i2) += pr
          i2 += 1
        }
      } else throw new IllegalArgumentException(
        f"subframe type $sfType%02x unsupported (LPC out of subset)")
      r.alignByte()
      val frameEnd = r.position
      val wantCrc16 = r.bits(16)
      require(crc16(bytes, frameStart, frameEnd) == wantCrc16,
        "frame CRC-16 mismatch")
      block.foreach { v =>
        require(v >= Short.MinValue && v <= Short.MaxValue,
          s"decoded sample $v outside 16-bit range")
        outSamples += v.toShort
      }
      decoded += bs
    }
    require(decoded == totalSamples,
      s"decoded $decoded samples, STREAMINFO declares $totalSamples")
    val samples = outSamples.result()
    val md = java.security.MessageDigest.getInstance("MD5")
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    md.update(pcm.array())
    require(java.util.Arrays.equals(md.digest(), md5),
      "decoded PCM does not match the STREAMINFO MD5")
    WavAudio(1, rate, 16, samples)
  }

  // --------------------------------------------------------------- JPEG
  //
  // From-scratch BASELINE JPEG (ITU-T T.81 sequential DCT, Huffman
  // entropy coding) — the first TRANSFORM codec in the tier: real
  // zigzag scan, run/size AC coding with ZRL and EOB, canonical Huffman
  // tables carried in DHT, byte-stuffed bit stream, level-shifted
  // 8x8 FDCT/IDCT with an 8-bit quantization table. Single-component
  // (grayscale) 1x1-sampled frames only; the decoder reads every table
  // it uses from the file (DQT/DHT/SOF0/SOS marker walk), so it decodes
  // any conforming single-component baseline stream, not just this
  // encoder's output.

  /** Zigzag index k → natural (row*8+col) position, derived by the
    * spec's diagonal walk (even diagonals ascend) rather than a
    * transcribed table.
    */
  private[multimodal] val Zigzag: Array[Int] = {
    val out = new Array[Int](64); var k = 0
    for (d <- 0 until 15) {
      val pts = for (r <- 0 to d if r < 8 && (d - r) < 8) yield (r, d - r)
      for ((r, c) <- if (d % 2 == 0) pts.reverse else pts) {
        out(k) = r * 8 + c; k += 1
      }
    }
    out
  }

  /** All-ones luminance quantization table (natural order): max-quality
    * quantization so a DC-only (block-constant) image round-trips
    * exactly — the property the oracle queries rely on.
    */
  private val JpegQuant: Array[Int] = Array.fill(64)(1)

  /** A Huffman table as it appears in a DHT segment: `bits(l-1)` codes
    * of length `l`, symbol values in canonical order.
    */
  final case class HuffSpec(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16 && bits.sum == vals.length,
      s"inconsistent Huffman spec: ${bits.sum} codes vs ${vals.length} values")
    /** symbol → (code, length), canonical assignment. */
    val encode: Map[Int, (Int, Int)] = {
      var code = 0; var vi = 0
      val m = scala.collection.mutable.Map.empty[Int, (Int, Int)]
      for (l <- 1 to 16) {
        var i = 0
        while (i < bits(l - 1)) {
          require(code < (1 << l), s"canonical overflow at length $l")
          m(vals(vi)) = (code, l); code += 1; vi += 1; i += 1
        }
        code <<= 1
      }
      m.toMap
    }
  }

  /** Standard-style luminance DC table (categories 0-11). */
  private val DcLuma = HuffSpec(
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    (0 to 11).toArray)

  /** Standard-style luminance AC table: every (run, size) symbol for
    * run 0-15 x size 1-10 plus EOB (0x00) and ZRL (0xF0), so any 8-bit
    * block's coefficients are codable.
    */
  private val AcLuma = HuffSpec(
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
      0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
      0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
      0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
      0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
      0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
      0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
      0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
      0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
      0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
      0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
      0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
      0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
      0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
      0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
      0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
      0xF9, 0xFA))

  private val CosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private def cNorm(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  /** In-place level-shifted spatial block → F(u,v) with the T.81
    * scaling (index = vFreq*8 + uFreq). Separable, double precision.
    */
  private def fdct(b: Array[Double]): Unit = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0; var x = 0
        while (x < 8) { s += b(y * 8 + x) * CosT(x)(u); x += 1 }
        tmp(y * 8 + u) = s; u += 1
      }
      y += 1
    }
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0; var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * CosT(yy)(v); yy += 1 }
        b(v * 8 + u) = 0.25 * cNorm(u) * cNorm(v) * s; v += 1
      }
      u += 1
    }
  }

  /** In-place F(u,v) → spatial (still level-shifted; caller adds 128). */
  private def idct(b: Array[Double]): Unit = {
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0; var v = 0
        while (v < 8) { s += cNorm(v) * b(v * 8 + u) * CosT(y)(v); v += 1 }
        tmp(y * 8 + u) = s; y += 1
      }
      u += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var uu = 0
        while (uu < 8) { s += cNorm(uu) * tmp(y * 8 + uu) * CosT(x)(uu); uu += 1 }
        b(y * 8 + x) = 0.25 * s; x += 1
      }
      y += 1
    }
  }

  /** Bit count of |v| — the T.81 magnitude category / size. */
  private def magCategory(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** The category-bits payload: v itself if positive, v-1's low bits
    * (ones complement of |v|) if negative.
    */
  private def magBits(v: Int, cat: Int): Int =
    if (v >= 0) v else v + (1 << cat) - 1

  /** T.81 byte stuffing: a 0x00 after every 0xFF of entropy-coded data. */
  private def stuffScan(scan: Array[Byte],
      out: java.io.ByteArrayOutputStream): Unit =
    scan.foreach { b => out.write(b); if (b == -1) out.write(0) }

  /** Undoes byte stuffing from `from` up to the first marker (an 0xFF
    * not followed by 0x00) or the end of `bytes`.
    */
  private def unstuffScan(bytes: Array[Byte], from: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length - from)
    var p = from
    var marker = false
    while (p < bytes.length && !marker) {
      val b = bytes(p)
      if (b != -1) { out.write(b); p += 1 }
      else if (p + 1 < bytes.length && bytes(p + 1) == 0) {
        out.write(b); p += 2
      } else marker = true
    }
    out.toByteArray
  }

  /** Encode an 8-bit grayscale plane as a single-component baseline
    * JPEG: JFIF APP0, all-ones DQT, SOF0, two DHTs, one Huffman scan.
    * Right/bottom partial blocks are edge-replicated, as decoders
    * conventionally reconstruct-and-crop.
    */
  def encodeJpeg(width: Int, height: Int, gray: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 65535 && height <= 65535,
      s"bad JPEG dimensions ${width}x$height")
    require(gray.length == width * height,
      s"plane is ${gray.length} bytes, expected ${width * height}")
    val out = new java.io.ByteArrayOutputStream(gray.length / 8 + 1024)
    def u16(v: Int): Unit = { out.write(v >>> 8); out.write(v & 0xFF) }
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    marker(0xD8) // SOI
    marker(0xE0); u16(16); out.write("JFIF".getBytes(ascii)); out.write(0)
    out.write(1); out.write(1) // version 1.1
    out.write(0); u16(1); u16(1) // aspect-ratio density 1:1
    out.write(0); out.write(0) // no thumbnail
    marker(0xDB); u16(2 + 1 + 64); out.write(0x00) // 8-bit table id 0
    for (k <- 0 until 64) out.write(JpegQuant(Zigzag(k)))
    marker(0xC0); u16(8 + 3); out.write(8); u16(height); u16(width)
    out.write(1) // one component
    out.write(1); out.write(0x11); out.write(0) // id 1, 1x1, qtable 0
    def dht(cls: Int, id: Int, t: HuffSpec): Unit = {
      marker(0xC4); u16(2 + 1 + 16 + t.vals.length)
      out.write((cls << 4) | id)
      t.bits.foreach(out.write); t.vals.foreach(out.write)
    }
    dht(0, 0, DcLuma); dht(1, 0, AcLuma)
    marker(0xDA); u16(6 + 2); out.write(1) // one scan component
    out.write(1); out.write(0x00) // component 1: DC table 0, AC table 0
    out.write(0); out.write(63); out.write(0) // full spectral, no approx
    val bw = new Bits.MsbWriter("jpeg", gray.length / 8 + 64)
    def putHuff(t: HuffSpec, sym: Int): Unit = {
      val (code, len) = t.encode(sym); bw.bits(code, len)
    }
    val bx = (width + 7) / 8; val by = (height + 7) / 8
    val block = new Array[Double](64); val coef = new Array[Int](64)
    var pred = 0
    var byi = 0
    while (byi < by) {
      var bxi = 0
      while (bxi < bx) {
        var y = 0
        while (y < 8) {
          val sy = math.min(byi * 8 + y, height - 1)
          var x = 0
          while (x < 8) {
            val sx = math.min(bxi * 8 + x, width - 1)
            block(y * 8 + x) = (gray(sy * width + sx) & 0xFF) - 128.0
            x += 1
          }
          y += 1
        }
        fdct(block)
        var k = 0
        while (k < 64) {
          val nat = Zigzag(k)
          coef(k) = Math.round(block(nat) / JpegQuant(nat)).toInt; k += 1
        }
        val diff = coef(0) - pred; pred = coef(0)
        val cat = magCategory(diff)
        putHuff(DcLuma, cat)
        if (cat > 0) bw.bits(magBits(diff, cat), cat)
        var last = 63
        while (last >= 1 && coef(last) == 0) last -= 1
        var run = 0; var kk = 1
        while (kk <= last) {
          if (coef(kk) == 0) run += 1
          else {
            while (run >= 16) { putHuff(AcLuma, 0xF0); run -= 16 }
            val s = magCategory(coef(kk))
            putHuff(AcLuma, (run << 4) | s)
            bw.bits(magBits(coef(kk), s), s)
            run = 0
          }
          kk += 1
        }
        if (last < 63) putHuff(AcLuma, 0x00) // EOB
        bxi += 1
      }
      byi += 1
    }
    bw.alignByte(1)
    stuffScan(bw.result, out)
    marker(0xD9) // EOI
    out.toByteArray
  }

  /** Sign-extend a `t`-bit magnitude payload (T.81 EXTEND). */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Decode a single-component baseline JPEG by walking the marker
    * stream — every quantization and Huffman table is read from the
    * file's own DQT/DHT segments — then Huffman-decoding each 8x8
    * block (DC prediction + run/size AC with ZRL/EOB), dequantizing,
    * applying the IDCT, and cropping the block grid to the SOF0
    * dimensions. The grayscale result is returned triplicated into the
    * tier's shared RGB [[PpmImage]] container. Progressive frames,
    * multi-component scans, restart intervals, and 12-bit precision
    * fail loudly by marker.
    */
  /** Split a CONCATENATED-JPEG (MJPEG) stream into frames by real
    * marker walking — never by assumed frame sizes: each frame starts
    * at an SOI, its header segments are skipped by their declared
    * lengths (so a stray FFD9 inside a COM/APPn body cannot end a
    * frame early), and after SOS the entropy-coded data is scanned for
    * the first unstuffed marker (0xFF followed by neither 0x00 byte
    * stuffing nor an RST), which baseline JPEG guarantees is the EOI.
    * Each frame slice then decodes through [[decodeJpeg]]'s full
    * transform path. Malformed streams — a frame boundary that is not
    * an SOI, a non-EOI marker inside a scan, a truncated tail — fail
    * loudly.
    */
  def decodeJpegStream(bytes: Array[Byte]): IndexedSeq[PpmImage] = {
    val frames = IndexedSeq.newBuilder[PpmImage]
    var pos = 0
    while (pos < bytes.length) {
      require(pos + 2 <= bytes.length && (bytes(pos) & 0xFF) == 0xFF &&
        (bytes(pos + 1) & 0xFF) == 0xD8,
        s"expected SOI at frame boundary (byte $pos)")
      var p = pos + 2
      def u8(): Int = {
        require(p < bytes.length, "truncated JPEG frame")
        val v = bytes(p) & 0xFF; p += 1; v
      }
      def u16(): Int = { val hi = u8(); (hi << 8) | u8() }
      // header segments by declared length, until SOS
      var inScan = false
      while (!inScan) {
        require(u8() == 0xFF, "expected marker")
        var m = u8()
        while (m == 0xFF) m = u8() // optional fill bytes
        m match {
          case 0xDA =>
            val len = u16(); p += len - 2; inScan = true
          case 0xD9 =>
            throw new IllegalArgumentException("EOI before any scan")
          case 0x01 => () // TEM: standalone, no length
          case rst if rst >= 0xD0 && rst <= 0xD7 => ()
          case _ =>
            val len = u16(); p += len - 2
        }
      }
      // entropy-coded data: the first unstuffed non-RST marker ends it
      var end = -1
      while (end < 0) {
        require(p + 1 < bytes.length, "truncated entropy stream (no EOI)")
        if ((bytes(p) & 0xFF) == 0xFF) {
          val nxt = bytes(p + 1) & 0xFF
          if (nxt == 0x00 || (nxt >= 0xD0 && nxt <= 0xD7)) p += 2
          else if (nxt == 0xD9) end = p + 2
          else throw new IllegalArgumentException(
            f"unexpected marker FF$nxt%02X inside entropy stream")
        } else p += 1
      }
      frames += decodeJpeg(java.util.Arrays.copyOfRange(bytes, pos, end))
      pos = end
    }
    frames.result()
  }

  def decodeJpeg(bytes: Array[Byte]): PpmImage = {
    require(bytes.length >= 4 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8, "not a JPEG payload (no SOI)")
    var pos = 2
    def u8(): Int = {
      require(pos < bytes.length, "truncated JPEG header")
      val v = bytes(pos) & 0xFF; pos += 1; v
    }
    def u16(): Int = {
      require(pos + 2 <= bytes.length, "truncated JPEG header")
      val v = ((bytes(pos) & 0xFF) << 8) | (bytes(pos + 1) & 0xFF)
      pos += 2; v
    }
    val quants = scala.collection.mutable.Map.empty[Int, Array[Int]]
    val huffs = scala.collection.mutable.Map.empty[(Int, Int), PrefixCode]
    var width = -1; var height = -1; var compQuant = -1
    var dcSel = -1; var acSel = -1
    var sosSeen = false
    while (!sosSeen) {
      require(pos + 2 <= bytes.length, "truncated before SOS")
      require(u8() == 0xFF, "expected marker")
      var m = u8()
      while (m == 0xFF) m = u8() // optional fill bytes
      m match {
        case 0xDB => // DQT: one or more tables
          val len = u16(); val end = pos + len - 2
          while (pos < end) {
            val pq = u8(); val prec = pq >>> 4; val id = pq & 0x0F
            require(prec == 0 || prec == 1, s"bad DQT precision $prec")
            val t = new Array[Int](64)
            for (k <- 0 until 64)
              t(Zigzag(k)) = if (prec == 0) u8() else u16()
            quants(id) = t
          }
        case 0xC4 => // DHT: one or more tables
          val len = u16(); val end = pos + len - 2
          while (pos < end) {
            val tc = u8(); val cls = tc >>> 4; val id = tc & 0x0F
            val bl = Array.tabulate(16)(_ => u8())
            val vl = Array.tabulate(bl.sum)(_ => u8())
            huffs((cls, id)) = new PrefixCode("jpeg", 0 +: bl, vl)
          }
        case 0xC0 => // SOF0 baseline
          u16()
          require(u8() == 8, "only 8-bit precision supported")
          height = u16(); width = u16()
          val nc = u8()
          require(nc == 1,
            s"$nc components unsupported (single-component grayscale only)")
          u8() // component id
          require(u8() == 0x11, "only 1x1 sampling supported")
          compQuant = u8()
        case 0xDA => // SOS
          u16()
          require(u8() == 1, "single-component scan expected")
          u8() // component selector
          val t = u8(); dcSel = t >>> 4; acSel = t & 0x0F
          u8(); u8(); u8() // Ss/Se/Ah-Al, fixed for baseline
          sosSeen = true
        case 0xC1 | 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA |
             0xCB | 0xCD | 0xCE | 0xCF =>
          throw new IllegalArgumentException(
            f"SOF marker FF$m%02X: non-baseline frame unsupported")
        case 0xDD =>
          throw new IllegalArgumentException("restart intervals unsupported")
        case 0xD9 =>
          throw new IllegalArgumentException("EOI before any scan")
        case _ => // APPn / COM / anything else with a length: skip
          val len = u16(); pos += len - 2
      }
    }
    require(width > 0 && height > 0, "SOS before SOF0")
    val quant = quants.getOrElse(compQuant,
      throw new IllegalArgumentException(s"missing DQT id $compQuant"))
    val dcTab = huffs.getOrElse((0, dcSel),
      throw new IllegalArgumentException(s"missing DC DHT id $dcSel"))
    val acTab = huffs.getOrElse((1, acSel),
      throw new IllegalArgumentException(s"missing AC DHT id $acSel"))
    val br = new Bits.MsbReader("jpeg", unstuffScan(bytes, pos))
    val bx = (width + 7) / 8; val by = (height + 7) / 8
    val gray = new Array[Byte](width * height)
    val block = new Array[Double](64)
    var pred = 0
    var byi = 0
    while (byi < by) {
      var bxi = 0
      while (bxi < bx) {
        java.util.Arrays.fill(block, 0.0)
        val cat = dcTab.decode(br)
        require(cat <= 11, s"DC category $cat out of range")
        pred += extend(br.bits(cat), cat)
        block(0) = pred.toDouble * quant(0)
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val rs = acTab.decode(br)
          if (rs == 0x00) eob = true
          else if (rs == 0xF0) k += 16
          else {
            k += rs >>> 4
            require(k < 64, "AC run past end of block")
            val s = rs & 0x0F
            val nat = Zigzag(k)
            block(nat) = extend(br.bits(s), s).toDouble * quant(nat)
            k += 1
          }
        }
        idct(block)
        var y = 0
        while (y < 8) {
          val py = byi * 8 + y
          if (py < height) {
            var x = 0
            while (x < 8) {
              val px = bxi * 8 + x
              if (px < width) {
                val v = Math.round(block(y * 8 + x) + 128.0).toInt
                gray(py * width + px) =
                  math.max(0, math.min(255, v)).toByte
              }
              x += 1
            }
          }
          y += 1
        }
        bxi += 1
      }
      byi += 1
    }
    val pixels = new Array[Byte](width * height * 3)
    var i = 0
    while (i < gray.length) {
      pixels(i * 3) = gray(i); pixels(i * 3 + 1) = gray(i)
      pixels(i * 3 + 2) = gray(i)
      i += 1
    }
    PpmImage(width, height, 255, pixels)
  }

  // -----------------------------------------------------------------------
  // MP3 (MPEG-1 Audio Layer III) — the CONTAINER layer: frame-sync
  // walking, exactly what decodeJpegStream's marker walk is for video.
  // The frame STRUCTURE is fully deterministic public arithmetic
  // (ISO/IEC 11172-3): an 11-bit sync word, version/layer bits, a
  // 4-bit bitrate index and 2-bit sample-rate index into published
  // tables, a padding bit, and frame length = 144·bitrate/samplerate
  // + padding bytes. Only the PAYLOAD decode (Huffman spectral data →
  // synthesis filterbank) is perceptual/float — that side stays the
  // engine's one declared stub (Multimodal.decodeStub). ID3v2 prefix
  // tags are skipped by their declared syncsafe size, as real rippers
  // do.
  // -----------------------------------------------------------------------

  /** MPEG-1 Layer III bitrate table (kbps) — index 1..14 valid; 0 is
    * "free format" and 15 is forbidden (ISO/IEC 11172-3, Table B.2).
    */
  val Mp3Bitrates: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample-rate table (Hz) — index 0..2 valid; 3 reserved. */
  val Mp3SampleRates: Array[Int] = Array(44100, 48000, 32000)

  /** The Layer III frame length in bytes (header included): slots are
    * whole bytes at layer III, so len = ⌊144000·kbps / rate⌋ + padding.
    */
  def mp3FrameLength(bitrateKbps: Int, sampleRate: Int, padding: Int): Int =
    144000 * bitrateKbps / sampleRate + padding

  /** One walked frame: byte offset, decoded header fields, length. */
  case class Mp3Frame(offset: Int, bitrateKbps: Int, sampleRate: Int,
      padding: Int, length: Int)

  /** A walked MP3 stream: the ID3v2 prefix size consumed (0 when no
    * tag) and every frame in order.
    */
  case class Mp3Stream(id3Bytes: Int, frames: Vector[Mp3Frame])

  /** Build a structurally-genuine MPEG-1 Layer III stream: an optional
    * ID3v2.3 tag (10-byte header + `id3Size` declared-syncsafe payload
    * bytes), then one real frame header per (bitrateIndex,
    * sampleRateIndex, padding) triple with a deterministic filler
    * payload of the correct slot count. The payload bytes are NOT
    * audio (that is the declared perceptual stub) — every structural
    * field is real and [[decodeMp3Stream]] must walk it exactly.
    */
  def encodeMp3Stream(frames: Seq[(Int, Int, Int)],
      id3Size: Int = -1, id3Payload: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val size = if (id3Payload != null) id3Payload.length else id3Size
    if (size >= 0) {
      require(size < (1 << 28), s"ID3v2 size $size exceeds syncsafe")
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0) // v2.3.0
      out.write(0) // flags: no unsynchronisation, no footer
      out.write((size >> 21) & 0x7F); out.write((size >> 14) & 0x7F)
      out.write((size >> 7) & 0x7F); out.write(size & 0x7F)
      if (id3Payload != null) out.write(id3Payload)
      else {
        var i = 0
        while (i < size) { out.write((i * 31 + 7) & 0x7F); i += 1 }
      }
    }
    for ((bi, si, pad) <- frames) {
      require(bi >= 1 && bi <= 14, s"bitrate index $bi out of 1..14")
      require(si >= 0 && si <= 2, s"sample-rate index $si out of 0..2")
      require(pad == 0 || pad == 1, s"padding bit $pad")
      out.write(0xFF)
      out.write(0xFB) // sync 111 + version 11 (MPEG-1) + layer 01 (III)
                      // + protection 1 (no CRC)
      out.write((bi << 4) | (si << 2) | (pad << 1)) // private bit 0
      out.write(0xC4) // mono, no mode ext, no copyright, original, no emphasis
      val len = mp3FrameLength(Mp3Bitrates(bi), Mp3SampleRates(si), pad)
      var i = 4
      while (i < len) { out.write((i * 131 + bi) & 0xFF); i += 1 }
    }
    out.toByteArray
  }

  /** An ID3v2.3 tag PAYLOAD of text frames (ID3v2.3 informal standard,
    * §3.3/§4.2 — public spec): each frame is a 4-char uppercase id, a
    * 4-byte big-endian size (v2.3 frame sizes are NOT syncsafe — only
    * the tag header's is), two zero flag bytes, then for text ("T***")
    * frames an encoding byte and the text. Frames whose id satisfies
    * `utf16` carry encoding 0x01 (UTF-16 with a little-endian BOM —
    * half the real-world v2.3 tag population); the rest carry 0x00
    * (ISO-8859-1). Encoding contracts are LOUD, not lossy: an
    * ISO-8859-1 frame rejects any character above U+00FF (no silent
    * '?' substitution), and a UTF-16 frame rejects surrogates (BMP
    * only — keeps char count equal to code-unit count, the
    * cross-engine length contract). Zero padding after the last frame
    * is the spec's seek-room convention.
    */
  def encodeId3Frames(frames: Seq[(String, String)],
      padding: Int = 0, utf16: String => Boolean = _ => false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((id, text) <- frames) {
      require(id.length == 4 && id.forall(c =>
          (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')),
        s"bad frame id '$id'")
      val payload =
        if (utf16(id)) {
          require(!text.exists(Character.isSurrogate),
            s"frame $id text is not BMP-only; UTF-16 subset requires it")
          Array[Byte](0xFF.toByte, 0xFE.toByte) ++
            text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
        } else {
          require(text.forall(_ <= 0xFF),
            s"frame $id text is not ISO-8859-1-mappable; " +
              "use a UTF-16 frame instead of lossy substitution")
          text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        }
      out.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val sz = payload.length + 1 // + the encoding byte
      out.write((sz >>> 24) & 0xFF); out.write((sz >>> 16) & 0xFF)
      out.write((sz >>> 8) & 0xFF); out.write(sz & 0xFF)
      out.write(0); out.write(0) // flags
      out.write(if (utf16(id)) 1 else 0)
      out.write(payload)
    }
    var i = 0
    while (i < padding) { out.write(0); i += 1 }
    out.toByteArray
  }

  /** Parse the text frames of a leading ID3v2.3 tag — REAL tag-frame
    * walking (id, big-endian size, flags, encoding byte), not the
    * skip-by-declared-size shortcut [[decodeMp3Stream]] uses: this is
    * the metadata-extraction read a media pipeline runs over its
    * audio lake. Returns (frameId → text) pairs in wire order. Text
    * encodings 0x00 (ISO-8859-1) and 0x01 (UTF-16 with BOM, either
    * byte order) are decoded; 0x02/0x03 (v2.4-only UTF-16BE/UTF-8)
    * fail loudly, as do a frame overrunning the tag, non-zero flags, a
    * UTF-16 frame with a missing/invalid BOM, or an odd UTF-16 byte
    * count. A zero byte where a frame id should start is the padding
    * convention and ends the walk.
    */
  def decodeId3TextFrames(bytes: Array[Byte]): Vector[(String, String)] = {
    require(bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3', "no ID3v2 tag")
    require(bytes(3) == 3, s"ID3v2.${bytes(3)} unsupported (v2.3 only)")
    require(((bytes(6) | bytes(7) | bytes(8) | bytes(9)) & 0x80) == 0,
      "ID3v2 size bytes are not syncsafe")
    val size = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
      ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
    val end = 10 + size
    require(end <= bytes.length,
      s"ID3v2 declares $size payload bytes, stream has ${bytes.length}")
    val frames = Vector.newBuilder[(String, String)]
    var pos = 10
    while (pos < end && bytes(pos) != 0) { // 0x00 = padding starts
      require(pos + 10 <= end, s"truncated frame header at tag offset $pos")
      val id = new String(bytes, pos, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val sz = ((bytes(pos + 4) & 0xFF) << 24) |
        ((bytes(pos + 5) & 0xFF) << 16) |
        ((bytes(pos + 6) & 0xFF) << 8) | (bytes(pos + 7) & 0xFF)
      require(bytes(pos + 8) == 0 && bytes(pos + 9) == 0,
        s"frame $id carries flags this subset does not")
      require(sz >= 1 && pos + 10 + sz <= end,
        s"frame $id declares $sz bytes, ${end - pos - 10} remain in tag")
      if (id.startsWith("T")) {
        val enc = bytes(pos + 10) & 0xFF
        val text = enc match {
          case 0 =>
            new String(bytes, pos + 11, sz - 1,
              java.nio.charset.StandardCharsets.ISO_8859_1)
          case 1 =>
            require(sz >= 3, s"frame $id UTF-16 text lacks a BOM")
            val b0 = bytes(pos + 11) & 0xFF; val b1 = bytes(pos + 12) & 0xFF
            val cs =
              if (b0 == 0xFF && b1 == 0xFE)
                java.nio.charset.StandardCharsets.UTF_16LE
              else if (b0 == 0xFE && b1 == 0xFF)
                java.nio.charset.StandardCharsets.UTF_16BE
              else throw new IllegalArgumentException(
                f"frame $id UTF-16 BOM invalid ($b0%02x $b1%02x)")
            require((sz - 3) % 2 == 0,
              s"frame $id UTF-16 text has odd byte count ${sz - 3}")
            new String(bytes, pos + 13, sz - 3, cs)
          case other => throw new IllegalArgumentException(
            s"frame $id text encoding $other unsupported (0x00/0x01 only)")
        }
        frames += id -> text
      }
      pos += 10 + sz
    }
    frames.result()
  }

  /** Walk an MP3 stream structurally: skip a leading ID3v2 tag by its
    * declared syncsafe size, then frame by frame — verify the sync
    * word, require MPEG-1 Layer III with a valid bitrate/sample-rate
    * index, compute the frame length from the header tables, and
    * advance exactly that many bytes. Malformed streams fail loudly:
    * bad sync, reserved table indices, a frame running past the
    * payload, or trailing bytes after the last frame.
    */
  def decodeMp3Stream(bytes: Array[Byte]): Mp3Stream = {
    var pos = 0
    var id3 = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      require((bytes(5) & 0x10) == 0, "ID3v2 footer flag unsupported")
      require(((bytes(6) | bytes(7) | bytes(8) | bytes(9)) & 0x80) == 0,
        "ID3v2 size bytes are not syncsafe")
      val size = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      id3 = 10 + size
      require(id3 <= bytes.length,
        s"ID3v2 declares $size payload bytes, stream has ${bytes.length}")
      pos = id3
    }
    val frames = Vector.newBuilder[Mp3Frame]
    while (pos < bytes.length) {
      require(pos + 4 <= bytes.length,
        s"truncated frame header at offset $pos")
      val b0 = bytes(pos) & 0xFF; val b1 = bytes(pos + 1) & 0xFF
      val b2 = bytes(pos + 2) & 0xFF
      require(b0 == 0xFF && (b1 & 0xE0) == 0xE0,
        f"lost frame sync at offset $pos (bytes $b0%02x $b1%02x)")
      require((b1 & 0x18) == 0x18, s"not MPEG-1 at offset $pos")
      require((b1 & 0x06) == 0x02, s"not Layer III at offset $pos")
      val bi = (b2 >> 4) & 0xF
      val si = (b2 >> 2) & 0x3
      val pad = (b2 >> 1) & 0x1
      require(bi >= 1 && bi <= 14, s"bad bitrate index $bi at offset $pos")
      require(si <= 2, s"reserved sample-rate index at offset $pos")
      val len = mp3FrameLength(Mp3Bitrates(bi), Mp3SampleRates(si), pad)
      require(pos + len <= bytes.length,
        s"frame at offset $pos declares $len bytes, " +
          s"${bytes.length - pos} remain")
      frames += Mp3Frame(pos, Mp3Bitrates(bi), Mp3SampleRates(si), pad, len)
      pos += len
    }
    Mp3Stream(id3, frames.result())
  }

  // ---- Layer III SIDE INFORMATION (ISO/IEC 11172-3 §2.4.1.7) — the
  // fixed-size bit layer between the frame header and the main data:
  // main_data_begin (the bit-reservoir back-pointer), scfsi, and per
  // granule the part2_3_length / big_values / gain / table-select
  // fields a decoder needs BEFORE touching any Huffman data. For the
  // single-channel MPEG-1 frames the synthesis writes this is 17 bytes
  // (136 bits) exactly; only the spectral MAIN DATA beyond it stays
  // the declared perceptual stub.

  /** One granule's side info (single-channel MPEG-1, normal blocks or
    * window switching).
    */
  case class Mp3Granule(part23Length: Int, bigValues: Int, globalGain: Int,
      scalefacCompress: Int, windowSwitching: Int, blockType: Int,
      tableSelect: Vector[Int], region0: Int, region1: Int, preflag: Int,
      scalefacScale: Int, count1Table: Int)

  case class Mp3SideInfo(mainDataBegin: Int, scfsi: Int,
      granules: Vector[Mp3Granule])

  /** Encode the 17-byte single-channel side-info block. The encoder
    * writes what it is told (the quarantine tier plants an
    * out-of-range big_values through it); the DECODER owns the range
    * checks.
    */
  def encodeMp3SideInfo(si: Mp3SideInfo): Array[Byte] = {
    require(si.granules.length == 2, "side info carries 2 granules")
    val w = new Bits.MsbWriter("mp3", 17)
    w.bits(si.mainDataBegin, 9)
    w.bits(0, 5) // private_bits (mono)
    w.bits(si.scfsi, 4)
    si.granules.foreach { g =>
      w.bits(g.part23Length, 12)
      w.bits(g.bigValues, 9)
      w.bits(g.globalGain, 8)
      w.bits(g.scalefacCompress, 4)
      w.bits(g.windowSwitching, 1)
      if (g.windowSwitching == 1) {
        w.bits(g.blockType, 2)
        w.bits(0, 1) // mixed_block_flag
        g.tableSelect.take(2).foreach(t => w.bits(t, 5))
        w.bits(0, 9) // subblock_gain ×3
      } else {
        g.tableSelect.foreach(t => w.bits(t, 5))
        w.bits(g.region0, 4)
        w.bits(g.region1, 3)
      }
      w.bits(g.preflag, 1)
      w.bits(g.scalefacScale, 1)
      w.bits(g.count1Table, 1)
    }
    require(w.bitCount <= 17 * 8, s"side info of ${w.bitCount} bits")
    java.util.Arrays.copyOf(w.result, 17)
  }

  /** Parse one frame's side info at `off` (the byte after the 4-byte
    * unprotected header). Contract checks are LOUD: big_values above
    * the spec's 288 ceiling, a reserved block_type 0 under window
    * switching, or a table_select above 31 never pass silently.
    */
  def decodeMp3SideInfo(bytes: Array[Byte], off: Int): Mp3SideInfo = {
    require(off + 17 <= bytes.length,
      s"side info at $off over-runs the stream")
    val r = new Bits.MsbReader("mp3", bytes, off, bytes.length)
    val mdb = r.bits(9)
    r.bits(5) // private_bits
    val scfsi = r.bits(4)
    val gs = Vector.fill(2) {
      val p23 = r.bits(12)
      val bv = r.bits(9)
      require(bv <= 288, s"big_values $bv exceeds the spec ceiling 288")
      val gg = r.bits(8)
      val sfc = r.bits(4)
      val wsf = r.bits(1)
      if (wsf == 1) {
        val bt = r.bits(2)
        require(bt != 0,
          "block_type 0 is reserved under window switching")
        r.bits(1) // mixed_block_flag
        val ts = Vector.fill(2)(r.bits(5))
        r.bits(9) // subblock_gain
        Mp3Granule(p23, bv, gg, sfc, 1, bt, ts, 0, 0,
          r.bits(1), r.bits(1), r.bits(1))
      } else {
        val ts = Vector.fill(3)(r.bits(5))
        val r0 = r.bits(4)
        val r1 = r.bits(3)
        Mp3Granule(p23, bv, gg, sfc, 0, 0, ts, r0, r1,
          r.bits(1), r.bits(1), r.bits(1))
      }
    }
    Mp3SideInfo(mdb, scfsi, gs)
  }

  /** The side-info walk over a whole stream: the structural frame walk
    * first, then the 17-byte layer of every frame. One pass, map-only.
    */
  def mp3SideInfos(bytes: Array[Byte]): Vector[(Mp3Frame, Mp3SideInfo)] = {
    val s = decodeMp3Stream(bytes)
    s.frames.map(f => (f, decodeMp3SideInfo(bytes, f.offset + 4)))
  }

  /** Build a stream whose frames carry REAL side-info blocks (then
    * deterministic filler where the spectral main data would sit).
    */
  def encodeMp3StreamSi(frames: Seq[((Int, Int, Int), Mp3SideInfo)],
      id3Size: Int = -1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3Size >= 0) {
      val tag = encodeMp3Stream(Seq.empty, id3Size)
      out.write(tag, 0, tag.length)
    }
    for (((bi, si, pad), info) <- frames) {
      require(bi >= 1 && bi <= 14, s"bitrate index $bi out of 1..14")
      require(si >= 0 && si <= 2, s"sample-rate index $si out of 0..2")
      out.write(0xFF)
      out.write(0xFB)
      out.write((bi << 4) | (si << 2) | (pad << 1))
      out.write(0xC4)
      val sib = encodeMp3SideInfo(info)
      out.write(sib, 0, sib.length)
      val len = mp3FrameLength(Mp3Bitrates(bi), Mp3SampleRates(si), pad)
      var i = 4 + 17
      while (i < len) { out.write((i * 131 + bi) & 0xFF); i += 1 }
    }
    out.toByteArray
  }

  // ------------------------------------------------- H.264/AVC (Annex B)
  // The structural container layer of ITU-T H.264 / ISO/IEC 14496-10
  // (public spec): Annex-B byte-stream start codes, the one-byte NAL
  // header, emulation-prevention escaping, and the Exp-Golomb-coded
  // sequence parameter set. Slice PAYLOAD decode (CABAC/CAVLC entropy
  // coding, prediction, the loop filter) is the perceptual side that
  // stays stubbed — the q199 MP3 discipline applied to the last named
  // format: every boundary, header field, and SPS dimension below is
  // real wire format a second engine predicts exactly.

  /** ue(v) (spec §9.1): value k as ⌊log2(k+1)⌋ zero bits, a 1, then
    * k+1 sans its MSB — 2·⌊log2(k+1)⌋+1 bits total.
    */
  private def ue(w: Bits.MsbWriter, v: Int): Unit = {
    require(v >= 0, s"ue($v)")
    val k = v + 1
    val nb = 31 - Integer.numberOfLeadingZeros(k) // ⌊log2(k+1)⌋
    w.bits(0, nb)
    w.bits(k, nb + 1)
  }

  private def ue(r: Bits.MsbReader): Int = {
    var nb = 0
    while (r.bit() == 0) { nb += 1; require(nb <= 31, "ue(v) overlong") }
    ((1 << nb) | r.bits(nb)) - 1
  }

  /** se(v) (spec §9.1.1 table 9-3): signed Exp-Golomb — codeNum =
    * 2·|v|−1 for v > 0, 2·|v| for v ≤ 0 (positives get the shorter
    * odd codes).
    */
  private def se(w: Bits.MsbWriter, v: Int): Unit =
    ue(w, if (v > 0) 2 * v - 1 else -2 * v)

  private def se(r: Bits.MsbReader): Int = {
    val k = ue(r)
    if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
  }

  /** rbsp_trailing_bits: the stop bit, then zero-pad to a byte — the
    * byte holding the stop bit is therefore never 0x00, so a zero
    * byte immediately before a start code can only be the 4-byte
    * start code's own prefix (the walk relies on this).
    */
  private def rbspTrailing(w: Bits.MsbWriter): Array[Byte] = {
    w.bits(1, 1)
    w.result
  }

  /** Verify rbsp_trailing_bits: a stop bit, then zeros to the end. */
  private def expectTrailing(r: Bits.MsbReader): Unit = {
    require(r.bit() == 1, "RBSP stop bit missing")
    while (!r.atEnd) require(r.bit() == 0, "nonzero bit after RBSP stop bit")
  }

  /** Insert emulation_prevention_three_byte (spec §7.4.1.1): any
    * 0x00 0x00 followed by a byte ≤ 0x03 inside a NAL's RBSP gets a
    * 0x03 spliced in, so the escaped payload can never contain a start
    * code. The synthesized SPS values are small enough that this never
    * fires for them (CodecSpec pins the escape path with crafted
    * payloads), which is what lets the oracle predict NAL byte sizes
    * from the ue(v) bit arithmetic alone.
    */
  private[graft] def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 4)
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xFF
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** Remove emulation-prevention bytes: 00 00 03 → 00 00 (the 0x03 must
    * be followed by ≤ 0x03 or end-of-NAL, else the escape was fake).
    */
  private[graft] def unescapeRbsp(nal: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(nal.length)
    var zeros = 0
    var i = 0
    while (i < nal.length) {
      val b = nal(i) & 0xFF
      if (zeros >= 2 && b == 3) {
        require(i + 1 >= nal.length || (nal(i + 1) & 0xFF) <= 3,
          s"spurious emulation-prevention byte at NAL offset $i")
        zeros = 0
      } else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** The SPS fields this subset carries (Baseline/Main/Extended
    * profiles — no high-profile chroma/scaling branch; pic_order_cnt
    * type 2, frame_mbs_only, no cropping, no VUI — each restriction
    * checked loudly at parse).
    */
  final case class H264Sps(profileIdc: Int, levelIdc: Int,
      log2MaxFrameNum: Int, maxNumRefFrames: Int, widthMbs: Int,
      heightMbs: Int, direct8x8: Int)

  /** One walked NAL unit: the start-code byte offset, the start-code
    * length (3 or 4), the header fields, and the payload size in RBSP
    * bytes (post-unescape, excluding the header byte). For slice NALs
    * (types 1/5) the parsed slice-header fields ride along
    * (slice_type and frame_num; −1 for non-slice units): the slice
    * HEADER is real Exp-Golomb wire format — only the entropy-coded
    * macroblock data after it is the declared perceptual stub.
    */
  final case class H264Nal(offset: Int, startCodeLen: Int, refIdc: Int,
      nalType: Int, rbspBytes: Int, sliceType: Int = -1,
      frameNum: Int = -1, ppsId: Int = -1)

  /** A walked Annex-B stream: every NAL in order, the parsed SPS
    * (exactly one per stream in this subset), the parsed PPSs in wire
    * order (slice headers resolve against them by id), and any SEI
    * messages as (payloadType, payloadSize) pairs in wire order.
    */
  final case class H264Stream(nals: Vector[H264Nal], sps: H264Sps,
      sei: Vector[(Int, Int)] = Vector.empty,
      ppss: Vector[H264Pps] = Vector.empty)

  private def writeSpsRbsp(sps: H264Sps): Array[Byte] = {
    require(Seq(66, 77, 88).contains(sps.profileIdc),
      s"profile_idc ${sps.profileIdc} outside the Baseline/Main/Extended " +
        "subset (high profiles add the chroma/scaling SPS branch)")
    require(sps.levelIdc >= 10 && sps.levelIdc <= 62,
      s"level_idc ${sps.levelIdc}")
    require(sps.log2MaxFrameNum >= 4 && sps.log2MaxFrameNum <= 16,
      s"log2_max_frame_num ${sps.log2MaxFrameNum} outside [4, 16]")
    require(sps.widthMbs >= 1 && sps.heightMbs >= 1,
      s"dimensions ${sps.widthMbs}x${sps.heightMbs} MBs")
    val w = new Bits.MsbWriter("h264")
    w.bits(sps.profileIdc, 8)
    w.bits(0, 8) // constraint_set flags + reserved_zero_2bits
    w.bits(sps.levelIdc, 8)
    ue(w, 0) // seq_parameter_set_id
    ue(w, sps.log2MaxFrameNum - 4)
    ue(w, 2) // pic_order_cnt_type 2: no further POC fields
    ue(w, sps.maxNumRefFrames)
    w.bits(0, 1) // gaps_in_frame_num_value_allowed_flag
    ue(w, sps.widthMbs - 1)
    ue(w, sps.heightMbs - 1)
    w.bits(1, 1) // frame_mbs_only_flag
    w.bits(sps.direct8x8, 1)
    w.bits(0, 1) // frame_cropping_flag
    w.bits(0, 1) // vui_parameters_present_flag
    rbspTrailing(w)
  }

  /** The PPS fields this subset carries (spec §7.3.2.2, the
    * single-slice-group / unweighted branch — each restriction checked
    * loudly at parse). `entropyCodingMode` is the CAVLC(0)/CABAC(1)
    * switch: the field that makes the declared entropy stub boundary
    * explicit PER STREAM — every slice inherits the mode of the PPS its
    * header references, so the walk knows which decoder the skipped
    * macroblock data would need. `initQpMinus26` is the format's one
    * se(v)-coded field this subset exercises (signed Exp-Golomb).
    */
  final case class H264Pps(ppsId: Int, spsId: Int, entropyCodingMode: Int,
      numRefIdxL0: Int, numRefIdxL1: Int, initQpMinus26: Int)

  /** The default PPS the single-PPS encode path writes: both ids 0,
    * every optional mode off, all QP offsets 0 — 18 bits, 3 RBSP bytes.
    */
  private[graft] val DefaultPps = H264Pps(0, 0, 0, 0, 0, 0)

  private def writePpsRbsp(pps: H264Pps): Array[Byte] = {
    require(pps.ppsId >= 0 && pps.ppsId <= 255, s"pic_parameter_set_id ${pps.ppsId}")
    require(pps.spsId >= 0 && pps.spsId <= 31, s"seq_parameter_set_id ${pps.spsId}")
    require(pps.entropyCodingMode == 0 || pps.entropyCodingMode == 1,
      s"entropy_coding_mode ${pps.entropyCodingMode}")
    require(pps.numRefIdxL0 >= 0 && pps.numRefIdxL0 <= 31 &&
      pps.numRefIdxL1 >= 0 && pps.numRefIdxL1 <= 31,
      s"num_ref_idx defaults ${pps.numRefIdxL0}/${pps.numRefIdxL1}")
    require(pps.initQpMinus26 >= -26 && pps.initQpMinus26 <= 25,
      s"pic_init_qp_minus26 ${pps.initQpMinus26} outside [-26, 25] (spec §7.4.2.2)")
    val w = new Bits.MsbWriter("h264")
    ue(w, pps.ppsId); ue(w, pps.spsId)
    w.bits(pps.entropyCodingMode, 1)
    w.bits(0, 1) // bottom_field_pic_order_in_frame_present_flag
    ue(w, 0) // num_slice_groups_minus1
    ue(w, pps.numRefIdxL0); ue(w, pps.numRefIdxL1)
    w.bits(0, 1); w.bits(0, 2) // weighted_pred_flag, weighted_bipred_idc
    se(w, pps.initQpMinus26)
    se(w, 0); se(w, 0) // pic_init_qs_minus26, chroma_qp_index_offset
    w.bits(0, 1); w.bits(0, 1); w.bits(0, 1) // deblock_ctrl, constrained_intra, redundant
    rbspTrailing(w)
  }

  private[multimodal] def parsePpsRbsp(rbsp: Array[Byte]): H264Pps = {
    val r = new Bits.MsbReader("h264", rbsp)
    val ppsId = ue(r)
    val spsId = ue(r)
    val entropy = r.bit()
    require(r.bit() == 0, "bottom_field_pic_order flag unsupported")
    require(ue(r) == 0, "slice groups unsupported (FMO)")
    val nL0 = ue(r)
    val nL1 = ue(r)
    require(nL0 <= 31 && nL1 <= 31, s"num_ref_idx defaults $nL0/$nL1 > 31")
    require(r.bit() == 0, "weighted_pred unsupported")
    require(r.bits(2) == 0, "weighted_bipred unsupported")
    val initQp = se(r)
    require(initQp >= -26 && initQp <= 25,
      s"pic_init_qp_minus26 $initQp outside [-26, 25] (spec §7.4.2.2)")
    require(se(r) == 0, "pic_init_qs_minus26 != 0 unsupported")
    require(se(r) == 0, "chroma_qp_index_offset != 0 unsupported")
    require(r.bit() == 0, "deblocking_filter_control unsupported")
    r.bit() // constrained_intra_pred_flag
    require(r.bit() == 0, "redundant_pic_cnt_present unsupported")
    expectTrailing(r)
    H264Pps(ppsId, spsId, entropy, nL0, nL1, initQp)
  }

  private[multimodal] def parseSpsRbsp(rbsp: Array[Byte]): H264Sps = {
    val r = new Bits.MsbReader("h264", rbsp)
    val profile = r.bits(8)
    require(Seq(66, 77, 88).contains(profile),
      s"profile_idc $profile outside the Baseline/Main/Extended subset")
    require(r.bits(8) == 0, "constraint/reserved byte nonzero")
    val level = r.bits(8)
    require(ue(r) == 0, "seq_parameter_set_id != 0")
    val logMfn = ue(r)
    require(logMfn <= 12, s"log2_max_frame_num_minus4 $logMfn > 12 (spec)")
    require(ue(r) == 2, "pic_order_cnt_type != 2 unsupported")
    val maxRef = ue(r)
    r.bit() // gaps_in_frame_num_value_allowed_flag
    val wMbs = ue(r) + 1
    val hMbs = ue(r) + 1
    require(r.bit() == 1, "frame_mbs_only_flag 0 unsupported")
    val d8 = r.bit()
    require(r.bit() == 0, "frame_cropping unsupported")
    require(r.bit() == 0, "VUI unsupported")
    expectTrailing(r)
    H264Sps(profile, level, logMfn + 4, maxRef, wMbs, hMbs, d8)
  }

  /** Build a structurally-genuine Annex-B stream: a 4-byte start code
    * then the SPS (nal_ref_idc 3, type 7), a 3-byte start code then the
    * minimal PPS (type 8), then one slice NAL per (refIdc, nalType,
    * payloadLen) triple behind 3-byte start codes.
    *
    * Each slice RBSP BEGINS with a REAL Exp-Golomb slice header (spec
    * §7.3.3 subset): first_mb_in_slice ue(0) (single-slice pictures),
    * slice_type ue — from the per-type legal sets, chosen by payload
    * parity (IDR: 2/7, non-IDR: 0/5), pic_parameter_set_id ue(0), and
    * frame_num as a FIXED-WIDTH read of log2_max_frame_num bits — the
    * cross-NAL dependency of the real format (the slice header cannot
    * be parsed without the SPS). IDR slices carry frame_num 0 (spec
    * §7.4.3); non-IDR slices carry slice-index mod 2^log2. The header
    * pads its last byte with ONES, then deterministic NONZERO filler
    * fills the declared payload length — so the stub region (the
    * entropy-coded macroblock data the header precedes) can never
    * contain a start code, and the header region provably never forms
    * two consecutive zero bytes (the ue prefix before frame_num is
    * always an odd bit count, so frame_num's zero run can fully cover
    * at most one aligned byte) — emulation prevention never fires and
    * the stream's byte layout stays exactly predictable from the
    * declared lengths (the encoder asserts this loudly).
    */
  def encodeH264Stream(sps: H264Sps, slices: Seq[(Int, Int, Int)],
      sei: Seq[(Int, Int)] = Nil): Array[Byte] =
    encodeH264StreamMultiPps(sps, Seq(DefaultPps),
      slices.map { case (r, t, p) => (r, t, p, 0) }, sei)

  /** The multi-parameter-set form: one PPS NAL per entry of `ppss` (in
    * order, after the SPS), and each slice carries the
    * pic_parameter_set_id it references as its 4th element — the
    * ENCODER writes whatever id it is told (a mux cannot know which
    * parameter sets a demuxer will have seen), so a slice naming an
    * absent PPS or a PPS naming an absent SPS is expressible here and
    * MUST be caught by [[decodeH264Stream]]'s reference checks, never
    * by synthesis-side validation.
    */
  def encodeH264StreamMultiPps(sps: H264Sps, ppss: Seq[H264Pps],
      slices: Seq[(Int, Int, Int, Int)],
      sei: Seq[(Int, Int)] = Nil): Array[Byte] = {
    val units = h264NalUnitsMultiPps(sps, ppss, slices, sei)
    val out = new java.io.ByteArrayOutputStream()
    units.zipWithIndex.foreach { case (u, i) =>
      if (i == 0) out.write(0) // 4-byte start code on the first NAL
      out.write(0); out.write(0); out.write(1)
      out.write(u, 0, u.length)
    }
    out.toByteArray
  }

  /** The stream's NAL UNITS as raw byte arrays (header byte + escaped
    * RBSP), WITHOUT start codes — the transport-agnostic form (H.264
    * §7.3.1: a NAL unit includes its emulation-prevention bytes in any
    * transport): an ISO-BMFF muxer stores exactly these, length-prefixed
    * in `mdat` samples and verbatim in `avcC`'s parameter-set arrays,
    * while [[encodeH264StreamMultiPps]] joins them with Annex-B start
    * codes. Unit order: SPS, PPSs, SEIs, slices.
    */
  def h264NalUnitsMultiPps(sps: H264Sps, ppss: Seq[H264Pps],
      slices: Seq[(Int, Int, Int, Int)],
      sei: Seq[(Int, Int)] = Nil): Vector[Array[Byte]] = {
    val units = Vector.newBuilder[Array[Byte]]
    def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Unit = {
      require(refIdc >= 0 && refIdc <= 3, s"nal_ref_idc $refIdc")
      val o = new java.io.ByteArrayOutputStream(rbsp.length + 1)
      o.write((refIdc << 5) | nalType)
      val esc = escapeRbsp(rbsp)
      o.write(esc, 0, esc.length)
      units += o.toByteArray
    }
    nal(3, 7, writeSpsRbsp(sps))
    require(ppss.nonEmpty, "stream needs at least one PPS")
    for (pps <- ppss) nal(3, 8, writePpsRbsp(pps))
    for ((seiType, seiSize) <- sei) {
      // sei_message() (spec §7.3.2.3.1): payload type and size each as
      // an FF-CASCADE — as many 0xFF bytes as the value holds full 255s,
      // then the remainder byte — then the payload, then rbsp trailing.
      // SEI units carry nal_ref_idc 0 (§7.4.1 — the decoder enforces it).
      require(seiType >= 0 && seiSize >= 1, s"SEI ($seiType, $seiSize)")
      val o = new java.io.ByteArrayOutputStream()
      def cascade(v0: Int): Unit = {
        var v = v0
        while (v >= 255) { o.write(0xFF); v -= 255 }
        o.write(v)
      }
      cascade(seiType); cascade(seiSize)
      var j = 0
      while (j < seiSize) { o.write(1 + ((j * 131 + seiSize) % 255)); j += 1 }
      o.write(0x80) // rbsp_trailing_bits: stop bit, byte-aligned
      val rbsp = o.toByteArray
      require(escapeRbsp(rbsp).length == rbsp.length,
        "SEI RBSP triggered emulation prevention — synthesis contract broken")
      nal(0, 6, rbsp)
    }
    for (((refIdc, nalType, plen, ppsId), idx) <- slices.zipWithIndex) {
      require(nalType == 1 || nalType == 5,
        s"slice NAL type $nalType not in {1, 5}")
      require(nalType != 5 || refIdc > 0,
        "IDR slices must have nal_ref_idc != 0 (spec §7.4.1)")
      val w = new Bits.MsbWriter("h264")
      ue(w, 0) // first_mb_in_slice
      ue(w, if (nalType == 5) { if (plen % 2 == 0) 2 else 7 }
        else { if (plen % 2 == 0) 0 else 5 })
      ue(w, ppsId) // pic_parameter_set_id — NOT validated here, see doc
      w.bits(if (nalType == 5) 0 // IDR: frame_num shall be 0 (§7.4.3)
        else idx % (1 << sps.log2MaxFrameNum), sps.log2MaxFrameNum)
      // pad with ones: stub payload follows, so no trailing-bit
      // semantics — ones keep the final header byte nonzero and no
      // zero-byte pair can form against the filler
      w.alignByte(1)
      val header = w.result
      require(plen >= header.length + 1,
        s"slice payload $plen bytes cannot hold its ${header.length}-byte header")
      val payload = new Array[Byte](plen)
      System.arraycopy(header, 0, payload, 0, header.length)
      var j = header.length
      while (j < plen) {
        payload(j) = (1 + ((j * 131 + plen) % 255)).toByte
        j += 1
      }
      require(escapeRbsp(payload).length == plen,
        "slice RBSP triggered emulation prevention — synthesis contract broken")
      nal(refIdc, nalType, payload)
    }
    units.result()
  }

  /** Walk an Annex-B byte stream structurally: scan start codes (3- and
    * 4-byte), parse each NAL header (forbidden_zero_bit, nal_ref_idc,
    * nal_unit_type), unescape the RBSP, and fully parse the SPS's
    * Exp-Golomb fields. Malformed streams fail loudly: no start code at
    * offset 0, a set forbidden bit, a reserved/unspecified NAL type, a
    * ref_idc the spec forbids for the type (0 for SPS/PPS/IDR, nonzero
    * for SEI/delimiter-class units), an empty NAL, zero or multiple
    * SPSs, or trailing bytes that never form a start code are all
    * contract violations, never silent tolerance.
    */
  def decodeH264Stream(bytes: Array[Byte]): H264Stream = {
    // start-code scan: positions p with bytes[p..p+2] = 00 00 01
    val starts = Vector.newBuilder[Int]
    var i = 0
    while (i + 2 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        starts += i
        i += 3
      } else i += 1
    }
    val ps = starts.result()
    require(ps.nonEmpty, "no Annex-B start code in stream")
    require(ps.head == 0 || (ps.head == 1 && bytes(0) == 0),
      s"stream does not begin with a start code (first at ${ps.head})")
    val nals = Vector.newBuilder[H264Nal]
    val seiMsgs = Vector.newBuilder[(Int, Int)]
    var sps: Option[H264Sps] = None
    val ppsList = Vector.newBuilder[H264Pps]
    var ppsById = Map.empty[Int, H264Pps]
    var k = 0
    while (k < ps.length) {
      val p = ps(k)
      val scl = if (p > 0 && bytes(p - 1) == 0) 4 else 3
      val dataStart = p + 3
      // the next start code's 4-byte prefix zero belongs to IT, not us
      val dataEnd =
        if (k + 1 < ps.length) {
          val q = ps(k + 1)
          if (bytes(q - 1) == 0) q - 1 else q
        } else bytes.length
      require(dataEnd > dataStart, s"empty NAL at offset $p")
      val h = bytes(dataStart) & 0xFF
      require((h & 0x80) == 0,
        s"forbidden_zero_bit set at offset $dataStart")
      val refIdc = (h >> 5) & 3
      val nalType = h & 0x1F
      require(nalType >= 1 && nalType <= 12,
        s"NAL type $nalType reserved/unspecified at offset $p")
      // spec §7.4.1: SPS/PPS/IDR require ref_idc != 0; SEI, access-unit
      // delimiter, end-of-seq/stream, filler require ref_idc == 0
      if (Seq(5, 7, 8).contains(nalType))
        require(refIdc != 0, s"NAL type $nalType with nal_ref_idc 0")
      if (Seq(6, 9, 10, 11, 12).contains(nalType))
        require(refIdc == 0, s"NAL type $nalType with nal_ref_idc $refIdc")
      val rbsp = unescapeRbsp(
        java.util.Arrays.copyOfRange(bytes, dataStart + 1, dataEnd))
      var sliceType = -1
      var frameNum = -1
      var ppsId = -1
      if (nalType == 7) {
        require(sps.isEmpty, "multiple SPS NALs in subset stream")
        sps = Some(parseSpsRbsp(rbsp))
      } else if (nalType == 8) {
        // full pic_parameter_set_rbsp parse (§7.3.2.2) — and the
        // parameter-set reference graph's FIRST edge: the PPS must name
        // a SEQUENCE parameter set this stream carries (subset: one SPS,
        // id 0). A PPS pointing at an absent SPS is a lost-NAL/bad-mux
        // corruption a real demuxer hits, caught HERE, not at slice time.
        val pps = parsePpsRbsp(rbsp)
        require(sps.isDefined, s"PPS at offset $p before any SPS")
        require(pps.spsId == 0,
          s"PPS ${pps.ppsId} references SPS ${pps.spsId}; " +
            "stream carries only SPS 0 (dangling SPS reference)")
        require(!ppsById.contains(pps.ppsId),
          s"duplicate PPS id ${pps.ppsId}")
        ppsList += pps
        ppsById += pps.ppsId -> pps
      } else if (nalType == 6) {
        // sei_message(): payload type + size as FF-cascades (§7.3.2.3.1),
        // the payload, then the aligned stop-bit byte — one message per
        // SEI NAL in this subset, every byte accounted for
        var pos = 0
        def cascade(what: String): Int = {
          var v = 0
          while (pos < rbsp.length && (rbsp(pos) & 0xFF) == 0xFF) {
            v += 255; pos += 1
          }
          require(pos < rbsp.length, s"SEI $what cascade overruns the NAL")
          v += rbsp(pos) & 0xFF; pos += 1
          v
        }
        val pt = cascade("payload-type")
        val sz = cascade("payload-size")
        require(pos + sz + 1 == rbsp.length,
          s"SEI declares $sz payload bytes, ${rbsp.length - pos - 1} present")
        require((rbsp(rbsp.length - 1) & 0xFF) == 0x80,
          "SEI rbsp_trailing_bits missing")
        seiMsgs += ((pt, sz))
      } else if (nalType == 1 || nalType == 5) {
        // the slice HEADER is real wire format; frame_num's width comes
        // from the SPS — the cross-NAL dependency of the real decoder —
        // and pic_parameter_set_id must resolve against a PPS the
        // stream has actually carried (the reference graph's second
        // edge: a slice naming a lost/absent PPS is undecodable and
        // must fail HERE, never be walked as if its entropy mode or
        // ref-list defaults were known)
        val s = sps.getOrElse(throw new IllegalArgumentException(
          s"slice at offset $p before any SPS"))
        val r = new Bits.MsbReader("h264", rbsp)
        require(ue(r) == 0, "first_mb_in_slice != 0 unsupported")
        sliceType = ue(r)
        require(sliceType <= 9, s"slice_type $sliceType out of range")
        if (nalType == 5)
          require(sliceType % 5 == 2, // I slice (2 or 7)
            s"IDR with non-I slice_type $sliceType (spec §7.4.3)")
        ppsId = ue(r)
        require(ppsById.contains(ppsId),
          s"slice at offset $p references PPS $ppsId; stream carries " +
            s"only {${ppsById.keys.toSeq.sorted.mkString(",")}} " +
            "(dangling PPS reference)")
        frameNum = r.bits(s.log2MaxFrameNum)
        if (nalType == 5)
          require(frameNum == 0,
            s"IDR frame_num $frameNum != 0 (spec §7.4.3)")
      }
      nals += H264Nal(p - (scl - 3), scl, refIdc, nalType, rbsp.length,
        sliceType, frameNum, ppsId)
      k += 1
    }
    H264Stream(nals.result(), sps.getOrElse(
      throw new IllegalArgumentException("stream carries no SPS")),
      seiMsgs.result(), ppsList.result())
  }

  // --------------------- CAVLC I-frame residual tier (§7.3.5, §9.2)
  // The r16 narrowing of the H.264 stub: slice DATA parses for real —
  // full IDR slice headers (idr_pic_id, dec_ref_pic_marking,
  // slice_qp_delta), one I_16x16 macroblock layer per MB (mb_type with
  // the CBP-0 variants, intra_chroma_pred_mode, mb_qp_delta), and the
  // Intra16x16DCLevel residual block CAVLC-coded per §9.2: coeff_token
  // (the 0 ≤ nC < 2 table column — the block-constant synthesis keeps
  // every neighbour count ≤ 1, so no other column can be selected),
  // trailing-one signs, level_prefix with the first-level +2
  // adjustment, and total_zeros (Table 9-7, TotalCoeff 1). Each block
  // carries exactly ONE nonzero DC coefficient (|level| ≤ 7) — the
  // "block-constant under a flat QP" shape whose coefficient sums the
  // oracle prices like the MJPEG tier. Anything outside the subset's
  // code points (a third coeff_token shape, a level_prefix ≥ 14, the
  // unused all-zeros total_zeros word) fails loudly BY NAME.

  /** One I_16x16 macroblock of the tier: prediction modes, QP delta,
    * and the single signed DC coefficient with its zigzag position
    * (total_zeros).
    */
  case class H264Mb(predMode: Int, chromaPred: Int, qpDelta: Int,
      dcLevel: Int, dcTz: Int)

  private def writeTotalZeros1(w: Bits.MsbWriter, tz: Int): Unit = {
    require(tz >= 0 && tz <= 15, s"total_zeros $tz")
    if (tz == 0) w.bits(1, 1)
    else if (tz == 15) { w.bits(0, 8); w.bits(1, 1) }
    else {
      val z = (tz + 1) / 2
      w.bits(0, z); w.bits(1, 1); w.bits(if (tz % 2 == 1) 1 else 0, 1)
    }
  }

  private def readTotalZeros1(r: Bits.MsbReader): Int = {
    var z = 0
    while (r.bit() == 0) {
      z += 1
      require(z <= 8, "total_zeros prefix over-long (invalid code word)")
    }
    if (z == 0) 0
    else if (z == 8) 15
    else 2 * z - 1 + (1 - r.bit())
  }

  /** The IDR slice RBSP with REAL macroblock data. `lieTzInMb` ≥ 0
    * writes the INVALID all-zeros total_zeros word in that MB — the
    * §9.2 code point Table 9-7 never assigns, detectable only by the
    * residual parse (header, NAL, and SPS layers all stay pristine).
    */
  def writeIFrameSliceRbsp(sps: H264Sps, idrPicId: Int, sliceQpDelta: Int,
      mbs: Seq[H264Mb], lieTzInMb: Int = -1): Array[Byte] = {
    require(mbs.size == sps.widthMbs * sps.heightMbs,
      s"slice carries ${mbs.size} MBs for a ${sps.widthMbs}x" +
        s"${sps.heightMbs} picture")
    val w = new Bits.MsbWriter("h264")
    ue(w, 0) // first_mb_in_slice
    ue(w, 7) // slice_type: I (all slices of the picture are I)
    ue(w, 0) // pic_parameter_set_id
    w.bits(0, sps.log2MaxFrameNum) // frame_num = 0 (IDR, §7.4.3)
    ue(w, idrPicId)
    w.bits(0, 1); w.bits(0, 1) // dec_ref_pic_marking: no_output, long_term
    se(w, sliceQpDelta)
    mbs.zipWithIndex.foreach { case (mb, mi) =>
      require(mb.predMode >= 0 && mb.predMode <= 3, s"pred ${mb.predMode}")
      require(mb.chromaPred >= 0 && mb.chromaPred <= 3,
        s"chroma pred ${mb.chromaPred}")
      require(mb.dcLevel != 0 && math.abs(mb.dcLevel) <= 7,
        s"DC level ${mb.dcLevel} outside the block-constant subset")
      ue(w, 1 + mb.predMode) // I_16x16_<pred>_0_0: CBP rides in the type
      ue(w, mb.chromaPred)
      se(w, mb.qpDelta)
      // Intra16x16DCLevel, TotalCoeff = 1:
      if (math.abs(mb.dcLevel) == 1) {
        w.bits(1, 2) // coeff_token (1, 1): "01"
        w.bits(if (mb.dcLevel < 0) 1 else 0, 1) // trailing-one sign
      } else {
        w.bits(5, 6) // coeff_token (1, 0): "000101"
        // level_prefix, suffixLength 0, first-level +2 adjustment
        val levelCode =
          if (mb.dcLevel > 0) 2 * mb.dcLevel - 2 else -2 * mb.dcLevel - 1
        val prefix = levelCode - 2
        require(prefix >= 0 && prefix < 14, s"level_prefix $prefix")
        w.bits(0, prefix); w.bits(1, 1)
      }
      if (mi == lieTzInMb) { w.bits(0, 8); w.bits(0, 1) } // invalid word
      else writeTotalZeros1(w, mb.dcTz)
      // run_before: none for TotalCoeff = 1
    }
    rbspTrailing(w)
  }

  /** Parse an IDR slice RBSP of the tier back to its macroblocks. */
  def parseIFrameSlice(rbsp: Array[Byte], sps: H264Sps): Vector[H264Mb] = {
    val r = new Bits.MsbReader("h264", rbsp)
    require(ue(r) == 0, "first_mb_in_slice != 0 outside subset")
    val st = ue(r)
    require(st == 7 || st == 2, s"slice_type $st is not I")
    require(ue(r) == 0, "pic_parameter_set_id != 0 outside subset")
    require(r.bits(sps.log2MaxFrameNum) == 0, "IDR frame_num != 0")
    ue(r) // idr_pic_id
    r.bit(); r.bit() // dec_ref_pic_marking
    se(r) // slice_qp_delta
    val n = sps.widthMbs * sps.heightMbs
    val mbs = Vector.newBuilder[H264Mb]
    var mi = 0
    while (mi < n) {
      val mbType = ue(r)
      require(mbType >= 1 && mbType <= 4,
        s"mb_type $mbType outside the I_16x16 CBP-0 subset")
      val chromaPred = ue(r)
      require(chromaPred <= 3, s"intra_chroma_pred_mode $chromaPred")
      val qpDelta = se(r)
      // coeff_token, 0 <= nC < 2 column
      val (tc, t1) =
        if (r.bit() == 1) (0, 0)
        else if (r.bit() == 1) (1, 1)
        else {
          // expect the remaining "0101" of "000101"
          require(r.bit() == 0 && r.bit() == 1 && r.bit() == 0 &&
            r.bit() == 1,
            "coeff_token outside the block-constant subset " +
              "((0,0) / (1,1) / (1,0) only)")
          (1, 0)
        }
      require(tc == 1,
        "macroblock without its one DC coefficient (subset contract)")
      val level =
        if (t1 == 1) { if (r.bit() == 1) -1 else 1 }
        else {
          var prefix = 0
          while (r.bit() == 0) {
            prefix += 1
            require(prefix < 14,
              "level_prefix >= 14 outside the block-constant subset")
          }
          val levelCode = prefix + 2 // first level, TrailingOnes < 3
          if (levelCode % 2 == 0) (levelCode + 2) / 2
          else -((levelCode + 1) / 2)
        }
      val tz = readTotalZeros1(r)
      mbs += H264Mb(mbType - 1, chromaPred, qpDelta, level, tz)
      mi += 1
    }
    expectTrailing(r)
    mbs.result()
  }

  /** Encode a full Annex-B stream for the tier: SPS, PPS (CAVLC
    * entropy mode — the data really is CAVLC now), one IDR slice with
    * real macroblock data.
    */
  def encodeH264IFrameStream(sps: H264Sps, idrPicId: Int,
      sliceQpDelta: Int, mbs: Seq[H264Mb],
      lieTzInMb: Int = -1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte], first: Boolean): Unit = {
      if (first) out.write(0)
      out.write(0); out.write(0); out.write(1)
      out.write((refIdc << 5) | nalType)
      val esc = escapeRbsp(rbsp)
      out.write(esc, 0, esc.length)
    }
    nal(3, 7, writeSpsRbsp(sps), first = true)
    nal(3, 8, writePpsRbsp(DefaultPps), first = false)
    nal(3, 5, writeIFrameSliceRbsp(sps, idrPicId, sliceQpDelta, mbs,
      lieTzInMb), first = false)
    out.toByteArray
  }

  /** Walk a tier stream back: the structural NAL walk first (start
    * codes, headers, SPS/PPS reference checks — [[decodeH264Stream]]),
    * then the IDR slice's full header + macroblock parse.
    */
  def decodeH264IFrame(bytes: Array[Byte]): (H264Sps, Vector[H264Mb]) = {
    val stream = decodeH264Stream(bytes)
    // re-scan for the IDR slice NAL payload (type 5)
    var slice: Array[Byte] = null
    var i = 0
    var count = 0
    while (i + 2 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        val hdr = bytes(i + 3) & 0xFF
        if ((hdr & 0x1F) == 5) {
          var j = i + 4
          while (j + 2 < bytes.length &&
            !(bytes(j) == 0 && bytes(j + 1) == 0 && bytes(j + 2) == 1)) j += 1
          val end = if (j + 2 < bytes.length) {
            if (j > 0 && bytes(j - 1) == 0) j - 1 else j
          } else bytes.length
          slice = unescapeRbsp(
            java.util.Arrays.copyOfRange(bytes, i + 4, end))
          count += 1
        }
        i += 3
      } else i += 1
    }
    require(count == 1, s"tier stream carries $count IDR slices, not 1")
    (stream.sps, parseIFrameSlice(slice, stream.sps))
  }
}
