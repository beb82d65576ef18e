package graft.web

/** Zstandard frame/block layer (RFC 8878) — the other compression
  * format large web corpora ship in (`.warc.zst` / `.jsonl.zst`):
  * frame magic and header (descriptor flags, frame content size), the
  * 3-byte block headers (Last_Block / Block_Type / Block_Size), RAW
  * and RLE block payloads, COMPRESSED block payloads via the real
  * entropy layer ([[ZstdEntropy]] — FSE table descriptions, Huffman
  * literals in both tree representations and both stream counts,
  * sequences with the three-register repeat-offset history; the r14
  * declared stub, now decoded for real), SKIPPABLE frames (the spec's
  * side-channel, used in the wild for seek tables), and the XXH64
  * content checksum (verified against the reference xxHash64 —
  * Spark's own `XXH64.hashUnsafeBytes`, the algorithm zstd names
  * normatively).
  *
  * Encoder subset (the oracle-priceable wire): one frame per payload —
  * single-segment descriptor, 1/2/4-byte frame content size, raw
  * blocks of ≤ 128 bytes plus one RLE pad block, checksum present;
  * preceded by a 16-byte skippable frame carrying an 8-byte record id
  * (a miniature seek-table convention). [[encodeEntropyFrame]] emits
  * the COMPRESSED-block flavor: Huffman-coded literals plus one
  * RLE-table-mode sequence with oracle-predictable regenerated
  * content. Decoder handles the general grammar (any dict-id width,
  * windowed frames, any block split) and fails loudly on: bad magic,
  * the RESERVED descriptor bit (§3.1.1.1 mandates zero — the
  * quarantine plant), reserved block type 3, truncation anywhere,
  * checksum mismatch, trailing garbage.
  */
object Zstd {

  private val Magic = 0xFD2FB528
  private val SkippableBase = 0x184D2A50 // low nibble 0-F all skippable

  private def xxh64(bytes: Array[Byte], len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 0L)

  /** One walked data frame: where it sits in the stream (`offset`,
    * `compressedSize` — the seek-table coordinates), block structure
    * counts, and the re-assembled content (checksum-verified when
    * present).
    */
  final case class Frame(offset: Int, compressedSize: Int, nBlocks: Int,
      nRaw: Int, nRle: Int, nCompressed: Int, contentSize: Long,
      content: Array[Byte], nFseTables: Int = 0)

  /** A walked stream: data frames + the skippable frames stepped over
    * — payloads surfaced for the seek-table reader, with each frame's
    * magic NIBBLE and stream offset retained so a seek-table consumer
    * can verify it is reading the 0xE-tagged TRAILING frame the
    * seekable convention mandates, not whatever skippable happened
    * to come last.
    */
  final case class Stream(frames: Vector[Frame],
      skippablePayloads: Vector[Array[Byte]],
      skippableNibbles: Vector[Int],
      skippableOffsets: Vector[Int])

  private def le32(bytes: Array[Byte], pos: Int): Long = {
    require(pos + 4 <= bytes.length, s"zstd: truncated u32 at $pos")
    ((bytes(pos) & 0xFFL)) | ((bytes(pos + 1) & 0xFFL) << 8) |
      ((bytes(pos + 2) & 0xFFL) << 16) | ((bytes(pos + 3) & 0xFFL) << 24)
  }

  /** Little-endian output of the frame writers. */
  private final class FrameOut extends java.io.ByteArrayOutputStream {
    def u32(v: Long): Unit = {
      var t = v; var i = 0
      while (i < 4) { write((t & 0xFF).toInt); t >>>= 8; i += 1 }
    }

    def blockHeader(last: Boolean, btype: Int, size: Int): Unit = {
      val hdr = (if (last) 1 else 0) | (btype << 1) | (size << 3)
      write(hdr & 0xFF); write((hdr >>> 8) & 0xFF); write((hdr >>> 16) & 0xFF)
    }
  }

  /** One content-checksummed data frame whose blocks (written by
    * `blocks`) regenerate `content`: magic, frame header, blocks, and
    * the low 32 bits of the content's XXH64. The header is
    * single-segment with a 1/2/4-byte FCS unless the largest block
    * (`maxBlock` bytes) outgrows the content: Block_Maximum_Size =
    * min(window, 128 KB) would then be violated, so the header declares
    * the smallest window 2^(10+e) covering the block and a 4-byte FCS
    * (the 2-byte form cannot hold sizes < 256).
    */
  private def writeFrame(content: Array[Byte], maxBlock: Int)(
      blocks: FrameOut => Unit): Array[Byte] = {
    val size = content.length
    val out = new FrameOut
    out.u32(Magic & 0xFFFFFFFFL)
    if (maxBlock <= size) {
      // descriptor: FCS_flag (bits 7-6), single_segment (bit 5),
      // checksum (bit 2); reserved bit 3 and dict bits zero
      val fcsFlag = if (size < 256) 0 else if (size < 65792) 1 else 2
      out.write((fcsFlag << 6) | 0x20 | 0x04)
      if (fcsFlag == 0) out.write(size)
      else if (fcsFlag == 1) { // 2-byte FCS stores size - 256 (§3.1.1.1.4)
        out.write((size - 256) & 0xFF); out.write((size - 256) >>> 8)
      } else out.u32(size)
    } else {
      var e = 0
      while ((1L << (10 + e)) < maxBlock) e += 1
      require(10 + e <= 17, "zstd: compressed block exceeds 128 KB")
      out.write((2 << 6) | 0x04) // FCS 4 bytes, window descriptor, checksum
      out.write(e << 3) // mantissa 0
      out.u32(size)
    }
    blocks(out)
    out.u32(xxh64(content, size) & 0xFFFFFFFFL)
    out.toByteArray
  }

  /** Encode one data frame: single-segment, content-checksummed, raw
    * blocks of `rawChunk` bytes + one trailing RLE block of `rleLen` ×
    * `rleByte` (the planted pad that keeps the RLE path live on the
    * wire). Content on the wire = `data ++ rleByte*rleLen`.
    */
  def encodeFrame(data: Array[Byte], rleLen: Int, rleByte: Byte,
      rawChunk: Int = 128): Array[Byte] = {
    require(rleLen >= 0 && rleLen < (1 << 21), s"zstd: bad RLE length $rleLen")
    require(rawChunk > 0 && rawChunk < (1 << 21), s"zstd: bad chunk $rawChunk")
    val full = new Array[Byte](data.length + rleLen)
    System.arraycopy(data, 0, full, 0, data.length)
    java.util.Arrays.fill(full, data.length, full.length, rleByte)
    writeFrame(full, math.min(rawChunk, data.length)) { out =>
      var off = 0
      while (off < data.length) {
        val n = math.min(rawChunk, data.length - off)
        // with no RLE pad, the final raw chunk carries the last flag
        out.blockHeader(last = rleLen == 0 && off + n == data.length,
          btype = 0, size = n)
        out.write(data, off, n)
        off += n
      }
      if (rleLen > 0) {
        out.blockHeader(last = true, btype = 1, size = rleLen) // size = regenerated
        out.write(rleByte & 0xFF)
      } else if (data.isEmpty) {
        out.blockHeader(last = true, btype = 0, size = 0) // empty frame: one raw block
      }
    }
  }

  /** The compressed block `block`, then an RLE pad block of `rleLen` ×
    * `rleByte` when `rleLen > 0`, framed around `full`.
    */
  private def entropyFrame(full: Array[Byte], block: Array[Byte],
      rleLen: Int, rleByte: Byte): Array[Byte] =
    writeFrame(full, block.length) { out =>
      out.blockHeader(last = rleLen == 0, btype = 2, size = block.length)
      out.write(block, 0, block.length)
      if (rleLen > 0) {
        out.blockHeader(last = true, btype = 1, size = rleLen)
        out.write(rleByte & 0xFF)
      }
    }

  /** Encode one ENTROPY-CODED data frame: single-segment and
    * checksummed like [[encodeFrame]], but the payload ships in a
    * COMPRESSED block — Huffman-coded literals (direct-weight tree,
    * single stream to 1023 literals, 4-stream with jump table above)
    * plus ONE RLE-table-mode sequence appending `matchPad` copies of
    * the final payload byte through repeat-offset register 1 — then a
    * plain RLE pad block, so raw-FSE-free entropy decode, sequence
    * execution, and the block-type mix are all live on the wire.
    * Regenerated content = `data ++ last*matchPad ++ rleByte*rleLen`
    * (just `rleByte*rleLen` for an empty payload) — every byte of it
    * oracle-priceable from the source text. A payload whose block
    * (payload + `matchPad`) would pass the 128 KiB block cap is refused
    * with an IllegalArgumentException before any encoding.
    */
  def encodeEntropyFrame(data: Array[Byte], matchPad: Int = 32,
      rleLen: Int = 16, rleByte: Byte = '~'): Array[Byte] = {
    require(rleLen >= 0 && rleLen < (1 << 21), s"zstd: bad RLE length $rleLen")
    val padded = data.length + (if (data.isEmpty) 0 else matchPad)
    val block = ZstdEntropy.encodeCompressedBlock(data,
      if (data.isEmpty) 0 else matchPad)
    val full = new Array[Byte](padded + rleLen)
    System.arraycopy(data, 0, full, 0, data.length)
    if (data.nonEmpty)
      java.util.Arrays.fill(full, data.length, padded, data(data.length - 1))
    java.util.Arrays.fill(full, padded, full.length, rleByte)
    entropyFrame(full, block, rleLen, rleByte)
  }

  /** The FSE-mode sibling of [[encodeEntropyFrame]] (r16): the payload
    * ships in a compressed block whose THREE sequence tables are
    * FSE_Compressed (§4.1.1 descriptions + real interleaved state
    * chains — [[ZstdEntropy.encodeCompressedBlockFse]]), `nSeq`
    * sequences each appending `matchPad` copies of its literal chunk's
    * final byte, then the RLE pad block. Regenerated content =
    * chunk0 ++ last(chunk0)·pad ++ … ++ rleByte·rleLen — every byte
    * oracle-priceable. Requires data.length ≥ nSeq (callers fall back
    * to [[encodeEntropyFrame]] below that) and, like
    * [[encodeEntropyFrame]], a block (payload + nSeq × `matchPad`)
    * within the 128 KiB cap.
    */
  def encodeEntropyFrameFse(data: Array[Byte], nSeq: Int = 2,
      matchPad: Int = 16, rleLen: Int = 16, rleByte: Byte = '~'): Array[Byte] = {
    require(rleLen >= 0 && rleLen < (1 << 21), s"zstd: bad RLE length $rleLen")
    require(data.length >= nSeq, "zstd: fewer literals than sequences")
    val block = ZstdEntropy.encodeCompressedBlockFse(data, nSeq, matchPad)
    // regenerated content: the chunks with their per-sequence pads
    val full = new Array[Byte](data.length + nSeq * matchPad + rleLen)
    val ends = ZstdEntropy.fseChunkEnds(data.length, nSeq)
    var w = 0
    var i = 0
    while (i < nSeq) {
      val from = if (i == 0) 0 else ends(i - 1)
      val until = ends(i)
      System.arraycopy(data, from, full, w, until - from)
      w += until - from
      java.util.Arrays.fill(full, w, w + matchPad, data(until - 1))
      w += matchPad
      i += 1
    }
    java.util.Arrays.fill(full, w, full.length, rleByte)
    entropyFrame(full, block, rleLen, rleByte)
  }

  /** A 16-byte skippable frame wrapping an 8-byte payload (or any
    * size): magic 0x184D2A5x + LE32 size + opaque data.
    */
  def encodeSkippable(data: Array[Byte], nibble: Int = 0): Array[Byte] = {
    require(nibble >= 0 && nibble <= 15, s"zstd: bad skippable nibble $nibble")
    val out = new FrameOut
    out.u32((SkippableBase | nibble).toLong & 0xFFFFFFFFL)
    out.u32(data.length.toLong)
    out.write(data, 0, data.length)
    out.toByteArray
  }

  /** Seek table for a multi-frame stream — the declared subset of the
    * public seekable-zstd convention: one (compressed size LE32,
    * decompressed size LE32) entry per data frame plus an LE32 frame
    * count, shipped in a TRAILING skippable frame under the
    * convention's 0xE nibble. What turns a `.warc.zst` into a
    * random-access archive.
    */
  def encodeSeekTable(frames: Seq[(Int, Long)]): Array[Byte] = {
    val out = new FrameOut
    frames.foreach { case (c, d) => out.u32(c.toLong); out.u32(d) }
    out.u32(frames.size.toLong)
    encodeSkippable(out.toByteArray, nibble = 0xE)
  }

  /** Verify a walked stream's trailing seek table against the frames
    * actually walked — entry count and every (compressed,
    * decompressed) size pair must match exactly. A lying index is how
    * a seek-based reader silently mis-slices; here it is a loud
    * contract error. Returns the frame count.
    */
  def verifySeekTable(s: Stream): Int = {
    // the table is the skippable frame under the convention's 0xE
    // nibble — any other skippable (metadata, padding) is not a table,
    // and a table that does not TRAIL the data frames would let a
    // stale mid-stream index masquerade as the live one
    val tables = s.skippableNibbles.zipWithIndex.filter(_._1 == 0xE)
    require(tables.nonEmpty, "zstd: no seek table frame (nibble 0xE)")
    val ti = tables.last._2
    val t = s.skippablePayloads(ti)
    require(s.frames.nonEmpty, "zstd: seek table over zero data frames")
    val lastFrame = s.frames.last
    require(s.skippableOffsets(ti) >= lastFrame.offset + lastFrame.compressedSize,
      s"zstd: seek table at ${s.skippableOffsets(ti)} does not trail the " +
        s"data frames (last ends at ${lastFrame.offset + lastFrame.compressedSize})")
    require(t.length >= 4 && t.length % 4 == 0,
      s"zstd: malformed seek table (${t.length} bytes)")
    def u32(pos: Int): Long =
      ((t(pos) & 0xFFL)) | ((t(pos + 1) & 0xFFL) << 8) |
        ((t(pos + 2) & 0xFFL) << 16) | ((t(pos + 3) & 0xFFL) << 24)
    val n = u32(t.length - 4)
    require(n == s.frames.size,
      s"zstd: seek table declares $n frames, walked ${s.frames.size}")
    require(t.length == 4 + 8 * n,
      s"zstd: seek table ${t.length} bytes != ${4 + 8 * n} for $n entries")
    var i = 0
    while (i < n) {
      val c = u32(8 * i)
      val d = u32(8 * i + 4)
      val f = s.frames(i.toInt)
      require(c == f.compressedSize && d == f.contentSize,
        s"zstd: seek entry $i ($c, $d) != walked " +
          s"(${f.compressedSize}, ${f.contentSize})")
      i += 1
    }
    n.toInt
  }

  /** Walk a concatenation of zstd frames (data + skippable). */
  def decodeStream(bytes: Array[Byte]): Stream = {
    require(bytes.length > 0, "zstd: empty input")
    val frames = Vector.newBuilder[Frame]
    val skips = Vector.newBuilder[Array[Byte]]
    val skipNibbles = Vector.newBuilder[Int]
    val skipOffsets = Vector.newBuilder[Int]
    var pos = 0
    while (pos < bytes.length) {
      val skipStart = pos
      val magic = le32(bytes, pos)
      pos += 4
      if ((magic & 0xFFFFFFF0L) == (SkippableBase.toLong & 0xFFFFFFF0L)) {
        val size = le32(bytes, pos)
        pos += 4
        require(pos + size <= bytes.length,
          s"zstd: skippable frame of $size over-runs stream at $pos")
        skips += java.util.Arrays.copyOfRange(bytes, pos, pos + size.toInt)
        skipNibbles += (magic & 0xF).toInt
        skipOffsets += skipStart
        pos += size.toInt
      } else {
        val frameStart = pos - 4
        require(magic == (Magic.toLong & 0xFFFFFFFFL),
          f"zstd: bad magic $magic%08x at ${pos - 4}")
        require(pos < bytes.length, "zstd: truncated frame header")
        val fhd = bytes(pos) & 0xFF
        pos += 1
        require((fhd & 0x08) == 0,
          "zstd: reserved descriptor bit set — RFC 8878 §3.1.1.1 requires zero")
        val singleSegment = (fhd & 0x20) != 0
        val checksum = (fhd & 0x04) != 0
        val dictFlag = fhd & 0x03
        val fcsFlag = fhd >>> 6
        var windowSize = -1L // single-segment: the FCS is the window
        if (!singleSegment) {
          require(pos < bytes.length, "zstd: truncated window descriptor")
          val wd = bytes(pos) & 0xFF
          val windowLog = 10 + (wd >> 3)
          val base = 1L << windowLog
          windowSize = base + (base >> 3) * (wd & 7)
          pos += 1
        }
        val dictBytes = dictFlag match {
          case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
        }
        pos += dictBytes
        require(pos <= bytes.length, "zstd: truncated dictionary id")
        val fcsBytes = fcsFlag match {
          case 0 => if (singleSegment) 1 else 0
          case 1 => 2
          case 2 => 4
          case _ => 8
        }
        var declared = -1L
        if (fcsBytes > 0) {
          require(pos + fcsBytes <= bytes.length, "zstd: truncated FCS")
          var v = 0L
          var i = 0
          while (i < fcsBytes) { v |= (bytes(pos + i) & 0xFFL) << (8 * i); i += 1 }
          declared = if (fcsBytes == 2) v + 256 else v
          pos += fcsBytes
        }
        if (singleSegment) windowSize = declared
        // Block_Maximum_Size (§3.1.1.2.4): min(window, 128 KB) bounds
        // BOTH the on-wire and regenerated size of every block — the
        // reference decoder rejects violators with srcSize_wrong
        val blockMax = math.min(windowSize, 1L << 17)
        val content = new OutBuffer("zstd", 1024)
        val ctx = new ZstdEntropy.FrameCtx
        var nBlocks = 0; var nRaw = 0; var nRle = 0; var nCompressed = 0
        var last = false
        while (!last) {
          require(pos + 3 <= bytes.length, "zstd: truncated block header")
          val hdr = (bytes(pos) & 0xFF) | ((bytes(pos + 1) & 0xFF) << 8) |
            ((bytes(pos + 2) & 0xFF) << 16)
          pos += 3
          last = (hdr & 1) != 0
          val btype = (hdr >>> 1) & 3
          val size = hdr >>> 3
          require(size <= blockMax,
            s"zstd: block size $size exceeds Block_Maximum_Size $blockMax")
          nBlocks += 1
          btype match {
            case 0 =>
              require(pos + size <= bytes.length,
                s"zstd: raw block of $size over-runs stream at $pos")
              content.write(bytes, pos, size)
              pos += size
              nRaw += 1
            case 1 =>
              require(pos < bytes.length, "zstd: truncated RLE byte")
              val b = bytes(pos)
              pos += 1
              content.fill(b, size)
              nRle += 1
            case 2 =>
              require(size > 0, "zstd: empty compressed block")
              require(pos + size <= bytes.length,
                s"zstd: compressed block of $size over-runs stream at $pos")
              val lenBefore = content.len
              ZstdEntropy.decodeCompressedBlock(bytes, pos, size, ctx, content)
              require(content.len - lenBefore <= blockMax,
                s"zstd: block regenerates ${content.len - lenBefore} " +
                  s"bytes, over Block_Maximum_Size $blockMax")
              pos += size
              nCompressed += 1
            case _ =>
              throw new IllegalArgumentException("zstd: reserved block type 3")
          }
        }
        val data = content.result
        if (declared >= 0)
          require(data.length.toLong == declared,
            s"zstd: content ${data.length} != declared FCS $declared")
        if (checksum) {
          val want = le32(bytes, pos)
          pos += 4
          val got = xxh64(data, data.length) & 0xFFFFFFFFL
          require(got == want,
            f"zstd: content checksum mismatch (stored $want%08x, computed $got%08x)")
        }
        frames += Frame(frameStart, pos - frameStart, nBlocks, nRaw, nRle,
          nCompressed, data.length.toLong, data, ctx.fseTables)
      }
    }
    Stream(frames.result(), skips.result(), skipNibbles.result(),
      skipOffsets.result())
  }
}
