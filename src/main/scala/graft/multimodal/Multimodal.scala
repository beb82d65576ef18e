package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque binary columns
  * with typed metadata.
  *
  * The Spark-side machinery — schema, partition-friendly batch iteration,
  * deterministic metadata extraction — is real and tested. Decoding is
  * two-tier:
  *
  *  - REAL decoders ([[Codecs]]): P6 PPM images, RIFF/WAVE PCM audio,
  *    compressed PNG (DEFLATE via the JVM's built-in zlib, chunk walk,
  *    CRC verification, five-filter scanline reconstruction),
  *    LZW-compressed GIF (variable-width codes, clear/KwKwK handling,
  *    sub-block reassembly, palette mapping), AND baseline JPEG (the
  *    full transform path: marker walk, canonical Huffman from DHT,
  *    zigzag run/size AC coding, dequantize + IDCT) are parsed from
  *    scratch (pure JVM), and [[decodeImageStats]] /
  *    [[decodeAudioStats]] / [[decodePngStats]] / [[decodeGifStats]] /
  *    [[decodeJpegStats]] emit genuine pixel/sample statistics
  *    (q151/q152/q164/q169/q170, oracle-checked end to end).
  *  - video carries genuinely COMPRESSED containers too:
  *    [[mjpegFromText]] concatenates complete baseline JPEGs and
  *    [[Codecs.decodeJpegStream]] re-discovers frame boundaries by
  *    marker parsing (q181/q182, oracle-checked); [[flcFromText]] /
  *    [[graft.multimodal.Flc]] is REAL INTER-FRAME compression —
  *    DELTA_FLC packets reconstructed against a persistent frame
  *    buffer (q185/q186, oracle-checked).
  *  - the MP3 CONTAINER layer is real: [[mp3FromText]] /
  *    [[Codecs.decodeMp3Stream]] synthesize and frame-sync-walk
  *    genuine MPEG-1 Layer III streams (ID3v2 syncsafe skip, header
  *    table lookups, slot-count frame lengths — q199, oracle-checked),
  *    the audio analogue of the MJPEG marker walk.
  *  - the H.264 CONTAINER layer is real too: [[h264FromText]] /
  *    [[Codecs.decodeH264Stream]] synthesize and walk genuine Annex-B
  *    streams (start-code scan, NAL-header validation,
  *    emulation-prevention escaping, full Exp-Golomb SPS parse, and
  *    the slice HEADER — slice_type and the SPS-width frame_num —
  *    q204/q205/q207/q209, oracle-checked), the video analogue of the
  *    MP3 frame-sync walk.
  *  - `decodeStub` for the PERCEPTUAL payload layers only, for BOTH
  *    remaining formats (MP3's Huffman spectral decode +
  *    psychoacoustic synthesis filterbank; H.264's CAVLC/CABAC
  *    entropy coding, prediction, and loop filter — its inter-frame
  *    prediction STRUCTURE is covered by the FLC tier): no codec
  *    libraries exist in
  *    this container and those codecs are out of from-scratch scope,
  *    so their payloads get byte-level metadata only (length, first
  *    byte, digest). Swapping in a real codec replaces only the
  *    function body — the PNG/GIF/JPEG/FLAC/MJPEG/FLC/ADPCM tiers
  *    prove it: same plan shape (scan → per-partition batch transform
  *    → typed output), real compressed containers.
  */
object Multimodal {

  /** A media row: opaque payload + envelope metadata. */
  case class MediaRow(media_id: Long, media_type: String, content: Array[Byte])

  /** Decoded (stub) features. With a real codec, width/height/duration
    * come from the payload header; here they are deterministic functions
    * of the bytes so tests and oracles can predict them.
    */
  case class MediaMeta(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      first_byte: Int,
      content_md5: String)

  /** STUB decode: deterministic byte-level features standing in for a real
    * codec. Runs per-partition over iterator batches — the Scala analog of
    * a vectorized (mapInPandas-style) UDF: one JVM-side loop per partition,
    * no per-row closure dispatch overhead in the hot path beyond the row
    * itself.
    */
  def decodeStub(rows: Iterator[MediaRow]): Iterator[MediaMeta] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { r =>
      val bytes = if (r.content == null) Array.emptyByteArray else r.content
      md.reset()
      val digest = md.digest(bytes).map("%02x".format(_)).mkString
      MediaMeta(
        media_id = r.media_id,
        media_type = r.media_type,
        n_bytes = bytes.length.toLong,
        first_byte = if (bytes.isEmpty) -1 else bytes(0) & 0xFF,
        content_md5 = digest)
    }
  }

  /** Typed per-partition decode over a media Dataset. */
  def extractMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(decodeStub)
  }

  /** Deterministic frame-sampling plan for a video payload: byte offsets of
    * every `stride`-th frame given a (stubbed) fixed frame size. Pure
    * arithmetic on metadata — real decoders replace offset math with
    * container parsing, the plan stays a per-row generator.
    */
  def frameOffsets(nBytes: org.apache.spark.sql.Column, frameSize: Int, stride: Int):
      org.apache.spark.sql.Column = {
    val allFrames =
      when(nBytes >= frameSize,
        transform(sequence(lit(0L), (nBytes / frameSize).cast("long") - 1),
          i => i * frameSize))
        .otherwise(array().cast("array<bigint>"))
    filter(allFrames, off => (off / frameSize) % stride === 0)
  }

  /** Build a media table from any text corpus (UTF-8 payloads) — the test
    * harness for the plumbing while real binaries are unavailable.
    */
  def mediaFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col(idCol).cast("long").as("media_id"),
      lit("text/plain").as("media_type"),
      encode(col(textCol), "UTF-8").as("content"))
      .as[MediaRow]
  }

  /** Real decoded-image statistics (one row per image). */
  case class ImageStats(media_id: Long, width: Int, height: Int,
      n_pixels: Long, sum_channel: Long, sum_channel_sq: Long,
      max_channel: Int, mean_channel: Double)

  /** Real decoded-audio statistics (one row per clip); duration comes
    * from the sample count and the rate/channels READ FROM the parsed
    * header, so a mis-decoded fmt chunk shows up as a wrong duration.
    */
  case class AudioStats(media_id: Long, n_samples: Long, duration_ms: Long,
      sum_sample: Long, min_sample: Long, max_sample: Long)

  // The synthesis contract shared by the binary harnesses and the
  // DuckDB oracles: a text's ASCII SUB-STREAM — in UTF-8 the bytes
  // ≤ 0x7F are exactly the ASCII characters' code points in order
  // (multi-byte sequences only use bytes ≥ 0x80), so the byte filter
  // here equals the oracle's per-character `ord(c) BETWEEN 0 AND 127`.
  private[multimodal] def asciiBytes(t: String): Array[Byte] =
    t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .filter(b => (b & 0x80) == 0)

  // A text's image: its ASCII sub-stream as the RGB plane of a
  // 16-pixel-wide image, height ceil(n/48) (at least 1), zero-padded.
  private def textPlane(t: String): (Int, Array[Byte]) = {
    val ascii = asciiBytes(t)
    val h = math.max(1, (ascii.length + 47) / 48)
    (h, java.util.Arrays.copyOf(ascii, 16 * h * 3))
  }

  /** REAL P6 PPM payloads synthesized deterministically from text: the
    * ASCII sub-stream becomes the RGB plane of a 16-pixel-wide image
    * (height = ceil(n/48), zero-padded) — so the decoded pixel
    * statistics are predictable from the source text by a second
    * engine, while the bytes on the wire are a genuine Netpbm file.
    */
  def imagesFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (h, plane) = textPlane(t)
        MediaRow(id, "image/x-portable-pixmap",
          Codecs.encodePpm(16, h, 255, plane))
      })
  }

  /** REAL PCM WAV payloads from text: sample i is an affine map of the
    * i-th ASCII code ((c − 64) · 256 — signed, exercising the
    * little-endian 16-bit encode/decode), mono at 8 kHz.
    */
  def wavFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val samples = asciiBytes(t).map(b => ((b - 64) * 256).toShort)
        MediaRow(id, "audio/wav", Codecs.encodeWav(1, 8000, samples))
      })
  }

  /** Decode P6 PPM payloads (REAL parse — [[Codecs.decodePpm]]) and
    * emit per-image pixel statistics: dimensions from the parsed
    * header, channel sum / sum-of-squares / max / mean over the raw
    * plane. Per-partition, shuffle-free — the binary → features plan.
    */
  private def imageStatsOf(id: Long, img: Codecs.PpmImage): ImageStats = {
    var sum = 0L; var sumSq = 0L; var mx = 0; var i = 0
    while (i < img.pixels.length) {
      val v = img.pixels(i) & 0xFF
      sum += v; sumSq += v.toLong * v; if (v > mx) mx = v
      i += 1
    }
    val n = img.width.toLong * img.height
    ImageStats(id, img.width, img.height, n, sum, sumSq, mx,
      sum.toDouble / (3.0 * n))
  }

  def decodeImageStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      imageStatsOf(r.media_id, Codecs.decodePpm(r.content))))
  }

  /** REAL PNG payloads synthesized deterministically from text: the
    * SAME pixel contract as [[imagesFromText]] (ASCII sub-stream as a
    * 16-wide RGB plane), but shipped as a genuine COMPRESSED container
    * — DEFLATE-compressed, five-filter-cycled, CRC-protected,
    * multi-IDAT PNG ([[Codecs.encodePng]]). Because the pixels are
    * identical, the q151 oracle predicts every decoded field without
    * change: the container changed, the decoded truth didn't — which
    * is exactly what makes a codec swap safe to verify.
    */
  def pngFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (h, plane) = textPlane(t)
        MediaRow(id, "image/png", Codecs.encodePng(16, h, plane))
      })
  }

  /** Decode PNG payloads (REAL compressed parse — [[Codecs.decodePng]]:
    * chunk walk, CRC checks, Inflater, un-filtering) and emit the same
    * per-image pixel statistics as [[decodeImageStats]] — the shared
    * stats kernel is container-agnostic by construction.
    */
  def decodePngStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      imageStatsOf(r.media_id, Codecs.decodePng(r.content))))
  }

  /** REAL GIF payloads synthesized deterministically from text: the
    * ASCII sub-stream becomes the PALETTE-INDEX plane of a 16-wide
    * image (height = ceil(n/16), zero-padded) over the 256-entry
    * grayscale table, LZW-compressed into a genuine GIF89a container
    * ([[Codecs.encodeGif]] — variable-width codes, clear/EOI, sub-
    * blocks). Grayscale palette ⇒ each decoded RGB channel equals the
    * source code, so every statistic is a pure function of the text a
    * second engine can compute.
    */
  def gifFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        // cap at 16*65535 codes: the GIF header's height field is
        // 16-bit, so longer docs would overflow it — truncate
        // deterministically (the oracle slices identically)
        val raw = asciiBytes(t)
        val ascii = if (raw.length > 16 * 65535)
          java.util.Arrays.copyOf(raw, 16 * 65535) else raw
        val h = math.max(1, (ascii.length + 15) / 16)
        val plane = java.util.Arrays.copyOf(ascii, 16 * h)
        MediaRow(id, "image/gif", Codecs.encodeGif(16, h, plane))
      })
  }

  /** Decode GIF payloads (REAL LZW parse — [[Codecs.decodeGif]]) into
    * the shared container-agnostic stats kernel.
    */
  def decodeGifStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      imageStatsOf(r.media_id, Codecs.decodeGif(r.content))))
  }

  /** REAL baseline JPEG payloads synthesized deterministically from
    * text: code i becomes one CONSTANT 8x8 block of an 8-wide grayscale
    * image (height = 8·max(1, n)), Huffman-entropy-coded through the
    * full transform path ([[Codecs.encodeJpeg]] — FDCT, zigzag,
    * run/size AC coding, byte stuffing). A constant block's DCT is
    * DC-only, and with the all-ones quantization table the DC
    * quantizes losslessly — so the decode round-trips EXACTLY and a
    * second engine predicts every pixel statistic from the text, while
    * the bytes on the wire exercise genuine JPEG entropy coding (DC
    * prediction across blocks makes consecutive-code deltas real).
    */
  def jpegFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        // cap at 8191 codes: height = 8·nb must fit encodeJpeg's
        // 16-bit dimension fields — truncate deterministically (the
        // oracle slices identically)
        val raw = asciiBytes(t)
        val codes = if (raw.length > 8191)
          java.util.Arrays.copyOf(raw, 8191) else raw
        val nb = math.max(1, codes.length)
        val gray = new Array[Byte](64 * nb)
        var i = 0
        while (i < codes.length) {
          java.util.Arrays.fill(gray, 64 * i, 64 * (i + 1), codes(i))
          i += 1
        }
        MediaRow(id, "image/jpeg", Codecs.encodeJpeg(8, 8 * nb, gray))
      })
  }

  /** Decode baseline JPEG payloads (REAL transform-codec parse —
    * [[Codecs.decodeJpeg]]: marker walk, canonical Huffman from DHT,
    * dequantize, IDCT) into the shared container-agnostic stats
    * kernel; the grayscale plane arrives triplicated to RGB, so the
    * stats algebra matches the GIF gray-palette contract.
    */
  def decodeJpegStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      imageStatsOf(r.media_id, Codecs.decodeJpeg(r.content))))
  }

  /** A 64-bit difference-hash (dHash) of a decoded image, carried as two
    * 32-bit halves so a second engine can rebuild it without 1<<63
    * signed-overflow hazards: `hash_hi` holds grid rows 0–3, `hash_lo`
    * rows 4–7, bit index (row%4)*8 + col within each half.
    */
  case class ImageDHash(media_id: Long, width: Int, height: Int,
      hash_hi: Long, hash_lo: Long)

  /** Perceptual image fingerprint over REALLY DECODED pixels: parse the
    * PPM ([[Codecs.decodePpm]]), nearest-neighbor-resample the gray
    * plane (per-pixel channel sum — integer-exact, no division) to the
    * classic 9×8 dHash grid (sampled pixel for grid (r,c) is
    * (r·h/8, c·w/9), floor division — well-defined for any h,w ≥ 1),
    * and set bit (r,c) iff gray(r,c) < gray(r,c+1). The image-corpus
    * analog of [[graft.ops.TextDedup.simhashPairs]]'s text sketch:
    * near-identical images (recompressed, lightly edited) land within a
    * few bits. Per-partition, shuffle-free — the hash rides the decode
    * scan at 100 TB.
    */
  def decodeImageDHash(media: Dataset[MediaRow]): Dataset[ImageDHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { row =>
      val img = Codecs.decodePpm(row.content)
      val w = img.width; val h = img.height
      def gray(y: Int, x: Int): Int = {
        val base = (y * w + x) * 3
        (img.pixels(base) & 0xFF) + (img.pixels(base + 1) & 0xFF) +
          (img.pixels(base + 2) & 0xFF)
      }
      var hi = 0L; var lo = 0L
      var r = 0
      while (r < 8) {
        val y = r * h / 8
        var c = 0
        while (c < 8) {
          if (gray(y, c * w / 9) < gray(y, (c + 1) * w / 9)) {
            val bit = (r % 4) * 8 + c
            if (r < 4) hi |= 1L << bit else lo |= 1L << bit
          }
          c += 1
        }
        r += 1
      }
      ImageDHash(row.media_id, w, h, hi, lo)
    })
  }

  /** Image near-dup pairs from dHash halves: 4 bands of 16 bits (the
    * [[graft.ops.TextDedup.simhashPairs]] algebra on the image sketch).
    * By pigeonhole two hashes within hamming distance ≤ 3 agree on at
    * least one of the 4 bands, so for `maxDist` ≤ 3 the banded join is
    * LOSSLESS — the emitted set IS the full hamming-≤maxDist pair set,
    * which is what lets a DuckDB oracle check it by brute force while
    * the engine never materializes n² candidates. All shuffle keys are
    * (int, int) band buckets; hamming verification (two xor+popcount,
    * codegen'd) runs BEFORE the dedup exchange so the candidate stream
    * never hits a shuffle. At corpus scale a degenerate band value
    * (near-constant images) bounds a bucket's fan-out at its population
    * squared — the standing mitigation is the same as SimHash's: more,
    * wider bands re-keyed per corpus, or a df-style cut on template
    * buckets (the q143 maxDf discipline).
    */
  def dhashNearDupPairs(hashes: Dataset[ImageDHash],
      maxDist: Int = 3): DataFrame =
    bandedHammingPairs(hashes.toDF(), "media_id", maxDist)

  /** The banded-hamming pair algebra of [[dhashNearDupPairs]] over ANY
    * (id, hash_hi, hash_lo) sketch relation — image dHash, audio
    * envelope fingerprint, or any future 64-bit perceptual hash share
    * one lossless-at-≤3 blocking kernel, so modality parity is a
    * one-liner, not a re-implementation.
    */
  def bandedHammingPairs(hashesDf: DataFrame, idCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4 bands guarantee recall only for distance <= 3")
    val df = hashesDf.select(col(idCol).as("media_id"),
      col("hash_hi"), col("hash_lo"))
    val bandStructs = array(
      struct(lit(0).as("band"), col("hash_hi").bitwiseAND(65535L).as("bucket")),
      struct(lit(1).as("band"), shiftright(col("hash_hi"), 16).as("bucket")),
      struct(lit(2).as("band"), col("hash_lo").bitwiseAND(65535L).as("bucket")),
      struct(lit(3).as("band"), shiftright(col("hash_lo"), 16).as("bucket")))
    val banded = df.select(col("media_id").as("id"), col("hash_hi"),
        col("hash_lo"), explode(bandStructs).as("bk"))
      .select(col("id"), col("hash_hi"), col("hash_lo"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (bit_count(col("a.hash_hi").bitwiseXOR(col("b.hash_hi"))) +
         bit_count(col("a.hash_lo").bitwiseXOR(col("b.hash_lo"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /** REAL multi-frame video payloads from text: a concatenated-P6 image
    * stream (each frame a complete 16×1 P6 file over one 48-code slice
    * of the ASCII sub-stream, zero-padded) — the MJPEG shape for the
    * uncompressed Netpbm family, so frame boundaries are discovered by
    * PARSING successive headers, not assumed.
    */
  def videoFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (nf, plane) = textPlane(t) // one 16x1 frame per row
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < nf) {
          out.write(Codecs.encodePpm(16, 1, 255,
            java.util.Arrays.copyOfRange(plane, f * 48, f * 48 + 48)))
          f += 1
        }
        MediaRow(id, "video/x-ppm-stream", out.toByteArray)
      })
  }

  /** REAL COMPRESSED multi-frame video from text: MJPEG — each frame a
    * complete baseline JPEG over one 6-code slice of the ASCII
    * sub-stream (code j of the slice becomes one CONSTANT 8×8 block of
    * an 8-wide, 48-tall grayscale frame, zero-padded), concatenated
    * back to back. The codec path per frame is [[Codecs.encodeJpeg]]'s
    * genuine FDCT + Huffman entropy coding, frame boundaries are
    * discovered by MARKER PARSING ([[Codecs.decodeJpegStream]]), and —
    * because constant blocks are DC-only and the all-ones quantization
    * is lossless — every decoded statistic stays an exact integer
    * function of the source text that a second engine predicts.
    */
  def mjpegFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val ascii = asciiBytes(t)
        val nf = math.max(1, (ascii.length + 5) / 6)
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < nf) {
          val gray = new Array[Byte](64 * 6)
          var j = 0
          while (j < 6) {
            val from = f * 6 + j
            if (from < ascii.length)
              java.util.Arrays.fill(gray, 64 * j, 64 * (j + 1), ascii(from))
            j += 1
          }
          out.write(Codecs.encodeJpeg(8, 48, gray))
          f += 1
        }
        MediaRow(id, "video/x-motion-jpeg", out.toByteArray)
      })
  }

  /** REAL INTER-FRAME-compressed video from text: FLC — 16×4 palettized
    * frames where frame f replaces ONLY row (f mod 4) with 16-code
    * slice f of the ASCII sub-stream (zero-padded), so every frame
    * after the first is a genuinely SPARSE delta (one row of 64
    * pixels) that [[Flc.encodeFlc]] diffs word-wise into DELTA_FLC
    * packets against the decoder's persistent buffer. The palette is
    * the grayscale identity (index i → (i,i,i)), so the decoded
    * channel sum of frame f is exactly 3·Σ sliceSum(g) for
    * g ∈ [max(0, f−3), f] — rows persist until their residue class
    * next writes — a sliding-window algebra a second engine predicts
    * from the text alone.
    */
  def flcFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    val palette = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      palette(3 * i) = i.toByte; palette(3 * i + 1) = i.toByte
      palette(3 * i + 2) = i.toByte
      i += 1
    }
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        // cap at 16*65535 codes: the FLIC header's frame count is
        // 16-bit, so longer docs would overflow it — truncate
        // deterministically (the oracle slices identically)
        val raw = asciiBytes(t)
        val ascii = if (raw.length > 16 * 65535)
          java.util.Arrays.copyOf(raw, 16 * 65535) else raw
        val nf = math.max(1, (ascii.length + 15) / 16)
        val frames = new Array[Array[Byte]](nf)
        var f = 0
        while (f < nf) {
          val plane =
            if (f == 0) new Array[Byte](64)
            else java.util.Arrays.copyOf(frames(f - 1), 64)
          val row = f % 4
          val from = f * 16
          val n = math.max(0, math.min(16, ascii.length - from))
          java.util.Arrays.fill(plane, 16 * row, 16 * (row + 1), 0.toByte)
          if (n > 0) System.arraycopy(ascii, from, plane, 16 * row, n)
          frames(f) = plane
          f += 1
        }
        MediaRow(id, "video/x-flc",
          Flc.encodeFlc(16, 4, palette, frames.toSeq))
      })
  }

  /** Per-video decoded statistics with a REAL frame-sampling plan: every
    * `stride`-th frame's channel sum, alongside whole-stream totals —
    * the sample-frames-for-a-VLM shape with the decode riding the scan.
    */
  case class VideoStats(media_id: Long, n_frames: Long, n_pixels: Long,
      sum_channel: Long, sampled_frames: Long, sampled_sum: Long)

  def decodeVideoStats(media: Dataset[MediaRow], stride: Int = 4,
      decoder: Array[Byte] => IndexedSeq[Codecs.PpmImage] =
        Codecs.decodePpmStream): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val frames = decoder(r.content)
      var px = 0L; var sum = 0L; var sSum = 0L; var sN = 0L
      var f = 0
      while (f < frames.length) {
        val img = frames(f)
        var s = 0L; var i = 0
        while (i < img.pixels.length) { s += img.pixels(i) & 0xFF; i += 1 }
        px += img.width.toLong * img.height
        sum += s
        if (f % stride == 0) { sSum += s; sN += 1 }
        f += 1
      }
      VideoStats(r.media_id, frames.length.toLong, px, sum, sN, sSum)
    })
  }

  /** Scene-cut detection over REALLY DECODED frames: adjacent-frame
    * absolute channel-sum delta above `threshold` marks a cut — the
    * shot-segmentation primitive a video training pipeline samples
    * around. Per-partition, map-only; emits per-video cut statistics.
    */
  case class SceneCuts(media_id: Long, n_frames: Long, n_cuts: Long,
      max_delta: Long)

  def detectSceneCuts(media: Dataset[MediaRow],
      threshold: Long = 1000L,
      decoder: Array[Byte] => IndexedSeq[Codecs.PpmImage] =
        Codecs.decodePpmStream): Dataset[SceneCuts] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val frames = decoder(r.content)
      var prev = 0L; var cuts = 0L; var maxD = 0L
      var f = 0
      while (f < frames.length) {
        val img = frames(f)
        var s = 0L; var i = 0
        while (i < img.pixels.length) { s += img.pixels(i) & 0xFF; i += 1 }
        if (f > 0) {
          val d = math.abs(s - prev)
          if (d > maxD) maxD = d
          if (d > threshold) cuts += 1
        }
        prev = s
        f += 1
      }
      SceneCuts(r.media_id, frames.length.toLong, cuts, maxD)
    })
  }

  /** A 64-bit waveform-envelope fingerprint of a decoded clip, split in
    * two 32-bit halves like [[ImageDHash]] (bit b < 32 in `hash_hi` at
    * position b, b ≥ 32 in `hash_lo` at b−32).
    */
  case class AudioFingerprint(media_id: Long, n_samples: Long,
      hash_hi: Long, hash_lo: Long)

  /** Audio fingerprint over REALLY DECODED samples: parse the WAV
    * ([[Codecs.decodeWav]]), probe the magnitude envelope at 65
    * nearest-neighbor positions (sample (b·n/65), floor division —
    * well-defined for any n ≥ 1), and set bit b iff |s(b)| < |s(b+1)| —
    * the waveform analog of the image dHash: a re-encoded or slightly
    * edited clip lands within a few bits, and an exact duplicate
    * collides. Empty clips hash to zero. Map-only; rides the decode
    * scan at 100 TB.
    */
  def decodeAudioFingerprint(
      media: Dataset[MediaRow]): Dataset[AudioFingerprint] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val wav = Codecs.decodeWav(r.content)
      val n = wav.samples.length
      var hi = 0L; var lo = 0L
      if (n >= 1) {
        // Long arithmetic: b*n overflows Int past ~33.5M samples
        // (~12 min at 44.1 kHz), which a media lake will contain.
        def mag(b: Int): Int = math.abs(wav.samples((b.toLong * n / 65).toInt).toInt)
        var b = 0
        while (b < 64) {
          if (mag(b) < mag(b + 1)) {
            if (b < 32) hi |= 1L << b else lo |= 1L << (b - 32)
          }
          b += 1
        }
      }
      AudioFingerprint(r.media_id, n.toLong, hi, lo)
    })
  }

  /** Per-clip screening features over REALLY DECODED samples: zero
    * crossings (sign flips between adjacent samples — the classic
    * voice-activity / noise screen), peak magnitude, and summed
    * magnitude (integer energy proxy) — all exact integers, so a
    * second engine reproduces them bit-for-bit from the synthesis
    * contract. The audio analog of the q23 text-quality screen.
    */
  case class AudioFeatures(media_id: Long, n_samples: Long,
      zero_crossings: Long, peak: Long, sum_abs: Long)

  def decodeAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val wav = Codecs.decodeWav(r.content)
      var zc = 0L; var peak = 0L; var sumAbs = 0L
      var i = 0
      while (i < wav.samples.length) {
        val v = wav.samples(i).toLong
        val a = math.abs(v)
        if (a > peak) peak = a
        sumAbs += a
        if (i > 0 && (wav.samples(i - 1) >= 0) != (v >= 0)) zc += 1
        i += 1
      }
      AudioFeatures(r.media_id, wav.samples.length.toLong, zc, peak, sumAbs)
    })
  }

  /** The shared per-clip sample-statistics kernel — container-agnostic
    * over the decoded [[Codecs.WavAudio]], so every audio consumer
    * (WAV chunk walk, FLAC frame decode) emits identical truth.
    */
  private def audioStatsOf(id: Long, wav: Codecs.WavAudio): AudioStats = {
    var sum = 0L; var mn = 0L; var mx = 0L; var i = 0
    if (wav.samples.nonEmpty) { mn = Long.MaxValue; mx = Long.MinValue }
    while (i < wav.samples.length) {
      val v = wav.samples(i).toLong
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    val n = wav.samples.length.toLong
    AudioStats(id, n, n * 1000L / (wav.sampleRate.toLong * wav.channels),
      sum, mn, mx)
  }

  /** Decode RIFF/WAVE PCM payloads (REAL chunk walk —
    * [[Codecs.decodeWav]]) and emit per-clip sample statistics.
    */
  def decodeAudioStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      audioStatsOf(r.media_id, Codecs.decodeWav(r.content))))
  }

  /** REAL FLAC payloads from text: the SAME sample contract as
    * [[wavFromText]] (sample i = (code_i − 64)·256, mono 8 kHz), but
    * shipped LOSSLESSLY COMPRESSED — fixed-predictor subframes with
    * Rice-coded residuals, CRC-protected frames, STREAMINFO MD5
    * ([[Codecs.encodeFlac]]). Because FLAC is lossless, the q152
    * oracle predicts every decoded field without change: the
    * container changed, the decoded truth didn't.
    */
  def flacFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val samples = asciiBytes(t).map(b => ((b - 64) * 256).toShort)
        MediaRow(id, "audio/flac", Codecs.encodeFlac(8000, samples))
      })
  }

  /** REAL LOSSY-compressed audio from text: IMA ADPCM
    * ([[Codecs.encodeWavAdpcm]] — 4-bit adaptive delta nibbles, block
    * headers, `fact` chunk, format tag 0x0011). Each ASCII code
    * becomes ONE FULL BLOCK of 505 equal samples at the q152 amplitude
    * contract ((code − 64)·256): a constant block encodes as
    * zero-difference nibbles at step index 0 where the quantized delta
    * is exactly 0, so this particular signal round-trips LOSSLESSLY
    * through the genuinely lossy 4:1 wire format — the DC-only-JPEG
    * discipline for audio — and the oracle predicts every decoded
    * statistic from the text.
    */
  def adpcmFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val codes = asciiBytes(t)
        val spb = 505 // (256 - 4) * 2 + 1 at the default block align
        val samples = new Array[Short](codes.length * spb)
        var i = 0
        while (i < codes.length) {
          val v = ((codes(i) - 64) * 256).toShort
          var j = 0
          while (j < spb) { samples(i * spb + j) = v; j += 1 }
          i += 1
        }
        MediaRow(id, "audio/x-ima-adpcm", Codecs.encodeWavAdpcm(8000, samples))
      })
  }

  /** Structurally-genuine MP3 streams from text: a per-document ID3v2
    * tag whose declared (syncsafe) size is id-derived — (id·37) mod 300
    * crosses the 7-bit byte boundary, so multi-byte syncsafe decoding
    * is exercised — then one MPEG-1 Layer III frame per 16-code ASCII
    * slice (≥ 1), each frame's bitrate index / padding bit derived
    * from the slice's code sum so the walk is text-coupled:
    * bi = 1 + (csum + f) mod 14, pad = (csum + id) mod 2, sample rate
    * = table[id mod 3]. Every structural field (sync, version/layer
    * bits, table indices, slot count) is real wire format
    * ([[Codecs.encodeMp3Stream]]); only the payload bytes are filler —
    * the payload DECODE (Huffman spectral data, synthesis filterbank)
    * is the perceptual side that stays stubbed.
    */
  def mp3FromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val codes = asciiBytes(t)
        val nf = math.max(1, (codes.length + 15) / 16)
        val frames = (0 until nf).map { f =>
          var csum = 0L
          var j = f * 16
          while (j < math.min((f + 1) * 16, codes.length)) {
            csum += codes(j); j += 1
          }
          (1 + ((csum + f) % 14).toInt, (id % 3).toInt,
            ((csum + id) % 2).toInt)
        }
        MediaRow(id, "audio/mpeg",
          Codecs.encodeMp3Stream(frames, ((id * 37) % 300).toInt))
      })
  }

  /** MP3 streams whose ID3v2.3 tags carry REAL text frames — planted
    * deterministically from the document row (TIT2 = "doc <id>",
    * TPE1 = lang, TALB = source, (id mod 7)·3 bytes of padding), over
    * two id-derived audio frames. The tag is genuine wire format
    * ([[Codecs.encodeId3Frames]]): big-endian v2.3 frame sizes, flag
    * bytes, and a PER-FRAME id-derived text encoding — TIT2 goes
    * UTF-16 (0x01, BOM) when id mod 5 = 0, TPE1 when id mod 2 = 1,
    * TALB when id mod 3 = 0, ISO-8859-1 (0x00) otherwise — so both
    * v2.3 text encodings are live at every SF and parsing the tag back
    * is real metadata extraction, not an echo. The encoder's contracts
    * stay loud: a non-Latin-1 character in an ISO frame or a surrogate
    * in a UTF-16 frame fails the encode rather than substituting.
    */
  def mp3TaggedFromDocs(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col("lang"), lit("")).as("lang"),
        coalesce(col("source"), lit("")).as("source"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, source) =>
        val u16: Set[String] =
          (if (id % 5 == 0) Set("TIT2") else Set.empty[String]) ++
            (if (id % 2 == 1) Set("TPE1") else Set.empty[String]) ++
            (if (id % 3 == 0) Set("TALB") else Set.empty[String])
        val tag = Codecs.encodeId3Frames(
          Seq("TIT2" -> s"doc $id", "TPE1" -> lang, "TALB" -> source),
          padding = (id % 7).toInt * 3, utf16 = u16)
        val bi = 1 + (id % 14).toInt
        val fr = (bi, (id % 3).toInt, (id % 2).toInt)
        MediaRow(id, "audio/mpeg",
          Codecs.encodeMp3Stream(Seq(fr, fr), id3Payload = tag))
      })
  }

  case class Mp3Tags(media_id: Long, tag_bytes: Long, n_tag_frames: Long,
      title: String, artist: String, album: String, n_audio_frames: Long,
      total_bytes: Long)

  /** Extract the tag metadata AND walk the audio frames of tagged MP3
    * streams — the two container layers read by one pass each
    * ([[Codecs.decodeId3TextFrames]] walks frame ids/sizes/encodings;
    * [[Codecs.decodeMp3Stream]] re-derives the audio frame boundaries).
    */
  def mp3ExtractTags(media: Dataset[MediaRow]): Dataset[Mp3Tags] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val frames = Codecs.decodeId3TextFrames(r.content)
      val tags = frames.toMap
      val s = Codecs.decodeMp3Stream(r.content)
      Mp3Tags(r.media_id, s.id3Bytes.toLong, frames.size.toLong,
        tags.getOrElse("TIT2", ""), tags.getOrElse("TPE1", ""),
        tags.getOrElse("TALB", ""), s.frames.size.toLong,
        r.content.length.toLong)
    })
  }

  case class Mp3Census(media_id: Long, id3_bytes: Long, n_frames: Long,
      total_bytes: Long, max_frame_len: Long, n_padded: Long,
      last_offset: Long, sum_kbps: Long)

  /** The frame census of REALLY WALKED MP3 streams
    * ([[Codecs.decodeMp3Stream]] — sync verification, header-table
    * lookups, ID3v2 syncsafe skip): per stream, the consumed tag size,
    * frame count, byte totals, the padded-frame count, the last
    * frame's byte offset, and the summed bitrate column — every field
    * an exact integer a second engine predicts from the header tables
    * alone. A mis-walked sync, a wrong table row, or an off-by-one in
    * the padding arithmetic shifts an offset and hash-mismatches.
    *
    * A structurally valid stream with ZERO audio frames (tag-only, or
    * empty input) is a stated contract, not a crash: every frame field
    * reads zero (n_frames = 0 disambiguates last_offset = 0 from a
    * real frame at offset 0), so the quarantine tier never mistakes a
    * frame-less-but-valid stream for a corrupt one.
    */
  def mp3FrameCensus(media: Dataset[MediaRow]): Dataset[Mp3Census] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val s = Codecs.decodeMp3Stream(r.content)
      Mp3Census(
        media_id = r.media_id,
        id3_bytes = s.id3Bytes.toLong,
        n_frames = s.frames.size.toLong,
        total_bytes = r.content.length.toLong,
        max_frame_len =
          if (s.frames.isEmpty) 0L else s.frames.map(_.length).max.toLong,
        n_padded = s.frames.count(_.padding == 1).toLong,
        last_offset =
          if (s.frames.isEmpty) 0L else s.frames.last.offset.toLong,
        sum_kbps = s.frames.map(_.bitrateKbps.toLong).sum)
    })
  }

  /** MP3's format-specific corruption class (the q184 discipline —
    * every container's planted corruption violates ITS OWN wire
    * format): for media_id % 13 == 0, the FIRST frame header's bitrate
    * index is overwritten with the forbidden value 15 (ISO/IEC 11172-3
    * reserves it), which [[Codecs.decodeMp3Stream]]'s table validation
    * must reject. The corrupter walks the ID3v2 header itself to find
    * the first frame — container knowledge, like corruptMixed's SOF0
    * scan.
    */
  def corruptMp3(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      if (r.media_id % 13 != 0) r
      else {
        val b = r.content.clone()
        var off = 0
        if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
          off = 10 + (((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
            ((b(8) & 0x7F) << 7) | (b(9) & 0x7F))
        if (off + 2 >= b.length) throw new IllegalArgumentException(
          s"media ${r.media_id}: no frame header to corrupt")
        b(off + 2) = (b(off + 2) | 0xF0).toByte // bitrate index -> 15
        MediaRow(r.media_id, r.media_type, b)
      }
    }
  }

  case class TriedMp3Census(media_id: Long, decode_ok: Long,
      id3_bytes: Long, n_frames: Long, total_bytes: Long,
      max_frame_len: Long, n_padded: Long, last_offset: Long,
      sum_kbps: Long)

  /** The MP3 census with quarantine semantics: a stream whose walk
    * fails (lost sync, forbidden table index, truncation, trailing
    * bytes) becomes a zeroed `decode_ok = 0` row — q178/q184's
    * never-crash production contract extended to the fifth container.
    */
  def tryMp3Census(media: Dataset[MediaRow]): Dataset[TriedMp3Census] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        // same frame-less contract as [[mp3FrameCensus]]: a tag-only
        // stream is decode_ok = 1 with zeroed frame fields — quarantine
        // is for wire-format violations, never for a valid empty walk
        val s = Codecs.decodeMp3Stream(r.content)
        TriedMp3Census(r.media_id, 1L, s.id3Bytes.toLong,
          s.frames.size.toLong, r.content.length.toLong,
          if (s.frames.isEmpty) 0L else s.frames.map(_.length).max.toLong,
          s.frames.count(_.padding == 1).toLong,
          if (s.frames.isEmpty) 0L else s.frames.last.offset.toLong,
          s.frames.map(_.bitrateKbps.toLong).sum)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedMp3Census(r.media_id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  // ------------------------- Layer III side info (§2.4.1.7, r16)

  /** Streams whose frames carry REAL side-info blocks, every field an
    * id/frame-derived mod value the oracle reprices: main_data_begin
    * (id·7 + f·3 mod 512), scfsi (id + f mod 16), and per granule g
    * the part2_3_length (id·31 + f·17 + g·911 mod 4096), big_values
    * (id·5 + f·11 + g·7 mod 289 — the spec ceiling is 288), gains,
    * table selects, and region counts. `lieBigValues` plants
    * big_values = 289 in frame 0 granule 0 of ids ≡ 0 (mod 13) —
    * a value only the side-info range check can reject (the frame
    * walk, sync words, and lengths all stay pristine).
    */
  def mp3SiFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, lieBigValues: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val n = asciiBytes(t).length
        val nf = math.max(1, (n + 15) / 16)
        val frames = (0 until nf).map { f =>
          val hdr = (1 + ((id + f) % 14).toInt, (id % 3).toInt, f % 2)
          val gs = Vector.tabulate(2) { g =>
            val bv0 = ((id * 5 + f * 11 + g * 7) % 289).toInt
            val bv = if (lieBigValues && id % 13 == 0 && f == 0 && g == 0)
              289 else bv0
            Codecs.Mp3Granule(
              part23Length = ((id * 31 + f * 17 + g * 911) % 4096).toInt,
              bigValues = bv,
              globalGain = ((id + f * 29 + g * 13) % 256).toInt,
              scalefacCompress = ((f + g) % 16),
              windowSwitching = 0, blockType = 0,
              tableSelect = Vector.tabulate(3)(k =>
                ((id + f + g + k) % 32).toInt),
              region0 = (f + g) % 16,
              region1 = ((id + g) % 8).toInt,
              preflag = (f + g) % 2,
              scalefacScale = g,
              count1Table = ((id + f) % 2).toInt)
          }
          (hdr, Codecs.Mp3SideInfo(
            mainDataBegin = ((id * 7 + f * 3) % 512).toInt,
            scfsi = ((id + f) % 16).toInt, granules = gs))
        }
        MediaRow(id, "audio/mpeg",
          Codecs.encodeMp3StreamSi(frames, ((id * 37) % 300).toInt))
      })
  }

  case class Mp3SiCensus(media_id: Long, n_frames: Long,
      sum_main_data_begin: Long, sum_scfsi: Long, sum_part23: Long,
      sum_big_values: Long, sum_global_gain: Long, sum_table_select: Long,
      sum_region0: Long, n_preflag: Long, max_part23: Long,
      total_bytes: Long)

  /** Per-stream census of the side-info layer: bit-reservoir pointers,
    * scale-factor selection, and every granule's Huffman partition
    * fields summed — each priced by the oracle from the id/frame mod
    * arithmetic, so one mis-read bit anywhere in the 136-bit layout
    * shifts a sum.
    */
  def mp3SideInfoCensus(media: Dataset[MediaRow]): Dataset[Mp3SiCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val walked = Codecs.mp3SideInfos(r.content)
      val gs = walked.flatMap(_._2.granules)
      Mp3SiCensus(r.media_id, walked.size.toLong,
        walked.iterator.map(_._2.mainDataBegin.toLong).sum,
        walked.iterator.map(_._2.scfsi.toLong).sum,
        gs.iterator.map(_.part23Length.toLong).sum,
        gs.iterator.map(_.bigValues.toLong).sum,
        gs.iterator.map(_.globalGain.toLong).sum,
        gs.iterator.map(_.tableSelect.map(_.toLong).sum).sum,
        gs.iterator.map(_.region0.toLong).sum,
        gs.count(_.preflag == 1).toLong,
        gs.iterator.map(_.part23Length.toLong).max,
        r.content.length.toLong)
    })
  }

  case class TriedMp3SiCensus(media_id: Long, decode_ok: Long,
      n_frames: Long, sum_part23: Long, sum_big_values: Long,
      total_bytes: Long)

  /** Side-info quarantine: an out-of-range big_values (the §2.4.1.7
    * ceiling) quarantines THAT stream with zeroed stats; the frame
    * walk alone cannot catch it — only this layer can.
    */
  def tryMp3SideInfoCensus(
      media: Dataset[MediaRow]): Dataset[TriedMp3SiCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        val walked = Codecs.mp3SideInfos(r.content)
        val gs = walked.flatMap(_._2.granules)
        TriedMp3SiCensus(r.media_id, 1L, walked.size.toLong,
          gs.iterator.map(_.part23Length.toLong).sum,
          gs.iterator.map(_.bigValues.toLong).sum,
          r.content.length.toLong)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedMp3SiCensus(r.media_id, 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  // --------------------- CAVLC I-frame residuals (§9.2, r16)

  /** Streams whose IDR slice carries REAL macroblock data: per doc a
    * (1 + id mod 8) × (1 + id mod 6) MB picture, every MB an I_16x16
    * CBP-0 block-constant macroblock whose one DC coefficient, zigzag
    * position, prediction modes, and QP delta are id/index-derived mod
    * values the oracle reprices. `lieTz` plants Table 9-7's unassigned
    * all-zeros total_zeros word in MB 0 of ids ≡ 0 (mod 13) — damage
    * only the residual parse can catch.
    */
  def h264IFrameFromText(spark: SparkSession, docs: DataFrame,
      idCol: String, lieTz: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val sps = Codecs.H264Sps(
          profileIdc = Seq(66, 77, 88)((id % 3).toInt),
          levelIdc = 10 + (id % 5).toInt * 10,
          log2MaxFrameNum = 4 + (id % 9).toInt,
          maxNumRefFrames = 1 + (id % 4).toInt,
          widthMbs = 1 + (id % 8).toInt,
          heightMbs = 1 + (id % 6).toInt,
          direct8x8 = (id % 2).toInt)
        val n = sps.widthMbs * sps.heightMbs
        val mbs = (0 until n).map { m =>
          val mag = 1 + ((id * 7 + m) % 7).toInt
          Codecs.H264Mb(
            predMode = ((id + m) % 4).toInt,
            chromaPred = ((id * 3 + m) % 4).toInt,
            qpDelta = ((id + m) % 5).toInt - 2,
            dcLevel = if ((id + m) % 2 == 0) mag else -mag,
            dcTz = ((id * 11 + m * 5) % 16).toInt)
        }
        val lie = if (lieTz && id % 13 == 0) 0 else -1
        MediaRow(id, "video/h264", Codecs.encodeH264IFrameStream(
          sps, idrPicId = (id % 32).toInt,
          sliceQpDelta = ((id % 7) - 3).toInt, mbs, lieTzInMb = lie))
      })
  }

  case class H264MbCensus(media_id: Long, n_mbs: Long, sum_mb_type: Long,
      sum_chroma_pred: Long, sum_qp_delta: Long, n_neg_dc: Long,
      sum_dc_abs: Long, sum_tz: Long, width_mbs: Long, height_mbs: Long)

  /** Per-stream census of the parsed macroblock layer — every field a
    * sum the oracle reprices from the id/index arithmetic; one
    * mis-parsed Exp-Golomb or CAVLC code anywhere shifts a sum.
    */
  def h264MbCensus(media: Dataset[MediaRow]): Dataset[H264MbCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (sps, mbs) = Codecs.decodeH264IFrame(r.content)
      H264MbCensus(r.media_id, mbs.size.toLong,
        mbs.iterator.map(m => (1 + m.predMode).toLong).sum,
        mbs.iterator.map(_.chromaPred.toLong).sum,
        mbs.iterator.map(_.qpDelta.toLong).sum,
        mbs.count(_.dcLevel < 0).toLong,
        mbs.iterator.map(m => math.abs(m.dcLevel).toLong).sum,
        mbs.iterator.map(_.dcTz.toLong).sum,
        sps.widthMbs.toLong, sps.heightMbs.toLong)
    })
  }

  case class TriedH264MbCensus(media_id: Long, decode_ok: Long,
      n_mbs: Long, sum_dc_abs: Long, sum_tz: Long)

  /** Residual-layer quarantine: the invalid total_zeros word throws in
    * the CAVLC parse and zeroes THAT stream's row; the NAL and header
    * layers alone cannot catch it.
    */
  def tryH264MbCensus(
      media: Dataset[MediaRow]): Dataset[TriedH264MbCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        val (_, mbs) = Codecs.decodeH264IFrame(r.content)
        TriedH264MbCensus(r.media_id, 1L, mbs.size.toLong,
          mbs.iterator.map(m => math.abs(m.dcLevel).toLong).sum,
          mbs.iterator.map(_.dcTz.toLong).sum)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedH264MbCensus(r.media_id, 0L, 0L, 0L, 0L)
      }
    })
  }

  /** Structurally-genuine H.264 Annex-B streams from text: per document
    * one SPS (every field id-derived — Baseline/Main/Extended profile
    * by id mod 3, level by id mod 5, log2_max_frame_num 4 + id mod 9,
    * max_num_ref_frames 1 + id mod 4, picture dimensions (1 + id mod
    * 20) × (1 + id mod 15) macroblocks), one minimal PPS, then one
    * slice NAL per 16-code ASCII slice (≥ 1): every 7th an IDR
    * (f mod 7 = 0 — type 5, nal_ref_idc 3, the spec requires it
    * nonzero; periodic keyframes are how real encoders bound seek
    * latency, and they give [[h264IdrIndex]] a genuine GOP structure),
    * the rest non-IDR (type 1) with ref_idc (csum + id) mod 4, payload
    * length 16 + (csum + f) mod 64 — so every NAL boundary is
    * text-coupled.
    * Start codes, NAL headers, and the Exp-Golomb SPS are real wire
    * format ([[Codecs.encodeH264Stream]]); only slice payload bytes are
    * filler — the payload DECODE (CAVLC/CABAC entropy coding,
    * prediction, loop filter) is the perceptual side that stays
    * stubbed, exactly like MP3's spectral data.
    */
  /** Per-frame slice parameters shared by every H.264 synthesis tier:
    * (nal_ref_idc, nal_unit_type, payload bytes, the frame's text
    * checksum — the value later tiers derive per-frame choices from).
    */
  private[multimodal] def h264FrameParams(id: Long,
      codes: Array[Byte]): Seq[(Int, Int, Int, Long)] = {
    val nf = math.max(1, (codes.length + 15) / 16)
    (0 until nf).map { f =>
      var csum = 0L
      var j = f * 16
      while (j < math.min((f + 1) * 16, codes.length)) {
        csum += codes(j); j += 1
      }
      if (f % 7 == 0) (3, 5, 16 + ((csum + f) % 64).toInt, csum)
      else (((csum + id) % 4).toInt, 1, 16 + ((csum + f) % 64).toInt, csum)
    }
  }

  private[multimodal] def h264SpsFor(id: Long): Codecs.H264Sps = {
    val profiles = Array(66, 77, 88)
    val levels = Array(10, 20, 30, 31, 40)
    Codecs.H264Sps(
      profileIdc = profiles((id % 3).toInt),
      levelIdc = levels((id % 5).toInt),
      log2MaxFrameNum = 4 + (id % 9).toInt,
      maxNumRefFrames = 1 + (id % 4).toInt,
      widthMbs = 1 + (id % 20).toInt,
      heightMbs = 1 + (id % 15).toInt,
      direct8x8 = (id % 2).toInt)
  }

  private def h264BytesFor(id: Long, t: String,
      withSei: Boolean): Array[Byte] = {
    val codes = asciiBytes(t)
    val slices = h264FrameParams(id, codes)
      .map { case (r, ty, p, _) => (r, ty, p) }
    val sps = h264SpsFor(id)
    val sei =
      if (!withSei) Nil
      else {
        // payload type exercises BOTH ff-cascade widths (5 =
        // user_data_unregistered for even ids; ≥ 256 for odd ids),
        // and the size range 200..319 crosses the 255 boundary so the
        // size cascade is text-coupled AND two-width
        var total = 0L
        var j = 0
        while (j < codes.length) { total += codes(j); j += 1 }
        Seq((if (id % 2 == 0) 5 else 256 + (id % 100).toInt,
          200 + (total % 120).toInt))
      }
    Codecs.encodeH264Stream(sps, slices, sei)
  }

  def h264FromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        MediaRow(id, "video/h264", h264BytesFor(id, t, withSei = false))
      })
  }

  /** [[h264FromText]] with an id-and-text-derived SEI message between
    * the PPS and the first slice — the supplemental-metadata unit real
    * encoders emit (timing, user data); its payload type and size are
    * FF-CASCADE coded, the one variable-length integer coding in the
    * format that is NOT Exp-Golomb.
    */
  def h264SeiFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        MediaRow(id, "video/h264", h264BytesFor(id, t, withSei = true))
      })
  }

  case class H264SeiCensus(media_id: Long, n_sei: Long, sei_type: Long,
      sei_size: Long, sei_rbsp_bytes: Long, n_nals: Long,
      total_bytes: Long)

  /** The SEI census of really-walked streams: the message's
    * payload-type and payload-size FF-cascades are parsed back
    * byte-for-byte ([[Codecs.decodeH264Stream]] — a dropped 0xFF or a
    * mis-read remainder shifts type, size, AND the declared byte
    * accounting the decoder enforces against the NAL length). Exact
    * integers throughout; map-only.
    */
  def h264SeiCensus(media: Dataset[MediaRow]): Dataset[H264SeiCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val s = Codecs.decodeH264Stream(r.content)
      require(s.sei.size == 1,
        s"media ${r.media_id}: expected one SEI, got ${s.sei.size}")
      val (pt, sz) = s.sei.head
      H264SeiCensus(r.media_id, s.sei.size.toLong, pt.toLong, sz.toLong,
        s.nals.find(_.nalType == 6).map(_.rbspBytes.toLong).getOrElse(0L),
        s.nals.size.toLong, r.content.length.toLong)
    })
  }

  case class H264Census(media_id: Long, n_nals: Long, n_idr: Long,
      n_non_idr: Long, sum_ref_idc: Long, profile_idc: Long,
      level_idc: Long, log2_max_frame_num: Long, width_px: Long,
      height_px: Long, sps_bytes: Long, total_bytes: Long,
      last_offset: Long)

  /** The NAL census of REALLY WALKED Annex-B streams
    * ([[Codecs.decodeH264Stream]] — start-code scan, NAL-header
    * validation, emulation-prevention unescape, full Exp-Golomb SPS
    * parse): per stream the unit counts by type, the summed
    * nal_ref_idc column, every SPS field (dimensions converted to
    * pixels — frame_mbs_only streams are 16 px per map unit), the
    * SPS's RBSP byte count (predictable from the ue(v) bit arithmetic
    * alone), and the byte totals/offsets. A mis-scanned start code, a
    * wrong Exp-Golomb read, or an off-by-one in the escape handling
    * shifts a field and hash-mismatches.
    */
  def h264NalCensus(media: Dataset[MediaRow]): Dataset[H264Census] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val s = Codecs.decodeH264Stream(r.content)
      H264Census(
        media_id = r.media_id,
        n_nals = s.nals.size.toLong,
        n_idr = s.nals.count(_.nalType == 5).toLong,
        n_non_idr = s.nals.count(_.nalType == 1).toLong,
        sum_ref_idc = s.nals.map(_.refIdc.toLong).sum,
        profile_idc = s.sps.profileIdc.toLong,
        level_idc = s.sps.levelIdc.toLong,
        log2_max_frame_num = s.sps.log2MaxFrameNum.toLong,
        width_px = s.sps.widthMbs.toLong * 16L,
        height_px = s.sps.heightMbs.toLong * 16L,
        sps_bytes = s.nals.find(_.nalType == 7).map(_.rbspBytes.toLong)
          .getOrElse(0L),
        total_bytes = r.content.length.toLong,
        last_offset = s.nals.last.offset.toLong)
    })
  }

  /** H.264's format-specific corruption class (the q184/q200
    * discipline — every container's planted corruption violates ITS
    * OWN wire format): for media_id % 13 == 0 the FIRST NAL header's
    * forbidden_zero_bit is set (the spec's own always-zero bit —
    * §7.4.1), which [[Codecs.decodeH264Stream]]'s header validation
    * must reject. The corrupter addresses the header through the
    * 4-byte start code the encoder leads with — container knowledge,
    * like corruptMp3's ID3 walk.
    */
  def corruptH264(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      if (r.media_id % 13 != 0) r
      else {
        val b = r.content.clone()
        if (b.length < 5) throw new IllegalArgumentException(
          s"media ${r.media_id}: no NAL header to corrupt")
        b(4) = (b(4) | 0x80).toByte // forbidden_zero_bit -> 1
        MediaRow(r.media_id, r.media_type, b)
      }
    }
  }

  case class TriedH264Census(media_id: Long, decode_ok: Long,
      n_nals: Long, n_idr: Long, n_non_idr: Long, sum_ref_idc: Long,
      profile_idc: Long, level_idc: Long, log2_max_frame_num: Long,
      width_px: Long, height_px: Long, sps_bytes: Long,
      total_bytes: Long, last_offset: Long)

  /** The NAL census with quarantine semantics: a stream whose walk
    * fails (forbidden bit, reserved NAL type, ref_idc the spec forbids,
    * a bad start code, an SPS parse error) becomes a zeroed
    * `decode_ok = 0` row — the q178/q184/q200 never-crash production
    * contract extended to the sixth container.
    */
  def tryH264Census(media: Dataset[MediaRow]): Dataset[TriedH264Census] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        val c = {
          val s = Codecs.decodeH264Stream(r.content)
          TriedH264Census(r.media_id, 1L, s.nals.size.toLong,
            s.nals.count(_.nalType == 5).toLong,
            s.nals.count(_.nalType == 1).toLong,
            s.nals.map(_.refIdc.toLong).sum,
            s.sps.profileIdc.toLong, s.sps.levelIdc.toLong,
            s.sps.log2MaxFrameNum.toLong, s.sps.widthMbs.toLong * 16L,
            s.sps.heightMbs.toLong * 16L,
            s.nals.find(_.nalType == 7).map(_.rbspBytes.toLong)
              .getOrElse(0L),
            r.content.length.toLong, s.nals.last.offset.toLong)
        }
        c
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedH264Census(r.media_id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
            0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  case class H264SliceCensus(media_id: Long, n_slices: Long, n_i2: Long,
      n_i7: Long, n_p0: Long, n_p5: Long, sum_frame_num: Long,
      max_frame_num: Long)

  /** The SLICE-HEADER census of really-walked streams: slice_type and
    * frame_num are parsed back from each slice NAL's leading
    * Exp-Golomb header ([[Codecs.decodeH264Stream]] — frame_num's bit
    * width comes from the SPS, the cross-NAL dependency of the real
    * format), narrowing the declared stub to the entropy-coded
    * macroblock DATA alone: every header field before it is genuine
    * wire format. Per stream: slice count, the per-type-value counts
    * (I slices 2/7, P slices 0/5 — both members of each legal set are
    * live via the payload-parity choice), and the frame_num sum/max.
    * A mis-read ue(v), a wrong frame_num width, or a slipped bit
    * boundary shifts a count and hash-mismatches. Map-only.
    */
  def h264SliceCensus(media: Dataset[MediaRow]): Dataset[H264SliceCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val s = Codecs.decodeH264Stream(r.content)
      val sl = s.nals.filter(n => n.nalType == 1 || n.nalType == 5)
      H264SliceCensus(
        media_id = r.media_id,
        n_slices = sl.size.toLong,
        n_i2 = sl.count(_.sliceType == 2).toLong,
        n_i7 = sl.count(_.sliceType == 7).toLong,
        n_p0 = sl.count(_.sliceType == 0).toLong,
        n_p5 = sl.count(_.sliceType == 5).toLong,
        sum_frame_num = sl.map(_.frameNum.toLong).sum,
        max_frame_num = sl.map(_.frameNum.toLong).max)
    })
  }

  case class H264IdrIndex(media_id: Long, n_idr: Long,
      first_idr_offset: Long, last_idr_offset: Long, max_gop_bytes: Long,
      tail_bytes: Long)

  /** The IDR SEEK INDEX of really-walked Annex-B streams: the byte
    * offsets of the keyframe NALs (type 5) are where a video training
    * pipeline can cut, sample, or resume a clip without decoding
    * across a prediction chain — the frame-sampling plan of
    * [[frameOffsets]], but derived from genuine container structure
    * instead of stub arithmetic. Per stream: the IDR count, the
    * first/last IDR start-code offsets, the largest byte gap between
    * consecutive IDRs (the worst-case GOP the seeker must scan), and
    * the bytes after the last IDR (the unseekable tail). Map-only;
    * rides the decode scan at 100 TB.
    */
  def h264IdrIndex(media: Dataset[MediaRow]): Dataset[H264IdrIndex] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val s = Codecs.decodeH264Stream(r.content)
      val idr = s.nals.filter(_.nalType == 5).map(_.offset.toLong)
      require(idr.nonEmpty,
        s"media ${r.media_id}: no IDR NAL — stream is unseekable")
      val gaps = idr.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      H264IdrIndex(r.media_id, idr.size.toLong, idr.head, idr.last,
        if (gaps.isEmpty) 0L else gaps.max,
        r.content.length.toLong - idr.last)
    })
  }

  case class H264Gop(media_id: Long, gop_idx: Long, start_offset: Long,
      end_offset: Long, gop_bytes: Long, n_slices: Long)

  /** The GOP WORKLIST of really-walked streams — one row per
    * IDR-delimited group of pictures: [[h264IdrIndex]] reports the
    * seek statistics; this MATERIALIZES the plan (start/end byte
    * ranges + slice counts) a clip sampler or distributed transcoder
    * actually consumes — each row is an independently decodable byte
    * range (an IDR resets the prediction chain), so the worklist
    * partitions a video corpus into parallel work units without any
    * decoder coordination. Map-side fanout riding the decode scan;
    * output rows ≈ keyframe count, far below byte scale.
    */
  def h264GopWorklist(media: Dataset[MediaRow]): Dataset[H264Gop] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val s = Codecs.decodeH264Stream(r.content)
      val slices = s.nals.filter(n => n.nalType == 1 || n.nalType == 5)
      val idr = slices.zipWithIndex.filter(_._1.nalType == 5)
      require(idr.nonEmpty,
        s"media ${r.media_id}: no IDR NAL — stream is unseekable")
      idr.zipWithIndex.map { case ((nal, sliceIdx), k) =>
        val endOff =
          if (k + 1 < idr.size) idr(k + 1)._1.offset.toLong
          else r.content.length.toLong
        val endSlice =
          if (k + 1 < idr.size) idr(k + 1)._2 else slices.size
        H264Gop(r.media_id, k.toLong, nal.offset.toLong, endOff,
          endOff - nal.offset, (endSlice - sliceIdx).toLong)
      }
    })
  }

  /** The id-derived PPS list of the multi-parameter-set tier: 1–3 PPSs
    * per stream, ids 0..n−1, each with its own entropy-coding mode
    * (CAVLC/CABAC — both live across the corpus AND within multi-PPS
    * streams), ref-list defaults, and a SIGNED se(v)-coded
    * pic_init_qp_minus26 spanning both signs.
    */
  private def h264PpsListFor(id: Long): Seq[Codecs.H264Pps] = {
    val nPps = 1 + (id % 3).toInt
    (0 until nPps).map { k =>
      Codecs.H264Pps(ppsId = k, spsId = 0,
        entropyCodingMode = ((id + k) % 2).toInt,
        numRefIdxL0 = ((id + 2 * k) % 5).toInt,
        numRefIdxL1 = k % 2,
        initQpMinus26 = ((id + 3 * k) % 26).toInt - 13)
    }
  }

  /** Multi-PPS Annex-B synthesis: the [[h264FromText]] stream shape
    * with the id-derived PPS LIST and every slice header naming the
    * PPS its frame checksum selects — real streams switch parameter
    * sets mid-stream (rate-control re-tunes QP, an encoder toggles
    * CABAC per profile), and the per-slice reference is the wire
    * mechanism. `breakRefs` (the quarantine tier's knob) muxes
    * STRUCTURALLY VALID NALs whose reference graph is broken — for
    * media_id % 13 == 0 the last slice names an absent PPS, else for
    * media_id % 11 == 0 the last PPS names an absent SPS — the
    * lost-parameter-set corruption a real demuxer hits (a dropped NAL
    * is not a flipped bit: every surviving unit still parses).
    */
  def h264PpsFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, breakRefs: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val codes = asciiBytes(t)
        val nPps = 1 + (id % 3).toInt
        var ppss = h264PpsListFor(id)
        var slices = h264FrameParams(id, codes).map { case (r, ty, p, csum) =>
          (r, ty, p, ((csum + ty + p) % nPps).toInt)
        }
        if (breakRefs && id % 13 == 0)
          slices = slices.init :+ slices.last.copy(_4 = nPps)
        else if (breakRefs && id % 11 == 0)
          ppss = ppss.init :+ ppss.last.copy(spsId = 1)
        MediaRow(id, "video/h264",
          Codecs.encodeH264StreamMultiPps(h264SpsFor(id), ppss, slices))
      })
  }

  case class H264PpsCensus(media_id: Long, n_pps: Long, pps_bytes: Long,
      n_cabac_pps: Long, n_cabac_slices: Long, n_cavlc_slices: Long,
      sum_slice_init_qp: Long, max_ref_idx_l0: Long, total_bytes: Long)

  /** The PPS census of really-walked streams: every
    * pic_parameter_set_rbsp is parsed field by field (ue + SIGNED se
    * Exp-Golomb — [[Codecs.decodeH264Stream]]), and the per-slice
    * columns price the CROSS-NAL WIRING: each slice header's
    * pic_parameter_set_id resolves against the stream's PPS map, and
    * the slice inherits THAT PPS's entropy mode and init QP — so
    * `n_cabac_slices` / `sum_slice_init_qp` are wrong unless the
    * resolution is (a mis-read id, a mis-parsed se(v), or a dropped
    * PPS shifts them). `pps_bytes` re-prices the ue/se bit arithmetic
    * the way q204 prices the SPS's. Map-only.
    */
  def h264PpsCensus(media: Dataset[MediaRow]): Dataset[H264PpsCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val s = Codecs.decodeH264Stream(r.content)
      val byId = s.ppss.map(p => p.ppsId -> p).toMap
      val slices = s.nals.filter(n => n.nalType == 1 || n.nalType == 5)
      val refd = slices.map(n => byId(n.ppsId))
      H264PpsCensus(r.media_id, s.ppss.size.toLong,
        s.nals.filter(_.nalType == 8).map(_.rbspBytes.toLong).sum,
        s.ppss.count(_.entropyCodingMode == 1).toLong,
        refd.count(_.entropyCodingMode == 1).toLong,
        refd.count(_.entropyCodingMode == 0).toLong,
        refd.map(_.initQpMinus26.toLong).sum,
        s.ppss.map(_.numRefIdxL0.toLong).max,
        r.content.length.toLong)
    })
  }

  case class TriedH264PpsCensus(media_id: Long, decode_ok: Long,
      n_pps: Long, pps_bytes: Long, n_cabac_pps: Long,
      n_cabac_slices: Long, n_cavlc_slices: Long,
      sum_slice_init_qp: Long, max_ref_idx_l0: Long, total_bytes: Long)

  /** The PPS census with quarantine semantics: a stream whose
    * parameter-set REFERENCE GRAPH is broken (a slice naming an absent
    * PPS, a PPS naming an absent SPS) becomes a zeroed `decode_ok = 0`
    * row — the q205 never-crash contract extended to dangling
    * references, the corruption class that arrives through NAL LOSS
    * rather than bit damage.
    */
  def tryH264PpsCensus(media: Dataset[MediaRow]): Dataset[TriedH264PpsCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        val s = Codecs.decodeH264Stream(r.content)
        val byId = s.ppss.map(p => p.ppsId -> p).toMap
        val refd = s.nals.filter(n => n.nalType == 1 || n.nalType == 5)
          .map(n => byId(n.ppsId))
        TriedH264PpsCensus(r.media_id, 1L, s.ppss.size.toLong,
          s.nals.filter(_.nalType == 8).map(_.rbspBytes.toLong).sum,
          s.ppss.count(_.entropyCodingMode == 1).toLong,
          refd.count(_.entropyCodingMode == 1).toLong,
          refd.count(_.entropyCodingMode == 0).toLong,
          refd.map(_.initQpMinus26.toLong).sum,
          s.ppss.map(_.numRefIdxL0.toLong).max,
          r.content.length.toLong)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedH264PpsCensus(r.media_id, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
            0L, 0L)
      }
    })
  }

  /** An UNLABELED heterogeneous document/video lake: per doc one
    * object — PDF (doc_id % 3 == 0), MP4 (== 1), raw Annex-B H.264
    * (== 2) — with NO container column (`application/octet-stream`):
    * the dispatch tier must route by the bytes alone, the q184/q230
    * production shape extended over the round's new containers.
    */
  def docLakeFromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("media_id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val bytes = (id % 3) match {
          case 0 => Pdf.pdfBytesFor(id, t, breakRefs = false)
          case 1 => Mp4.mp4BytesFor(id, t, breakRefs = false)
          case _ => h264BytesFor(id, t, withSei = false)
        }
        MediaRow(id, "application/octet-stream", bytes)
      })
  }

  case class DocLakeCensus(media_id: Long, container: String,
      n_units: Long, payload_bytes: Long, total_bytes: Long)

  /** ONE decode job over the unlabeled lake: sniff the container by
    * its magic bytes (`%PDF` / `ftyp` at offset 4 / an Annex-B start
    * code — each unambiguous at its position), route to the REAL
    * walker, and read out container-comparable statistics (units =
    * objects / samples / NALs; payload = decoded content stream /
    * mdat payload / summed RBSP bytes). An unrecognizable object is a
    * loud error — at 100 TB a silent mis-route poisons a whole
    * modality's statistics.
    */
  def docLakeDispatch(media: Dataset[MediaRow]): Dataset[DocLakeCensus] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val b = r.content
      def at(p: Int, s: String): Boolean =
        b.length >= p + s.length && s.getBytes("US-ASCII").zipWithIndex
          .forall { case (c, i) => b(p + i) == c }
      if (at(0, "%PDF")) {
        val d = Pdf.decodePdf(b)
        DocLakeCensus(r.media_id, "pdf",
          d.objects.size.toLong, d.content.length.toLong,
          d.totalBytes.toLong)
      } else if (at(4, "ftyp")) {
        val d = Mp4.decodeMp4(b)
        DocLakeCensus(r.media_id, "mp4", d.samples.size.toLong,
          d.samples.map(4L + _.length).sum, b.length.toLong)
      } else if (b.length >= 4 && b(0) == 0 && b(1) == 0 &&
          (b(2) == 1 || (b(2) == 0 && b(3) == 1))) {
        val s = Codecs.decodeH264Stream(b)
        DocLakeCensus(r.media_id, "h264", s.nals.size.toLong,
          s.nals.map(_.rbspBytes.toLong).sum, b.length.toLong)
      } else throw new IllegalArgumentException(
        s"media ${r.media_id}: unrecognized container " +
          s"(${b.take(8).map(x => f"${x & 0xFF}%02x").mkString(" ")})")
    })
  }

  /** Decode IMA ADPCM payloads (REAL nibble reconstruction —
    * [[Codecs.decodeWavAdpcm]]) into the shared container-agnostic
    * audio stats kernel.
    */
  def decodeAdpcmStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      audioStatsOf(r.media_id, Codecs.decodeWavAdpcm(r.content))))
  }

  /** A decode attempt: the stats when the payload parses, a zeroed row
    * with `decode_ok = 0` when it doesn't — the quarantine shape. At
    * 100 TB some payloads ARE corrupt; a lake-scale decode job must
    * yield (good rows, quarantine rows), never crash the stage and
    * never emit a silently-wrong statistic.
    */
  case class TriedImageStats(media_id: Long, decode_ok: Int, width: Int,
      height: Int, n_pixels: Long, sum_channel: Long, max_channel: Int)

  /** Decode with QUARANTINE semantics: parse failures (the codecs all
    * fail loudly by contract) become `decode_ok = 0` rows instead of
    * stage crashes; good payloads emit their genuine statistics. The
    * error cause stays out of the row on purpose — exception text is
    * engine-specific; the quarantine JOIN KEY (media_id) is what a
    * re-fetch/repair pipeline needs.
    */
  def tryDecodeImageStats(media: Dataset[MediaRow]): Dataset[TriedImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        val s = imageStatsOf(r.media_id, Codecs.decodePng(r.content))
        TriedImageStats(r.media_id, 1, s.width, s.height, s.n_pixels,
          s.sum_channel, s.max_channel)
      } catch {
        // NonFatal, not a curated exception list: hostile payloads can
        // surface DataFormatException from Inflater (CRC-valid but
        // non-zlib IDAT), NegativeArraySizeException from hostile IHDR
        // dimensions, etc. — the never-crash-the-stage contract must
        // hold for ALL of them, not just the two the synthesizer's own
        // corruption model happens to produce.
        case scala.util.control.NonFatal(_) =>
          TriedImageStats(r.media_id, 0, 0, 0, 0L, 0L, 0)
      }
    })
  }

  /** The q178 corruption model: payloads for `media_id % 13 == 0` lose
    * their trailing 5 bytes — inside the final IDAT/IEND region, so the
    * PNG chunk walk's length/CRC verification MUST reject them (a
    * decoder that "tolerates" truncation would emit a silently wrong
    * statistic; the quarantine flag proves it refuses instead).
    */
  def corruptedPngFromText(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    pngFromText(spark, docs, idCol, textCol).map { r =>
      if (r.media_id % 13 == 0)
        MediaRow(r.media_id, r.media_type,
          java.util.Arrays.copyOf(r.content,
            math.max(0, r.content.length - 5)))
      else r
    }
  }

  /** The mixed-container quarantine row: one shape across image and
    * audio payloads — `n_units` is pixels or samples, `sum_val`/
    * `max_val` the channel or sample statistics — so one lake-scale
    * decode job can quarantine across every format it holds.
    */
  case class TriedMediaStats(media_id: Long, media_type: String,
      decode_ok: Int, n_units: Long, sum_val: Long, max_val: Long)

  /** A MIXED media lake: container chosen by doc_id % 4 (PNG / GIF /
    * JPEG / FLAC), each through its existing synthesis path — the
    * production shape where one directory holds many formats.
    */
  def mixedMediaLake(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String): Dataset[MediaRow] =
    pngFromText(spark, docs.filter(col(idCol) % 4 === 0), idCol, textCol)
      .unionByName(gifFromText(spark,
        docs.filter(col(idCol) % 4 === 1), idCol, textCol))
      .unionByName(jpegFromText(spark,
        docs.filter(col(idCol) % 4 === 2), idCol, textCol))
      .unionByName(flacFromText(spark,
        docs.filter(col(idCol) % 4 === 3), idCol, textCol))

  /** The q184 corruption model — a format-SPECIFIC detectable
    * corruption class per container, for `media_id % 13 == 0`:
    *  - PNG: trailing 5-byte truncation (q178's class — the chunk
    *    walk's length/CRC verification must reject);
    *  - GIF: LZW code overflow — the first code byte forced to 0xFF
    *    turns the mandatory 9-bit clear code (0x100, low byte 0x00)
    *    into code 0x1FF, ahead of any dictionary, which the decoder's
    *    first-code-after-clear check must reject. Offset 793 is fixed
    *    by [[Codecs.encodeGif]]'s layout: 6 header + 7 LSD + 768 GCT +
    *    10 image descriptor + 1 min-code-size + 1 sub-block size;
    *  - JPEG: marker corruption — the SOF0 marker (the first FF C0 in
    *    the stream; header segment bodies cannot contain FF C0 before
    *    it) becomes FF C2, a progressive SOF the baseline decoder
    *    must reject by type;
    *  - FLAC: CRC corruption — the final byte (inside the last frame's
    *    CRC-16 footer, or the STREAMINFO MD5 on a frameless stream)
    *    inverted, which the frame CRC / MD5 verification must reject.
    */
  def corruptMixed(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      if (r.media_id % 13 != 0) r
      else r.media_type match {
        case "image/png" =>
          MediaRow(r.media_id, r.media_type, java.util.Arrays.copyOf(
            r.content, math.max(0, r.content.length - 5)))
        case "image/gif" =>
          val b = r.content.clone()
          b(793) = 0xFF.toByte
          MediaRow(r.media_id, r.media_type, b)
        case "image/jpeg" =>
          val b = r.content.clone()
          var i = 0
          while (i + 1 < b.length &&
              !((b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xFF) == 0xC0))
            i += 1
          if (i + 1 >= b.length) throw new IllegalArgumentException(
            s"media ${r.media_id}: no baseline SOF0 marker to corrupt")
          b(i + 1) = 0xC2.toByte
          MediaRow(r.media_id, r.media_type, b)
        case "audio/flac" =>
          val b = r.content.clone()
          b(b.length - 1) = (b(b.length - 1) ^ 0xFF).toByte
          MediaRow(r.media_id, r.media_type, b)
        case other => throw new IllegalArgumentException(
          s"no corruption model for $other")
      }
    }
  }

  /** Decode a MIXED lake with quarantine semantics: dispatch on the
    * container type, catch every NonFatal parse failure into a zeroed
    * `decode_ok = 0` row — q178's never-crash contract extended across
    * all four compressed containers.
    */
  def tryDecodeMixedStats(
      media: Dataset[MediaRow]): Dataset[TriedMediaStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        r.media_type match {
          case "image/png" | "image/gif" | "image/jpeg" =>
            val img = r.media_type match {
              case "image/png" => Codecs.decodePng(r.content)
              case "image/gif" => Codecs.decodeGif(r.content)
              case _ => Codecs.decodeJpeg(r.content)
            }
            val s = imageStatsOf(r.media_id, img)
            TriedMediaStats(r.media_id, r.media_type, 1,
              s.n_pixels, s.sum_channel, s.max_channel.toLong)
          case "audio/flac" =>
            val a = audioStatsOf(r.media_id, Codecs.decodeFlac(r.content))
            TriedMediaStats(r.media_id, r.media_type, 1,
              a.n_samples, a.sum_sample, a.max_sample)
          case other => throw new IllegalArgumentException(
            s"unknown media type $other")
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedMediaStats(r.media_id, r.media_type, 0, 0L, 0L, 0L)
      }
    })
  }

  /** Statistics of a 2× BOX-FILTER DOWNSAMPLE over really decoded
    * pixels: each output channel is the rounded mean of its 2×2 input
    * block ((a+b+c+d+2)>>2 — integer-exact, so a second engine can
    * predict every value). Odd trailing rows/columns are dropped
    * (floor semantics); images too small to hold one 2×2 block emit a
    * zero-sized result row, not a missing row.
    */
  case class ResizeStats(media_id: Long, out_width: Int, out_height: Int,
      n_out_pixels: Long, sum_channel: Long, max_channel: Int)

  /** Decode image payloads and 2×-downsample them with the box filter —
    * the real-pixel resize step of the decode / feature-extract /
    * resize / frame-sample quartet (dHash already resamples
    * nearest-neighbor; this is the mean-pooling path a vision encoder
    * preprocessor uses). Per-partition, shuffle-free.
    */
  def downsampleImageStats(media: Dataset[MediaRow]): Dataset[ResizeStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val img = Codecs.decodePpm(r.content)
      val ow = img.width / 2; val oh = img.height / 2
      var sum = 0L; var mx = 0
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var ch = 0
          while (ch < 3) {
            def at(y: Int, x: Int): Int =
              img.pixels((y * img.width + x) * 3 + ch) & 0xFF
            val v = (at(2 * oy, 2 * ox) + at(2 * oy, 2 * ox + 1) +
              at(2 * oy + 1, 2 * ox) + at(2 * oy + 1, 2 * ox + 1) + 2) >> 2
            sum += v; if (v > mx) mx = v
            ch += 1
          }
          ox += 1
        }
        oy += 1
      }
      ResizeStats(r.media_id, ow, oh, ow.toLong * oh, sum, mx)
    })
  }

  /** Decode FLAC payloads (REAL compressed parse — [[Codecs.decodeFlac]]:
    * metadata walk, frame sync, Rice/unary entropy decode, fixed
    * predictors, CRC-8/CRC-16/MD5 verification) into the shared
    * container-agnostic stats kernel.
    */
  def decodeFlacStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      audioStatsOf(r.media_id, Codecs.decodeFlac(r.content))))
  }
}
