package graft.web

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The compressed web-archive front door as Spark operators: synthesize
  * genuine `.gz` / `.warc.gz` archives from the document corpus (so a
  * DuckDB oracle can predict every member boundary from the source
  * columns), then walk them back with the real [[Gzip]]/[[Warc]]
  * decoders — member census, WARC record census, the CDX-style
  * random-access index, quarantine parity, and the end-to-end
  * archive → text → screen extraction.
  *
  * Scale shape: archives are fixed-fanout buckets (`doc_id mod N`), the
  * production convention of bounding archive size so a single member
  * walk fits one task; every walk after synthesis is map-only
  * (per-partition iterators, no shuffle), and the one synthesis
  * exchange keys on an 8-byte integer. At 100 TB the synthesis is
  * replaced by `binaryFile` scans of real archives and the walks are
  * unchanged — which is the point.
  */
object WebLake {

  /** One archive file: bucket id + raw bytes. */
  case class ArchiveRow(archive_id: Long, content: Array[Byte])

  /** Fixed archive fanout — see the scale note above. */
  val DefaultArchives = 32

  // The synthesis contract shared with the DuckDB oracles: a text's
  // ASCII sub-stream (bytes ≤ 0x7F of the UTF-8 encoding) equals the
  // oracle's per-character `ord(c) BETWEEN 0 AND 127` projection.
  private def asciiBytes(t: String): Array[Byte] =
    t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .filter(b => (b & 0x80) == 0)

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  // ------------------------------------------------------- gzip bundle

  /** Multi-member gzip bundles: archive `a` holds one member per doc
    * with `doc_id mod n = a`, ordered by doc_id — member `FNAME` is
    * `doc-<id>.txt`, `MTIME` is the doc id (both round-trip-checked by
    * the census), payload is the ASCII sub-stream, and the DEFLATE
    * mode alternates by id parity (even → stored, odd → literal-only
    * fixed Huffman) so both encoders are live on the wire with
    * oracle-predictable sizes.
    */
  def gzipBundleFromDocs(spark: SparkSession, docs: DataFrame,
      nArchives: Int = DefaultArchives): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(pmod(col("doc_id"), lit(nArchives)).cast("long").as("aid"),
        col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (aid, it) =>
        val rows = it.toArray.sortBy(_._2)
        val out = new java.io.ByteArrayOutputStream()
        rows.foreach { case (_, id, t) =>
          val m = Gzip.member(asciiBytes(t), Some(s"doc-$id.txt"),
            fixedHuffman = id % 2 == 1, mtime = id)
          out.write(m, 0, m.length)
        }
        ArchiveRow(aid, out.toByteArray)
      }
  }

  /** Per-archive member census — every field predictable by a second
    * engine from the synthesis arithmetic: counts by DEFLATE mode,
    * total/max compressed sizes (the size formulas in [[Deflate]]),
    * ISIZE and payload-byte sums (content identity, not just length),
    * and the MTIME sum (= sum of doc ids).
    */
  case class GzipCensus(archive_id: Long, n_members: Long, n_fixed: Long,
      n_stored: Long, n_named: Long, total_bytes: Long, sum_isize: Long,
      sum_payload: Long, sum_mtime: Long, max_member_len: Long)

  def gzipMemberCensus(archives: Dataset[ArchiveRow]): Dataset[GzipCensus] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      val ms = Gzip.members(a.content)
      GzipCensus(
        archive_id = a.archive_id,
        n_members = ms.size.toLong,
        n_fixed = ms.count(_.firstBtype == 1).toLong,
        n_stored = ms.count(_.firstBtype == 0).toLong,
        n_named = ms.count(_.fname.isDefined).toLong,
        total_bytes = a.content.length.toLong,
        sum_isize = ms.iterator.map(_.data.length.toLong).sum,
        sum_payload = ms.iterator.map(m =>
          m.data.iterator.map(b => (b & 0xFF).toLong).sum).sum,
        sum_mtime = ms.iterator.map(_.mtime).sum,
        max_member_len = ms.iterator.map(_.compLen.toLong).max)
    })
  }

  /** Quarantine synthesis: for every `every`-th archive, set the
    * RESERVED FLG bits of the first member's header (offset 3 — RFC
    * 1952 §2.3.1 mandates they be zero). The format's own always-zero
    * field, locatable without decoding — the q178/q184/q200/q205
    * corruption discipline.
    */
  def corruptGzipBundle(archives: Dataset[ArchiveRow],
      every: Int = 5): Dataset[ArchiveRow] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      if (a.archive_id % every == 0 && a.content.length > 3) {
        val b = a.content.clone()
        b(3) = (b(3) | 0xE0).toByte
        ArchiveRow(a.archive_id, b)
      } else a
    })
  }

  /** Never-crash census: a walk failure (the planted reserved-bit
    * violation, or any real corruption) becomes a zeroed
    * `decode_ok = 0` row — the production contract that one bad
    * archive in a 100 TB lake quarantines itself instead of failing
    * the stage.
    */
  case class TriedGzipCensus(archive_id: Long, decode_ok: Long,
      n_members: Long, n_fixed: Long, n_stored: Long, n_named: Long,
      total_bytes: Long, sum_isize: Long, sum_payload: Long,
      sum_mtime: Long, max_member_len: Long)

  def tryGzipCensus(archives: Dataset[ArchiveRow]): Dataset[TriedGzipCensus] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      try {
        val ms = Gzip.members(a.content)
        TriedGzipCensus(a.archive_id, 1L, ms.size.toLong,
          ms.count(_.firstBtype == 1).toLong,
          ms.count(_.firstBtype == 0).toLong,
          ms.count(_.fname.isDefined).toLong,
          a.content.length.toLong,
          ms.iterator.map(_.data.length.toLong).sum,
          ms.iterator.map(m => m.data.iterator.map(b => (b & 0xFF).toLong).sum).sum,
          ms.iterator.map(_.mtime).sum,
          ms.iterator.map(_.compLen.toLong).max)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedGzipCensus(a.archive_id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  // ---------------------------------------------------------- warc.gz

  private[web] val WarcInfoPayload = "software: graft-warc/1.0\r\n"

  /** `.warc.gz` archives in the Common Crawl shape: archive `a` opens
    * with a `warcinfo` record and then holds one `response` record per
    * doc with `doc_id mod n = a` (ordered by doc_id), EVERY RECORD ITS
    * OWN GZIP MEMBER — the convention that makes (offset, length)
    * random access work. Record ids are `urn:graft:doc:<id>`, target
    * URIs `https://corpus.example/<source>/<id>`, payloads the ASCII
    * sub-stream; members use stored DEFLATE (the fixed-Huffman path is
    * exercised by the gzip bundle tier).
    */
  def warcGzFromDocs(spark: SparkSession, docs: DataFrame,
      nArchives: Int = DefaultArchives): Dataset[ArchiveRow] =
    warcGzArchives(spark, docs, nArchives) { (id, t, src) =>
      Warc.encodeRecord("response", s"urn:graft:doc:$id",
        Some(s"https://corpus.example/$src/$id"), "text/plain", asciiBytes(t))
    }

  /** The documents grouped into archive `doc_id mod nArchives`, each
    * archive's (aid, id, text, source) rows in doc_id order; `write`
    * puts the archive's bytes into `out`.
    */
  private def perArchive(spark: SparkSession, docs: DataFrame,
      nArchives: Int)(write: (Long, Array[(Long, Long, String, String)],
        java.io.ByteArrayOutputStream) => Unit): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(pmod(col("doc_id"), lit(nArchives)).cast("long").as("aid"),
        col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"),
        coalesce(col("source"), lit("")).as("src"))
      .as[(Long, Long, String, String)]
      .groupByKey(_._1)
      .mapGroups { (aid, it) =>
        val rows = it.toArray.sortBy(_._2)
        val out = new java.io.ByteArrayOutputStream()
        write(aid, rows, out)
        ArchiveRow(aid, out.toByteArray)
      }
  }

  /** `.warc.gz` archives: the `warcinfo` member, then one stored-DEFLATE
    * member per doc holding the WARC record `record(id, text, source)`.
    */
  private def warcGzArchives(spark: SparkSession, docs: DataFrame,
      nArchives: Int)(record: (Long, String, String) => Array[Byte]
      ): Dataset[ArchiveRow] =
    perArchive(spark, docs, nArchives) { (aid, rows, out) =>
      def member(rec: Array[Byte]): Unit = {
        val m = Gzip.member(rec, fname = None, fixedHuffman = false, mtime = 0L)
        out.write(m, 0, m.length)
      }
      member(Warc.encodeRecord("warcinfo", s"urn:graft:archive:$aid", None,
        "application/warc-fields", WarcInfoPayload.getBytes(Ascii)))
      rows.foreach { case (_, id, t, src) => member(record(id, t, src)) }
    }

  /** Gunzip every member and parse it as EXACTLY ONE WARC record (the
    * one-record-per-member convention is enforced, not assumed).
    * Map-only; shared by the census, the CDX index, and the extract.
    */
  private def recordsOf(a: ArchiveRow): Vector[(Gzip.Member, Warc.Record)] =
    Gzip.members(a.content).map { m =>
      val rs = Warc.decodeRecords(m.data)
      require(rs.size == 1,
        s"warc.gz: member at ${m.offset} holds ${rs.size} records, expected 1")
      (m, rs.head)
    }

  /** Per-archive record census: counts by record type, header/payload
    * byte totals, the whole-file size, the payload byte-value sum
    * (content identity through inflate + record slicing), and the
    * largest record.
    */
  case class WarcCensus(archive_id: Long, n_records: Long, n_responses: Long,
      n_warcinfo: Long, header_bytes: Long, payload_bytes: Long,
      sum_payload: Long, total_bytes: Long, max_record_len: Long)

  def warcRecordCensus(archives: Dataset[ArchiveRow]): Dataset[WarcCensus] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      val rs = recordsOf(a)
      WarcCensus(
        archive_id = a.archive_id,
        n_records = rs.size.toLong,
        n_responses = rs.count(_._2.warcType == "response").toLong,
        n_warcinfo = rs.count(_._2.warcType == "warcinfo").toLong,
        header_bytes = rs.iterator.map(_._2.headerBytes.toLong).sum,
        payload_bytes = rs.iterator.map(_._2.payload.length.toLong).sum,
        sum_payload = rs.iterator.map(r =>
          r._2.payload.iterator.map(b => (b & 0xFF).toLong).sum).sum,
        total_bytes = a.content.length.toLong,
        max_record_len = rs.iterator.map(r =>
          r._2.headerBytes.toLong + r._2.payload.length + 4L).max)
    })
  }

  /** The CDX-style random-access index: one row per response record
    * with its gzip-member (offset, length) — what a 1000-executor
    * cluster uses to fan a 100 TB crawl out record-parallel without
    * scanning archives end to end. A FANOUT relation (map-side,
    * record-count rows), not a rollup; doc_id is parsed back from the
    * record id, so a mis-sliced member shows up as a wrong key.
    */
  case class CdxEntry(archive_id: Long, doc_id: Long, target_uri: String,
      member_offset: Long, member_len: Long, payload_len: Long,
      payload_sum: Long)

  def cdxIndex(archives: Dataset[ArchiveRow]): Dataset[CdxEntry] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.flatMap { a =>
      recordsOf(a).iterator
        .filter(_._2.warcType == "response")
        .map { case (m, r) =>
          val id = r.recordId.substring(r.recordId.lastIndexOf(':') + 1).toLong
          CdxEntry(a.archive_id, id, r.targetUri.getOrElse(""),
            m.offset.toLong, m.compLen.toLong, r.payload.length.toLong,
            r.payload.iterator.map(b => (b & 0xFF).toLong).sum)
        }
    })
  }

  /** The end-to-end front door: archive bytes → gunzip → WARC record →
    * payload text → token screen. One row per response doc with the
    * whitespace token count of the round-tripped text and the
    * keep/drop decision — the first quality gate a crawl-scale ingest
    * applies before anything downstream sees the document.
    */
  case class WebDoc(doc_id: Long, n_bytes: Long, n_tokens: Long,
      sum_bytes: Long, keep: Long)

  def extractWebDocs(archives: Dataset[ArchiveRow],
      minTokens: Int = 8): Dataset[WebDoc] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.flatMap { a =>
      recordsOf(a).iterator
        .filter(_._2.warcType == "response")
        .map { case (_, r) =>
          val id = r.recordId.substring(r.recordId.lastIndexOf(':') + 1).toLong
          val text = new String(r.payload, Ascii)
          val nTokens = text.split("\\s+").count(_.nonEmpty).toLong
          WebDoc(id, r.payload.length.toLong, nTokens,
            r.payload.iterator.map(b => (b & 0xFF).toLong).sum,
            if (nTokens >= minTokens) 1L else 0L)
        }
    })
  }

  // ------------------------------------------------- HTTP-in-WARC tier

  /** The HTTP message a response record carries for doc `id`: status
    * 404 with an empty body every 17th id (dead links are a real crawl
    * fraction), 200 otherwise; chunked transfer framing every 3rd id
    * (100-byte chunks), `Content-Length` framing for the rest — both
    * wire forms live, both oracle-priceable. When `corruptChunk` is
    * set, the FIRST chunk-size line's second hex digit becomes a
    * non-hex byte — a garbled capture whose gzip and WARC layers are
    * pristine, detectable only by the HTTP framing walk.
    */
  private def httpMessageFor(id: Long, body: Array[Byte],
      corruptChunk: Boolean): Array[Byte] = {
    val notFound = id % 17 == 0
    val chunked = id % 3 == 0
    // odd ids ship compressed bodies — real crawls are mostly
    // compressed on the wire; of those, every 5th uses the zlib
    // `deflate` coding, ids ≡ 3 (mod 5) use `br` (the third coding
    // real servers actually send — the engine's own RFC 7932 walk),
    // and the rest gzip. The engine owns all three containers, so the
    // coding layers COMPOSE: content coding first, then chunked
    // transfer framing over the encoded bytes, exactly the RFC 9110
    // §8.4 order
    val enc = id % 2 == 1 && !notFound
    val defl = enc && id % 5 == 0
    val br = enc && id % 5 == 3
    val wireBody =
      if (notFound) Array.emptyByteArray
      else if (defl) Deflate.zlibWrap(body)
      else if (br) Brotli.encodeUncompressed(body)
      else if (enc) Gzip.member(body, fname = None, fixedHuffman = false,
        mtime = 0L)
      else body
    val msg = Http.encodeResponse(
      status = if (notFound) 404 else 200,
      reason = if (notFound) "Not Found" else "OK",
      headers = Seq("Server" -> "graft/1.0",
        "Content-Type" -> "text/plain") ++
        (if (defl) Seq("Content-Encoding" -> "deflate")
         else if (br) Seq("Content-Encoding" -> "br")
         else if (enc) Seq("Content-Encoding" -> "gzip") else Nil),
      body = wireBody,
      chunked = chunked, chunkSize = 100)
    if (corruptChunk && chunked && !notFound && wireBody.length >= 16) {
      // first chunk-size line sits right after the blank header line;
      // the >= 16 guard keeps the size at 2 hex digits so the patch
      // lands on the second digit (the oracle mirrors the guard on the
      // WIRE body length: gzip bodies are always >= 23 bytes, zlib
      // bodies n+11, identity bodies n)
      var i = 0
      while (!(msg(i) == '\r' && msg(i + 1) == '\n' &&
        msg(i + 2) == '\r' && msg(i + 3) == '\n')) i += 1
      msg(i + 5) = 'z'.toByte
    }
    msg
  }

  /** `.warc.gz` archives whose response records carry FULL HTTP
    * messages (`application/http;msgtype=response` — the Common Crawl
    * convention; q213's tier stores bare bodies). `corruptEvery` > 0
    * garbles the chunk framing of ids divisible by it (where chunked
    * 200s exist) for the record-level quarantine tier.
    */
  def warcHttpFromDocs(spark: SparkSession, docs: DataFrame,
      nArchives: Int = DefaultArchives,
      corruptEvery: Long = 0L): Dataset[ArchiveRow] =
    warcGzArchives(spark, docs, nArchives) { (id, t, src) =>
      val corrupt = corruptEvery > 0 && id % corruptEvery == 0
      val msg = httpMessageFor(id, asciiBytes(t), corrupt)
      Warc.encodeRecord("response", s"urn:graft:doc:$id",
        Some(s"https://corpus.example/$src/$id"),
        "application/http;msgtype=response", msg)
    }

  /** Per-archive census of the HTTP layer: response count, status /
    * transfer-framing / content-coding splits, header/body/wire byte
    * totals, the DECODED body byte-value sum (content identity
    * through chunk de-framing AND gzip inflate), and the largest
    * message — every field priced by the oracle from the status-line/
    * header/gzip-member/chunk arithmetic alone (no WARC or outer-gzip
    * sizes involved, those are q213's contract).
    */
  case class HttpCensus(archive_id: Long, n_responses: Long, n_200: Long,
      n_404: Long, n_chunked: Long, n_gzip: Long, n_deflate: Long,
      n_brotli: Long, http_header_bytes: Long,
      body_bytes: Long, sum_body: Long, wire_bytes: Long,
      max_msg_len: Long)

  def httpResponseCensus(archives: Dataset[ArchiveRow]): Dataset[HttpCensus] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      // (message length on the wire, parsed response, decoded body) —
      // msgLen is the WARC payload length, header + framed body
      val rs = recordsOf(a).filter(_._2.warcType == "response")
        .map { r =>
          val m = Http.parseResponse(r._2.payload)
          (r._2.payload.length, m, Http.decodedBody(m))
        }
      HttpCensus(
        archive_id = a.archive_id,
        n_responses = rs.size.toLong,
        n_200 = rs.count(_._2.status == 200).toLong,
        n_404 = rs.count(_._2.status == 404).toLong,
        n_chunked = rs.count(_._2.chunked).toLong,
        n_gzip = rs.count(_._2.contentEncoding == "gzip").toLong,
        n_deflate = rs.count(_._2.contentEncoding == "deflate").toLong,
        n_brotli = rs.count(_._2.contentEncoding == "br").toLong,
        http_header_bytes = rs.iterator.map(_._2.headerBytes.toLong).sum,
        body_bytes = rs.iterator.map(_._3.length.toLong).sum,
        sum_body = rs.iterator.map(r =>
          r._3.iterator.map(b => (b & 0xFF).toLong).sum).sum,
        wire_bytes = rs.iterator.map(r =>
          (r._1 - r._2.headerBytes).toLong).sum,
        max_msg_len = rs.iterator.map(_._1.toLong).max)
    })
  }

  /** RECORD-level quarantine: a garbled HTTP framing quarantines THAT
    * record (its gzip and WARC layers verified fine — the other
    * records in the archive keep flowing), never the stage. Byte
    * totals cover the parseable records only.
    */
  case class TriedHttpCensus(archive_id: Long, n_responses: Long,
      n_http_ok: Long, n_http_bad: Long, body_bytes: Long, sum_body: Long)

  def tryHttpCensus(archives: Dataset[ArchiveRow]): Dataset[TriedHttpCensus] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      val rs = recordsOf(a).filter(_._2.warcType == "response")
      var ok = 0L; var bad = 0L; var bodyBytes = 0L; var sumBody = 0L
      rs.foreach { case (_, r) =>
        try {
          val m = Http.parseResponse(r.payload)
          val body = Http.decodedBody(m)
          ok += 1
          bodyBytes += body.length
          sumBody += body.iterator.map(b => (b & 0xFF).toLong).sum
        } catch {
          case scala.util.control.NonFatal(_) => bad += 1
        }
      }
      TriedHttpCensus(a.archive_id, rs.size.toLong, ok, bad, bodyBytes, sumBody)
    })
  }

  /** The full-stack extract: gzip member → WARC record → HTTP message
    * → de-framed body → token screen. 404s surface as empty kept-out
    * rows rather than vanishing — the ingest ledger records every
    * fetched URI.
    */
  def extractHttpDocs(archives: Dataset[ArchiveRow],
      minTokens: Int = 8): Dataset[WebDoc] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.flatMap { a =>
      recordsOf(a).iterator
        .filter(_._2.warcType == "response")
        .map { case (_, r) =>
          val id = r.recordId.substring(r.recordId.lastIndexOf(':') + 1).toLong
          val body = Http.decodedBody(Http.parseResponse(r.payload))
          val text = new String(body, Ascii)
          val nTokens = text.split("\\s+").count(_.nonEmpty).toLong
          WebDoc(id, body.length.toLong, nTokens,
            body.iterator.map(b => (b & 0xFF).toLong).sum,
            if (nTokens >= minTokens) 1L else 0L)
        }
    })
  }

  /** Streaming reader over an archive lake (one parquet row per
    * `.warc.gz` object, the binaryFile shape): crawl segments arrive
    * as files, each micro-batch is a segment. Compose with
    * [[warcToDocs]] — map-only, so it lifts to streaming unchanged —
    * and the result feeds [[graft.streaming.DocStream.ingestToState]]
    * with every ingest door intact: the archive tier IS a streaming
    * front door, not just a batch one.
    */
  def readArchiveStream(spark: SparkSession, lake: String): Dataset[ArchiveRow] = {
    import spark.implicits._
    spark.readStream
      .schema("archive_id LONG, content BINARY")
      .option("maxFilesPerTrigger", 1) // one crawl segment per micro-batch
      .parquet(lake)
      .as[ArchiveRow]
  }

  /** The bridge from the front door to the corpus state machinery: a
    * documents-shaped relation recovered ENTIRELY from archive bytes —
    * text from the de-framed HTTP body, source from the target URI,
    * `lang` re-identified from the recovered text (a crawl ships no
    * lang column; language ID is the front door's job —
    * [[graft.functions.TextAnalysis.langId]]), `n_chars` from the
    * text. Exactly what [[graft.pipeline.CorpusBuild.ingestBatch]]
    * consumes: the archive tier plugs into the standing state build
    * with no adaptation (404s arrive as empty-text rows and the
    * build's own quality floor screens them).
    */
  def warcToDocs(spark: SparkSession, archives: Dataset[ArchiveRow]): DataFrame = {
    import spark.implicits._
    archives.mapPartitions(_.flatMap { a =>
      recordsOf(a).iterator
        .filter(_._2.warcType == "response")
        .map { case (_, r) =>
          val id = r.recordId.substring(r.recordId.lastIndexOf(':') + 1).toLong
          val body = Http.decodedBody(Http.parseResponse(r.payload))
          (id, new String(body, Ascii), r.targetUri.getOrElse(""))
        }
    }).toDF("doc_id", "text", "uri")
      .select(col("doc_id"),
        col("text"),
        graft.functions.TextAnalysis.langId(col("text")).as("lang"),
        regexp_extract(col("uri"),
          "https://corpus\\.example/([^/]*)/", 1).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  // ------------------------------------------------------- zstd tier

  /** One `.zst` object per doc: a 16-byte SKIPPABLE frame carrying the
    * record id (the seek-table convention) followed by a checksummed
    * data frame — raw blocks of the ASCII payload plus one RLE pad
    * block (32 × `~`), so raw, RLE, skippable, FCS-width, and checksum
    * paths are ALL live on the wire with oracle-priceable sizes.
    */
  def zstFromDocs(spark: SparkSession, docs: DataFrame): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val seekId = new Array[Byte](8)
        var v = id; var i = 0
        while (i < 8) { seekId(i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
        val bytes = Zstd.encodeSkippable(seekId) ++
          Zstd.encodeFrame(asciiBytes(t), rleLen = 32, rleByte = '~')
        ArchiveRow(id, bytes)
      })
  }

  /** Per-object structural census — every field from the real walk:
    * block counts by type, the re-assembled (checksum-verified)
    * content length and byte sum, the whole-object size, and the
    * record id READ BACK from the skippable frame (a mis-skipped
    * frame surfaces as a wrong key, the q214 discipline).
    */
  case class ZstdCensus(doc_id: Long, n_skippable: Long, n_frames: Long,
      n_blocks: Long, n_raw: Long, n_rle: Long, content_len: Long,
      content_sum: Long, total_bytes: Long, seek_id: Long)

  def zstdFrameCensus(objects: Dataset[ArchiveRow]): Dataset[ZstdCensus] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      val s = Zstd.decodeStream(a.content)
      require(s.skippablePayloads.size == 1 && s.skippablePayloads.head.length == 8,
        s"zstd object ${a.archive_id}: expected one 8-byte seek frame")
      var seekId = 0L; var i = 0
      val p = s.skippablePayloads.head
      while (i < 8) { seekId |= (p(i) & 0xFFL) << (8 * i); i += 1 }
      ZstdCensus(
        doc_id = a.archive_id,
        n_skippable = s.skippablePayloads.size.toLong,
        n_frames = s.frames.size.toLong,
        n_blocks = s.frames.iterator.map(_.nBlocks.toLong).sum,
        n_raw = s.frames.iterator.map(_.nRaw.toLong).sum,
        n_rle = s.frames.iterator.map(_.nRle.toLong).sum,
        content_len = s.frames.iterator.map(_.contentSize).sum,
        content_sum = s.frames.iterator.map(f =>
          f.content.iterator.map(b => (b & 0xFF).toLong).sum).sum,
        total_bytes = a.content.length.toLong,
        seek_id = seekId)
    })
  }

  /** The ENTROPY-CODED flavor of the zstd tier: per doc one object —
    * the 16-byte skippable seek frame plus a checksummed frame whose
    * payload ships in a real COMPRESSED block (Huffman-coded literals
    * under a direct-weight tree, single stream to 1023 literals and
    * 4-stream with a jump table above, plus one RLE-table-mode
    * sequence appending 32 copies of the final byte through
    * repeat-offset register 1), then an RLE pad block. Every object
    * round-trips under the REFERENCE zstd CLI (conformance pinned in
    * WebArchiveSpec), and the walk's XXH64 verification means a
    * census row existing AT ALL proves the FSE/Huffman decode was
    * byte-exact.
    */
  def zstEntropyFromDocs(spark: SparkSession, docs: DataFrame): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val seekId = new Array[Byte](8)
        var v = id; var i = 0
        while (i < 8) { seekId(i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
        val payload = asciiBytes(t)
        // odd ids with >= 2 payload bytes ship the FSE-mode block
        // (two sequences, all three tables FSE_Compressed) — the
        // decoder's general-grammar path on the engine's own wire;
        // the rest keep the Huffman + RLE-sequence flavor
        val frame =
          if (id % 2 == 1 && payload.length >= 2)
            Zstd.encodeEntropyFrameFse(payload, nSeq = 2, matchPad = 16)
          else Zstd.encodeEntropyFrame(payload)
        val bytes = Zstd.encodeSkippable(seekId) ++ frame
        ArchiveRow(id, bytes)
      })
  }

  /** q232's census over the entropy tier — the q225 readout plus the
    * compressed-block count. `content_len`/`content_sum` price the
    * REGENERATED bytes (payload + 32×last through the sequence + the
    * 16×`~` RLE pad), so a mis-executed sequence or a wrong Huffman
    * table shifts a total even before the checksum catches it.
    */
  case class ZstdEntropyCensus(doc_id: Long, n_skippable: Long,
      n_frames: Long, n_blocks: Long, n_raw: Long, n_rle: Long,
      n_compressed: Long, n_fse_tables: Long, content_len: Long,
      content_sum: Long, seek_id: Long)

  def zstdEntropyCensus(objects: Dataset[ArchiveRow]): Dataset[ZstdEntropyCensus] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      val s = Zstd.decodeStream(a.content)
      require(s.skippablePayloads.size == 1 &&
        s.skippablePayloads.head.length == 8,
        s"zstd object ${a.archive_id}: expected one 8-byte seek frame")
      var seekId = 0L; var i = 0
      val p = s.skippablePayloads.head
      while (i < 8) { seekId |= (p(i) & 0xFFL) << (8 * i); i += 1 }
      ZstdEntropyCensus(
        doc_id = a.archive_id,
        n_skippable = s.skippablePayloads.size.toLong,
        n_frames = s.frames.size.toLong,
        n_blocks = s.frames.iterator.map(_.nBlocks.toLong).sum,
        n_raw = s.frames.iterator.map(_.nRaw.toLong).sum,
        n_rle = s.frames.iterator.map(_.nRle.toLong).sum,
        n_compressed = s.frames.iterator.map(_.nCompressed.toLong).sum,
        n_fse_tables = s.frames.iterator.map(_.nFseTables.toLong).sum,
        content_len = s.frames.iterator.map(_.contentSize).sum,
        content_sum = s.frames.iterator.map(f =>
          f.content.iterator.map(b => (b & 0xFF).toLong).sum).sum,
        seek_id = seekId)
    })
  }

  /** NINTH quarantine container: the plant is the frame-header
    * descriptor's RESERVED BIT (RFC 8878 §3.1.1.1 mandates zero) —
    * offset 20 of the object (16-byte skippable + 4-byte magic),
    * locatable without decoding. Failures become zeroed
    * `decode_ok = 0` rows, never a stage crash.
    */
  def corruptZst(objects: Dataset[ArchiveRow],
      every: Int = 11): Dataset[ArchiveRow] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      if (a.archive_id % every == 0 && a.content.length > 20) {
        val b = a.content.clone()
        b(20) = (b(20) | 0x08).toByte
        ArchiveRow(a.archive_id, b)
      } else a
    })
  }

  case class TriedZstdCensus(doc_id: Long, decode_ok: Long,
      n_skippable: Long, n_frames: Long, n_blocks: Long, n_raw: Long,
      n_rle: Long, content_len: Long, content_sum: Long,
      total_bytes: Long, seek_id: Long)

  def tryZstdCensus(objects: Dataset[ArchiveRow]): Dataset[TriedZstdCensus] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      try {
        val s = Zstd.decodeStream(a.content)
        require(s.skippablePayloads.size == 1 &&
          s.skippablePayloads.head.length == 8,
          "zstd object: expected one 8-byte seek frame")
        var seekId = 0L; var i = 0
        val p = s.skippablePayloads.head
        while (i < 8) { seekId |= (p(i) & 0xFFL) << (8 * i); i += 1 }
        TriedZstdCensus(a.archive_id, 1L,
          s.skippablePayloads.size.toLong,
          s.frames.size.toLong,
          s.frames.iterator.map(_.nBlocks.toLong).sum,
          s.frames.iterator.map(_.nRaw.toLong).sum,
          s.frames.iterator.map(_.nRle.toLong).sum,
          s.frames.iterator.map(_.contentSize).sum,
          s.frames.iterator.map(f =>
            f.content.iterator.map(b => (b & 0xFF).toLong).sum).sum,
          a.content.length.toLong, seekId)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedZstdCensus(a.archive_id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  // -------------------------------------------------- seekable warc.zst

  /** `.warc.zst` archives under the seekable convention: one
    * checksummed zstd frame per response record (raw blocks, no pad —
    * the frame content IS the record) and a TRAILING SEEK TABLE
    * ([[Zstd.encodeSeekTable]]) whose entries a reader uses for
    * random access. Responses only — this tier's subject is the frame
    * index, q213's is the record taxonomy.
    */
  def warcZstFromDocs(spark: SparkSession, docs: DataFrame,
      nArchives: Int = DefaultArchives): Dataset[ArchiveRow] =
    perArchive(spark, docs, nArchives) { (_, rows, out) =>
      val sizes = Vector.newBuilder[(Int, Long)]
      rows.foreach { case (_, id, t, src) =>
        val rec = Warc.encodeRecord("response", s"urn:graft:doc:$id",
          Some(s"https://corpus.example/$src/$id"), "text/plain",
          asciiBytes(t))
        val frame = Zstd.encodeFrame(rec, rleLen = 0, rleByte = 0)
        sizes += ((frame.length, rec.length.toLong))
        out.write(frame, 0, frame.length)
      }
      val table = Zstd.encodeSeekTable(sizes.result())
      out.write(table, 0, table.length)
    }

  /** The `.warc.zst` random-access index — [[CdxEntry]] rows with the
    * FRAME (offset, compressed length) as the seek coordinates. The
    * trailing seek table is VERIFIED against the walked frames first
    * (a lying index is a loud error, never a silent mis-slice).
    */
  def warcZstIndex(archives: Dataset[ArchiveRow]): Dataset[CdxEntry] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.flatMap { a =>
      val s = Zstd.decodeStream(a.content)
      Zstd.verifySeekTable(s)
      s.frames.iterator.map { f =>
        val rs = Warc.decodeRecords(f.content)
        require(rs.size == 1,
          s"warc.zst: frame at ${f.offset} holds ${rs.size} records")
        val r = rs.head
        val id = r.recordId.substring(r.recordId.lastIndexOf(':') + 1).toLong
        CdxEntry(a.archive_id, id, r.targetUri.getOrElse(""),
          f.offset.toLong, f.compressedSize.toLong,
          r.payload.length.toLong,
          r.payload.iterator.map(b => (b & 0xFF).toLong).sum)
      }
    })
  }

  /** TENTH quarantine class — a LYING SEEK TABLE: the index layer's
    * own integrity, distinct from payload corruption (every frame
    * still decodes perfectly; only the random-access metadata is
    * wrong, exactly the failure a seek-based reader cannot survive).
    * The plant flips a byte inside the last entry's declared size,
    * locatable from the stream tail without decoding.
    */
  def corruptSeekTable(archives: Dataset[ArchiveRow],
      every: Int = 6): Dataset[ArchiveRow] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      if (a.archive_id % every == 0 && a.content.length > 12) {
        val b = a.content.clone()
        b(b.length - 5) = (b(b.length - 5) ^ 0x5A).toByte
        ArchiveRow(a.archive_id, b)
      } else a
    })
  }

  /** Never-crash census over the verified index: a failed seek-table
    * verification (or any walk failure) quarantines the archive as a
    * zeroed row; byte totals come from the verified walk.
    */
  case class TriedWarcZstCensus(archive_id: Long, decode_ok: Long,
      n_records: Long, frame_bytes: Long, payload_bytes: Long,
      payload_sum: Long)

  def tryWarcZstCensus(archives: Dataset[ArchiveRow]): Dataset[TriedWarcZstCensus] = {
    import archives.sparkSession.implicits._
    archives.mapPartitions(_.map { a =>
      try {
        val s = Zstd.decodeStream(a.content)
        Zstd.verifySeekTable(s)
        var payloadBytes = 0L; var payloadSum = 0L
        s.frames.foreach { f =>
          val rs = Warc.decodeRecords(f.content)
          require(rs.size == 1, "warc.zst: frame holds != 1 record")
          payloadBytes += rs.head.payload.length
          payloadSum += rs.head.payload.iterator.map(b => (b & 0xFF).toLong).sum
        }
        TriedWarcZstCensus(a.archive_id, 1L, s.frames.size.toLong,
          s.frames.iterator.map(_.compressedSize.toLong).sum,
          payloadBytes, payloadSum)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedWarcZstCensus(a.archive_id, 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  // ------------------------------------------------- jsonl.zst tier

  /** RFC 8259 string escape for the JSONL writer: the two mandatory
    * escapes plus control characters (the short forms where they
    * exist, `\u00XX` otherwise). ASCII payloads in, ASCII JSON out.
    */
  private[web] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** `.jsonl.zst` dataset objects — the shape modern corpus releases
    * actually ship: one JSON document per line, one checksummed zstd
    * frame PER LINE (the seekable convention applied to records), a
    * verified trailing seek table. The JSON itself is written by the
    * engine's own RFC 8259 serializer, so quote/backslash/control
    * escapes are live on the wire whenever the text contains them.
    */
  def jsonlZstFromDocs(spark: SparkSession, docs: DataFrame,
      nArchives: Int = DefaultArchives): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(pmod(col("doc_id"), lit(nArchives)).cast("long").as("aid"),
        col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"),
        coalesce(col("lang"), lit("")).as("lg"),
        coalesce(col("source"), lit("")).as("src"))
      .as[(Long, Long, String, String, String)]
      .groupByKey(_._1)
      .mapGroups { (aid, it) =>
        val rows = it.toArray.sortBy(_._2)
        val out = new java.io.ByteArrayOutputStream()
        val sizes = Vector.newBuilder[(Int, Long)]
        rows.foreach { case (_, id, t, lg, src) =>
          val ascii = new String(asciiBytes(t), Ascii)
          val line = s"""{"id":$id,"text":"${jsonEscape(ascii)}",""" +
            s""""lang":"${jsonEscape(lg)}","source":"${jsonEscape(src)}"}""" +
            "\n"
          val bytes = line.getBytes(Ascii)
          val frame = Zstd.encodeFrame(bytes, rleLen = 0, rleByte = 0)
          sizes += ((frame.length, bytes.length.toLong))
          out.write(frame, 0, frame.length)
        }
        val table = Zstd.encodeSeekTable(sizes.result())
        out.write(table, 0, table.length)
        ArchiveRow(aid, out.toByteArray)
      }
  }

  /** Read a `.jsonl.zst` release back to documents: frames walked
    * (seek table verified), lines parsed by SPARK'S NATIVE `from_json`
    * in FAILFAST mode (codegen'd — no UDF in the parse path; a
    * malformed line is a loud error, not a null row). Returns the
    * documents-shaped relation with the parsed fields.
    */
  def readJsonlZst(spark: SparkSession, archives: Dataset[ArchiveRow]): DataFrame = {
    import spark.implicits._
    val lines = archives.mapPartitions(_.flatMap { a =>
      val s = Zstd.decodeStream(a.content)
      Zstd.verifySeekTable(s)
      s.frames.iterator.map(f => new String(f.content, Ascii).stripLineEnd)
    })
    lines.toDF("line")
      .select(from_json(col("line"), org.apache.spark.sql.types.DataType
          .fromDDL("id BIGINT, text STRING, lang STRING, source STRING")
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        Map("mode" -> "FAILFAST")).as("j"))
      .select(col("j.id").as("doc_id"), col("j.text").as("text"),
        col("j.lang").as("lang"), col("j.source").as("source"),
        length(col("j.text")).cast("long").as("n_chars"))
  }

  // ------------------------------------------- compression dispatcher

  /** A mixed compression lake: per doc one object — gzip member, zstd
    * object (seek frame + data frame, the q225 shape), a draft-framed
    * brotli object (`ce b2 cf 81` + a REAL RFC 7932 stream the
    * engine's own [[Brotli]] walk decodes), or plain bytes — by id
    * residue. What a real ingest actually faces: nobody labels the
    * objects; the magic bytes are the label.
    */
  def mixedCompressionLake(spark: SparkSession, docs: DataFrame): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val payload = asciiBytes(t)
        val bytes = (id % 4) match {
          case 0 => Gzip.member(payload, fname = None, fixedHuffman = false,
            mtime = id)
          case 1 =>
            val seekId = new Array[Byte](8)
            var v = id; var i = 0
            while (i < 8) { seekId(i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
            Zstd.encodeSkippable(seekId) ++
              Zstd.encodeFrame(payload, rleLen = 32, rleByte = '~')
          case 2 =>
            Array(0xCE, 0xB2, 0xCF, 0x81).map(_.toByte) ++
              Brotli.encodeUncompressed(payload)
          case _ => payload // uncompressed
        }
        ArchiveRow(id, bytes)
      })
  }

  /** Magic-byte dispatch census — the router every mixed lake needs
    * before any walker runs: `1f 8b` → gzip, `28 b5 2f fd` /
    * `18 4d 2a 5x` → zstd, `ce b2 cf 81` (the draft `.br` framing
    * magic — RAW brotli has no magic at all, the honest limit of
    * sniffing) → the engine's own RFC 7932 walk ([[Brotli]] — the
    * round-15 `brotli-unsupported` quarantine is GONE), anything else
    * → plain. The gzip and brotli magics carry bytes ≥ 0x80 so ASCII
    * payloads cannot collide with them — a failed walk behind either
    * is real corruption and stays loud; the zstd SKIPPABLE magic is
    * all ≤ 0x7F (`P*M` + 0x18 — a control byte that survives the
    * ASCII projection), so a colliding prefix is possible and that
    * route FALLS BACK to `plain` rather than failing the stage. The
    * detected format drives the REAL walker and the de-framed payload
    * is censused — a mis-route shows up as a wrong byte sum, not just
    * a wrong label.
    */
  case class SniffedObject(doc_id: Long, format: String, payload_len: Long,
      payload_sum: Long, object_len: Long)

  def sniffCompression(objects: Dataset[ArchiveRow]): Dataset[SniffedObject] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      val b = a.content
      def sum(bytes: Array[Byte]): Long =
        bytes.iterator.map(x => (x & 0xFF).toLong).sum
      def plain = ("plain", (b.length.toLong, sum(b)))
      val (fmt, data) =
        if (b.length >= 2 && (b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B) {
          // gzip magic has a byte >= 0x80: no ASCII collision, a failed
          // walk here is real corruption and stays loud
          val ms = Gzip.members(b)
          ("gzip", ms.iterator.map(m => (m.data.length.toLong, sum(m.data)))
            .reduce((x, y) => (x._1 + y._1, x._2 + y._2)))
        } else if (b.length >= 4 && (b(0) & 0xFF) == 0xCE &&
            (b(1) & 0xFF) == 0xB2 && (b(2) & 0xFF) == 0xCF &&
            (b(3) & 0xFF) == 0x81) {
          // the draft framing magic has bytes >= 0x80: no ASCII
          // collision, so a failed walk here is real corruption and
          // stays loud — the payload is one RFC 7932 stream
          val payload = Brotli.decode(
            java.util.Arrays.copyOfRange(b, 4, b.length))
          ("brotli", (payload.length.toLong, sum(payload)))
        } else if (b.length >= 4 && (b(0) & 0xFF) == 0x28 &&
            (b(1) & 0xFF) == 0xB5 && (b(2) & 0xFF) == 0x2F &&
            (b(3) & 0xFF) == 0xFD ||
          b.length >= 4 && (b(0) & 0xF0) == 0x50 && (b(1) & 0xFF) == 0x2A &&
            (b(2) & 0xFF) == 0x4D && (b(3) & 0xFF) == 0x18) {
          // the skippable magic is ASCII-colliding (see scaladoc): a
          // plain payload starting 'P*M'+0x18 reaches here and must
          // fall back, not crash the stage
          try {
            val s = Zstd.decodeStream(b)
            ("zstd", s.frames.iterator
              .map(f => (f.contentSize, sum(f.content)))
              .foldLeft((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2)))
          } catch {
            case scala.util.control.NonFatal(_) => plain
          }
        } else plain
      SniffedObject(a.archive_id, fmt, data._1, data._2, b.length.toLong)
    })
  }

  // --------------------------------------------------- brotli objects

  /** Per-doc `.br` objects (bare RFC 7932 streams — the on-disk shape,
    * no framing magic), synthesized by the engine's own encoder from
    * the shared ASCII projection of `text`. `truncateEvery` > 0 drops
    * the final stream byte of ids divisible by it — a capture cut off
    * in flight, whose loss only the brotli walk itself can detect.
    */
  def brotliLake(spark: SparkSession, docs: DataFrame,
      truncateEvery: Long = 0L): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val enc = Brotli.encodeUncompressed(asciiBytes(t))
        val bytes =
          if (truncateEvery > 0 && id % truncateEvery == 0)
            java.util.Arrays.copyOf(enc, enc.length - 1)
          else enc
        ArchiveRow(id, bytes)
      })
  }

  /** The entropy-flavored lake (r16): odd ids with 1..65536 payload
    * bytes ship ONE ENTROPY-CODED metablock ([[Brotli.encodeCompressed]]
    * — complex flat-8 literal code, one-symbol command/distance codes,
    * a single insert-only command), the rest keep the uncompressed
    * framing — both flavors walked by the same full decoder, the
    * compressed-path grammar now on the driver-checked wire (the q232
    * two-flavor discipline applied to brotli).
    */
  def brotliEntropyLake(spark: SparkSession,
      docs: DataFrame): Dataset[ArchiveRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val payload = asciiBytes(t)
        val bytes =
          if (id % 2 == 1 && payload.length >= 1 && payload.length <= 65536)
            Brotli.encodeCompressed(payload)
          else Brotli.encodeUncompressed(payload)
        ArchiveRow(id, bytes)
      })
  }

  /** Per-object census of the RFC 7932 walk: metablock splits, the
    * decoded payload's byte count/sum, and the wire size — every field
    * priced by the oracle from the uncompressed-framing arithmetic
    * (1 byte empty, else 3·⌈n/65535⌉ + n + 1; ⌈n/65535⌉ data
    * metablocks plus the empty last one).
    */
  case class BrotliCensus(doc_id: Long, wbits: Int, n_metablocks: Long,
      n_uncompressed: Long, n_literals: Long, n_dict_refs: Long,
      out_bytes: Long, sum_out: Long, stream_bytes: Long)

  def brotliCensus(objects: Dataset[ArchiveRow]): Dataset[BrotliCensus] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      val (_, s) = Brotli.decodeWithStats(a.content)
      BrotliCensus(a.archive_id, s.wbits, s.nMetablocks, s.nUncompressed,
        s.nLiterals, s.nDictRefs, s.outBytes, s.sumOut, s.streamBytes)
    })
  }

  /** RECORD-level brotli quarantine: a stream whose walk throws
    * quarantines THAT object (decode_ok = 0, stats zeroed); the rest
    * of the lake keeps flowing — never a stage crash, never a silently
    * wrong statistic.
    */
  case class TriedBrotliCensus(doc_id: Long, decode_ok: Int,
      n_metablocks: Long, out_bytes: Long, sum_out: Long,
      stream_bytes: Long)

  def tryBrotliCensus(
      objects: Dataset[ArchiveRow]): Dataset[TriedBrotliCensus] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.map { a =>
      try {
        val (_, s) = Brotli.decodeWithStats(a.content)
        TriedBrotliCensus(a.archive_id, 1, s.nMetablocks, s.outBytes,
          s.sumOut, s.streamBytes)
      } catch {
        case scala.util.control.NonFatal(_) =>
          TriedBrotliCensus(a.archive_id, 0, 0L, 0L, 0L,
            a.content.length.toLong)
      }
    })
  }

  // --------------------------------------------- boilerplate removal

  // HTML-safe ASCII sub-stream: the shared synthesis contract minus
  // the three markup metacharacters, so the payload embeds in element
  // text without entity escaping and the oracle mirrors the filter
  // verbatim (`ord(c) BETWEEN 0 AND 127 AND c NOT IN ('<','>','&')`).
  private def htmlSafeAscii(t: String): String =
    new String(asciiBytes(t).filter(b =>
      b != '<'.toByte && b != '>'.toByte && b != '&'.toByte), Ascii)

  /** Synthesized crawl pages: real chrome (`<nav>`, `<footer>`, a
    * `<style>` raw-text block) around the content paragraph, a
    * link-farm `<div>` on even ids (75% link density — only the
    * density rule removes it, it carries no chrome tag), and a second
    * content block on every 5th id (so block joining is exercised).
    * Blocks sit back-to-back (no inter-block whitespace text nodes),
    * keeping the top-level child walk element-only.
    */
  def htmlPageFor(id: Long, text: String): String = {
    val menu =
      if (id % 2 == 0)
        "<div class=\"menu\"><a href=\"/a\">AA</a><a href=\"/b\">BB</a>" +
          "<a href=\"/c\">CC</a> x</div>"
      else ""
    val extra = if (id % 5 == 0) s"""<div class="more">extra $id</div>""" else ""
    s"""<html><head><title>doc $id</title><style>p{color:#000}</style></head>""" +
      "<body>" +
      "<nav><a href=\"/\">home</a><a href=\"/all\">index</a></nav>" +
      menu +
      s"<p>${htmlSafeAscii(text)}</p>" +
      extra +
      "<footer>(c) corpus.example</footer>" +
      "</body></html>"
  }

  /** One extraction row per page: the surviving main text (the value a
    * training corpus keeps), its length, and the block keep/drop
    * counts. Map-only over the page column.
    */
  case class MainText(doc_id: Long, main_text: String, main_len: Long,
      n_kept: Long, n_dropped_dense: Long)

  def extractMainText(spark: SparkSession, docs: DataFrame): Dataset[MainText] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val ex = Boilerplate.extractMain(htmlPageFor(id, t))
        MainText(id, ex.mainText, ex.mainText.length.toLong,
          ex.kept.toLong, ex.droppedDense.toLong)
      })
  }

  // ------------------------------------------------- recrawl delta

  /** The second crawl's view of the corpus: every 4th document changed
    * since the first capture (a deterministic ASCII suffix — appending
    * commutes with the ASCII projection, so the oracle prices the
    * delta exactly).
    */
  def recrawlDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(coalesce(col("text"), lit("")), lit(" u"),
          col("doc_id").cast("string")))
        .otherwise(col("text")))

  /** Crawl-over-crawl change census: both generations' `.warc.gz`
    * archives REALLY rebuilt and re-walked to CDX entries, joined per
    * URI on the 8-byte doc key, changed = the (length, byte-sum)
    * payload digest pair differs — per source the URI counts, change
    * split, and byte growth a recrawl scheduler budgets from.
    */
  case class RecrawlDelta(source: String, n_uris: Long, n_changed: Long,
      n_unchanged: Long, bytes_old: Long, bytes_new: Long,
      bytes_added: Long)

  /** Per-URI change relation both crawl generations agree on: CDX
    * entries of the old and new captures joined on the 8-byte doc key,
    * changed = the (length, byte-sum) digest pair differs. Feeds the
    * per-source rollup (q223) and the refetch worklist (q224).
    */
  private def recrawlChanges(spark: SparkSession, docs: DataFrame): DataFrame = {
    val cdx1 = cdxIndex(warcGzFromDocs(spark, docs))
      .select(col("doc_id"), col("target_uri"),
        col("payload_len").as("len1"), col("payload_sum").as("sum1"))
    val cdx2 = cdxIndex(warcGzFromDocs(spark, recrawlDocs(docs)))
      .select(col("doc_id"),
        col("payload_len").as("len2"), col("payload_sum").as("sum2"))
    cdx1.join(cdx2, Seq("doc_id"))
      .withColumn("source",
        regexp_extract(col("target_uri"), "https://corpus\\.example/([^/]*)/", 1))
      .withColumn("changed",
        when(col("len1") =!= col("len2") || col("sum1") =!= col("sum2"), 1L)
          .otherwise(0L))
  }

  def recrawlDelta(spark: SparkSession, docs: DataFrame): Dataset[RecrawlDelta] = {
    import spark.implicits._
    recrawlChanges(spark, docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_uris"),
        sum(col("changed")).as("n_changed"),
        (count(lit(1)) - sum(col("changed"))).as("n_unchanged"),
        sum(col("len1")).as("bytes_old"),
        sum(col("len2")).as("bytes_new"),
        sum(col("len2") - col("len1")).as("bytes_added"))
      .as[RecrawlDelta]
  }

  /** The recrawl pipeline's ACTIONABLE output — three tiers composed:
    * URIs whose content changed between captures (the CDX digest
    * delta), that robots still allows under the crawler's token, laid
    * out per source at `Crawl-delay` spacing. This is the worklist a
    * distributed refetcher executes; everything it joins is
    * doc-keyed (8-byte) and the window partitions on the source
    * string itself (an xxhash64 key could let two colliding sources
    * silently interleave their seq numbering).
    */
  case class RefetchSlot(doc_id: Long, source: String, seq: Long,
      fetch_at_s: Long, bytes_then: Long, bytes_now: Long)

  def refetchWorklist(spark: SparkSession, docs: DataFrame,
      agent: String = "graftbot"): Dataset[RefetchSlot] = {
    import spark.implicits._
    val changed = recrawlChanges(spark, docs)
      .filter(col("changed") === 1L)
      .select(col("doc_id"), col("source"), col("len1"), col("len2"))
    val allowed = robotsAudit(spark, docs, agent)
      .filter(col("allowed") === 1L)
      .select(col("doc_id"), col("crawl_delay"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    changed.join(allowed, Seq("doc_id"))
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .select(col("doc_id"), col("source"), col("seq"),
        (col("seq") * col("crawl_delay")).as("fetch_at_s"),
        col("len1").as("bytes_then"), col("len2").as("bytes_now"))
      .as[RefetchSlot]
  }

  // ------------------------------------------------------ robots.txt

  /** The digits of a `srcK` source name (the corpus convention), 0 when
    * absent — drives the synthesized robots content deterministically.
    */
  private def sourceIdx(src: String): Int = {
    val d = src.dropWhile(!_.isDigit).takeWhile(_.isDigit)
    if (d.isEmpty) 0 else d.toInt
  }

  /** Deterministic robots.txt for a source section: every third source
    * publishes a SPECIFIC `graftbot` group plus a deny-all `*`
    * fallback (so group selection is load-bearing — picking `*` there
    * flips every verdict); the rest publish one `*` group. The rule
    * set exercises the RFC 9309 corners on the `/srcK/<id>` paths:
    * prefix disallow, a LONGER allow carving an exception back out, a
    * `$`-anchored exact disallow, and a `*`-wildcard disallow — with
    * deliberate equal-length allow/disallow ties (ids `12x` containing
    * a 9) where the spec says allow wins.
    */
  def robotsTxtFor(src: String): String = {
    val k = sourceIdx(src)
    val rules =
      s"""Crawl-delay: ${k + 1}
         |Disallow: /$src/1
         |Allow: /$src/12
         |Disallow: /$src/7$$
         |Disallow: /$src/*9
         |""".stripMargin
    if (k % 3 == 0)
      s"""# robots for $src (specific bot group + deny-all fallback)
         |User-agent: graftbot
         |$rules
         |User-agent: *
         |Disallow: /
         |""".stripMargin
    else
      s"""# robots for $src
         |User-agent: *
         |$rules""".stripMargin
  }

  /** One verdict per document URI under the crawler's product token:
    * the selected group, the allow/deny decision with the winning rule
    * length (RFC 9309 longest-match precedence), and the group's crawl
    * delay. robots.txt is parsed once per source per partition (a
    * per-partition memo — at 100 TB robots are a tiny broadcast-side
    * relation, the walk stays map-only).
    */
  case class RobotsVerdict(doc_id: Long, source: String, grp: String,
      allowed: Long, rule_len: Long, crawl_delay: Long)

  def robotsAudit(spark: SparkSession, docs: DataFrame,
      agent: String = "graftbot"): Dataset[RobotsVerdict] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("source"), lit("")).as("src"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, (String, Robots.Group)]
        it.map { case (id, src) =>
          val (grpName, grp) = memo.getOrElseUpdate(src,
            Robots.select(Robots.parse(robotsTxtFor(src)), agent))
          val (allowed, ruleLen) = Robots.decide(grp, s"/$src/$id")
          RobotsVerdict(id, src, grpName, if (allowed) 1L else 0L,
            ruleLen.toLong, grp.crawlDelay)
        }
      }
  }

  /** The politeness fetch plan: robots-allowed URIs per source, in id
    * order, each assigned `seq * Crawl-delay` seconds — the worklist a
    * distributed recrawler executes per host queue. The window
    * partitions on the SOURCE STRING itself (Spark hashes the key
    * internally): an xxhash64-derived key here would make two sources
    * colliding on 64 bits interleave their seq numbering — a silent
    * divergence the string key cannot have.
    */
  case class FetchSlot(doc_id: Long, source: String, seq: Long,
      fetch_at_s: Long)

  def fetchSchedule(spark: SparkSession, docs: DataFrame,
      agent: String = "graftbot"): Dataset[FetchSlot] = {
    import spark.implicits._
    val verdicts = robotsAudit(spark, docs, agent)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    verdicts.filter(col("allowed") === 1L)
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .select(col("doc_id"), col("source"), col("seq"),
        (col("seq") * col("crawl_delay")).as("fetch_at_s"))
      .as[FetchSlot]
  }
}
