package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.web.WebLake

/** Round-14 compressed web-archive surface — the Common-Crawl-shaped
  * front door: multi-member gzip bundles and `.warc.gz` archives are
  * synthesized from the document corpus with genuine RFC 1951/1952 and
  * ISO 28500 bytes on the wire ([[graft.web.Deflate]], [[graft.web.Gzip]],
  * [[graft.web.Warc]]), then REALLY WALKED back — member census, WARC
  * record census, the CDX random-access index, the seventh quarantine
  * container, and the end-to-end archive → text → token-screen extract.
  * Every field is predicted by the DuckDB oracle from the source
  * columns and the codecs' size arithmetic (a fixed-Huffman member of
  * an n-byte ASCII payload is exactly n+2 deflate bytes; a stored one
  * 5·⌈n/65535⌉+n), so a mis-walked boundary or a wrong inflate
  * hash-mismatches.
  *
  * Scale: synthesis shuffles once on the 8-byte archive id (at 100 TB
  * it is replaced by `binaryFile` scans of real archives); every walk
  * is map-only, and the CDX index is precisely what lets a
  * 1000-executor cluster read a crawl record-parallel.
  */
object WebQueries {

  type Q = (SparkSession, String) => DataFrame

  // Shared oracle CTE: per doc the ASCII payload codes, the archive
  // bucket, and both deflate-size formulas (see Deflate's scaladoc).
  private val DocsCte =
    """a AS (
      |  SELECT doc_id,
      |    coalesce(source, '') AS src,
      |    doc_id % 32 AS aid,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, src, aid, codes,
      |    len(codes) AS n,
      |    coalesce(list_sum(codes), 0) AS psum,
      |    CASE WHEN doc_id % 2 = 1 THEN len(codes) + 2
      |         ELSE 5 * greatest(1, CAST(ceil(len(codes) / 65535.0) AS BIGINT))
      |              + len(codes) END AS defl
      |  FROM a)""".stripMargin

  /** q212 — GZIP MEMBER CENSUS: per archive bucket, the multi-member
    * walk's full readout — member count, DEFLATE-mode split (both
    * shipped encoders live on the wire by id parity), total and max
    * compressed sizes, ISIZE and payload-byte-value sums (content
    * identity through inflate, not just lengths), and the MTIME sum.
    * The oracle re-derives every member's size from the header
    * arithmetic (10 header + FNAME + 1 + deflate + 8 trailer).
    */
  val q212_gzip_member_census: Q = (s, d) =>
    WebLake.gzipMemberCensus(
        WebLake.gzipBundleFromDocs(s, Tables.documents(s, d)))
      .toDF()

  val q212Sql: String =
    s"""WITH $DocsCte,
       |m AS (
       |  SELECT aid, doc_id, n, psum, defl,
       |    27 + length(CAST(doc_id AS VARCHAR)) + defl AS member_len
       |  FROM d)
       |SELECT CAST(aid AS BIGINT) AS archive_id,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fixed,
       |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_stored,
       |  CAST(count(*) AS BIGINT) AS n_named,
       |  CAST(sum(member_len) AS BIGINT) AS total_bytes,
       |  CAST(sum(n) AS BIGINT) AS sum_isize,
       |  CAST(sum(psum) AS BIGINT) AS sum_payload,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_mtime,
       |  CAST(max(member_len) AS BIGINT) AS max_member_len
       |FROM m GROUP BY aid ORDER BY archive_id""".stripMargin

  // WARC record/member size arithmetic, shared by q213/q214: the
  // response header is the encoder's fixed field order priced line by
  // line; the warcinfo record is a per-archive constant except for the
  // archive-id digits. Members are stored-deflate, no FNAME.
  private val WarcCte =
    s"""$DocsCte,
       |r AS (
       |  SELECT doc_id, src, aid, n, psum,
       |    10 + length('WARC-Type: response') + 2
       |       + length('WARC-Record-ID: <urn:graft:doc:' ||
       |           CAST(doc_id AS VARCHAR) || '>') + 2
       |       + length('WARC-Target-URI: https://corpus.example/' ||
       |           src || '/' || CAST(doc_id AS VARCHAR)) + 2
       |       + length('Content-Type: text/plain') + 2
       |       + length('Content-Length: ' || CAST(n AS VARCHAR)) + 2
       |       + 2 AS hdr
       |  FROM d),
       |rm AS (
       |  SELECT doc_id, src, aid, n, psum, hdr,
       |    hdr + n + 4 AS rec_len,
       |    18 + 5 * greatest(1, CAST(ceil((hdr + n + 4) / 65535.0) AS BIGINT))
       |       + hdr + n + 4 AS member_len
       |  FROM r),
       |info AS (
       |  SELECT aid,
       |    10 + length('WARC-Type: warcinfo') + 2
       |       + length('WARC-Record-ID: <urn:graft:archive:' ||
       |           CAST(aid AS VARCHAR) || '>') + 2
       |       + length('Content-Type: application/warc-fields') + 2
       |       + length('Content-Length: 26') + 2
       |       + 2 AS ihdr,
       |    26 AS ilen,
       |    list_sum([ord(c) for c in
       |      string_split('software: graft-warc/1.0', '')]) + 13 + 10
       |      AS ipsum
       |  FROM (SELECT DISTINCT aid FROM d)),
       |im AS (
       |  SELECT aid, ihdr, ilen, ipsum,
       |    ihdr + ilen + 4 AS irec_len,
       |    18 + 5 + ihdr + ilen + 4 AS imember_len
       |  FROM info)""".stripMargin

  /** q213 — WARC RECORD CENSUS: per `.warc.gz` archive, the
    * gunzip-then-parse readout — record counts by type (the warcinfo
    * preamble + one response per doc, each its own gzip member, the
    * random-access convention), header/payload byte totals, the
    * payload byte-value sum, the whole-file size, and the largest
    * record. The oracle prices every header line of the encoder's
    * fixed field order — one byte of drift anywhere in the stack
    * (deflate, gzip framing, record slicing) shifts a total.
    */
  val q213_warc_record_census: Q = (s, d) =>
    WebLake.warcRecordCensus(
        WebLake.warcGzFromDocs(s, Tables.documents(s, d)))
      .toDF()

  val q213Sql: String =
    s"""WITH $WarcCte
       |SELECT CAST(rm.aid AS BIGINT) AS archive_id,
       |  CAST(count(*) + 1 AS BIGINT) AS n_records,
       |  CAST(count(*) AS BIGINT) AS n_responses,
       |  CAST(1 AS BIGINT) AS n_warcinfo,
       |  CAST(sum(hdr) + any_value(ihdr) AS BIGINT) AS header_bytes,
       |  CAST(sum(n) + any_value(ilen) AS BIGINT) AS payload_bytes,
       |  CAST(sum(psum) + any_value(ipsum) AS BIGINT) AS sum_payload,
       |  CAST(sum(member_len) + any_value(imember_len) AS BIGINT)
       |    AS total_bytes,
       |  CAST(greatest(max(rec_len), any_value(irec_len)) AS BIGINT)
       |    AS max_record_len
       |FROM rm JOIN im ON rm.aid = im.aid
       |GROUP BY rm.aid ORDER BY archive_id""".stripMargin

  /** q214 — CDX RANDOM-ACCESS INDEX: one row per response record with
    * its gzip member's (offset, compressed length) plus the payload
    * length and byte-value sum — the index a 1000-executor cluster
    * uses to fan a 100 TB crawl out record-parallel without scanning
    * archives end to end. Offsets are re-derived by the oracle as
    * cumulative window sums over the per-member sizes (the q207
    * seek-index discipline), seeded by the warcinfo member each
    * archive opens with.
    */
  val q214_cdx_index: Q = (s, d) =>
    WebLake.cdxIndex(
        WebLake.warcGzFromDocs(s, Tables.documents(s, d)))
      .toDF()

  val q214Sql: String =
    s"""WITH $WarcCte
       |SELECT CAST(rm.aid AS BIGINT) AS archive_id,
       |  CAST(doc_id AS BIGINT) AS doc_id,
       |  'https://corpus.example/' || src || '/' || CAST(doc_id AS VARCHAR)
       |    AS target_uri,
       |  CAST(imember_len
       |    + sum(member_len) OVER (PARTITION BY rm.aid ORDER BY doc_id
       |        ROWS UNBOUNDED PRECEDING)
       |    - member_len AS BIGINT) AS member_offset,
       |  CAST(member_len AS BIGINT) AS member_len,
       |  CAST(n AS BIGINT) AS payload_len,
       |  CAST(psum AS BIGINT) AS payload_sum
       |FROM rm JOIN im ON rm.aid = im.aid
       |ORDER BY doc_id""".stripMargin

  /** q215 — GZIP QUARANTINE PARITY, the SEVENTH container under the
    * q178/q184/q200/q205 production contract: every fifth archive gets
    * the RESERVED FLG BITS of its first member's header set (RFC 1952
    * §2.3.1 — the format's own always-zero field), the walk is really
    * attempted, and failures become zeroed `decode_ok = 0` rows —
    * never a stage crash. The oracle nests q212's census and predicts
    * exactly which archives quarantine.
    */
  val q215_gzip_quarantine: Q = (s, d) =>
    WebLake.tryGzipCensus(
        WebLake.corruptGzipBundle(
          WebLake.gzipBundleFromDocs(s, Tables.documents(s, d))))
      .toDF()

  val q215Sql: String =
    s"""WITH census AS ( $q212Sql )
       |SELECT archive_id,
       |  CAST(CASE WHEN archive_id % 5 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE n_members END AS n_members,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE n_fixed END AS n_fixed,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE n_stored END AS n_stored,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE n_named END AS n_named,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE total_bytes END
       |    AS total_bytes,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE sum_isize END AS sum_isize,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE sum_payload END
       |    AS sum_payload,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE sum_mtime END AS sum_mtime,
       |  CASE WHEN archive_id % 5 = 0 THEN 0 ELSE max_member_len END
       |    AS max_member_len
       |FROM census ORDER BY archive_id""".stripMargin

  /** q216 — THE FRONT DOOR END TO END: `.warc.gz` bytes → gunzip →
    * WARC record → payload text → whitespace token screen, one row per
    * response doc with the keep/drop decision — the first quality gate
    * a crawl-scale ingest applies. The oracle recomputes the token
    * count from the source text's ASCII projection, so the text must
    * survive DEFLATE, gzip framing, and record slicing byte-exactly
    * for the row to match.
    */
  val q216_web_extract: Q = (s, d) =>
    WebLake.extractWebDocs(
        WebLake.warcGzFromDocs(s, Tables.documents(s, d)))
      .toDF()

  val q216Sql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    array_to_string([c for c in string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127], '') AS asc_text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, asc_text,
      |    len([w for w in string_split_regex(asc_text, '\s+') if w <> ''])
      |      AS n_tokens,
      |    [ord(c) for c in string_split(asc_text, '')] AS codes
      |  FROM a)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(len(codes) AS BIGINT) AS n_bytes,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS sum_bytes,
      |  CAST(CASE WHEN n_tokens >= 8 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM t ORDER BY doc_id""".stripMargin

  /** q217 — ROBOTS.TXT COMPLIANCE AUDIT (RFC 9309): every document URI
    * judged under the crawler's product token against its source
    * section's robots.txt — parsed by the real grammar
    * ([[graft.web.Robots]]), with group selection load-bearing (every
    * third source pairs a specific `graftbot` group with a DENY-ALL
    * `*` fallback — choosing the wrong group flips every verdict),
    * longest-match precedence across prefix/anchored/wildcard rules,
    * and the spec's allow-wins-ties corner live in the data (ids
    * `12…9`). The oracle re-derives each rule's match and octet length
    * independently.
    */
  val q217_robots_audit: Q = (s, d) =>
    WebLake.robotsAudit(s, Tables.documents(s, d))
      .toDF()

  // The four synthesized rules priced per URI: best allow vs best
  // disallow octet lengths, -1 when unmatched (no match at all ->
  // allowed with rule_len 0).
  private val RobotsCte =
    """s AS (
      |  SELECT doc_id, coalesce(source, '') AS src,
      |    CAST(doc_id AS VARCHAR) AS idstr,
      |    CAST(substr(coalesce(source, ''), 4) AS INTEGER) AS k
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, src, k,
      |    CASE WHEN starts_with(idstr, '12') THEN length(src) + 4
      |         ELSE -1 END AS ba,
      |    greatest(
      |      CASE WHEN starts_with(idstr, '1') THEN length(src) + 3
      |           ELSE -1 END,
      |      CASE WHEN idstr = '7' THEN length(src) + 4 ELSE -1 END,
      |      CASE WHEN idstr LIKE '%9%' THEN length(src) + 4 ELSE -1 END)
      |      AS bd
      |  FROM s)""".stripMargin

  val q217Sql: String =
    s"""WITH $RobotsCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  src AS source,
       |  CASE WHEN k % 3 = 0 THEN 'graftbot' ELSE '*' END AS grp,
       |  CAST(CASE WHEN ba >= bd THEN 1 ELSE 0 END AS BIGINT) AS allowed,
       |  CAST(CASE WHEN ba < 0 AND bd < 0 THEN 0
       |            ELSE greatest(ba, bd) END AS BIGINT) AS rule_len,
       |  CAST(k + 1 AS BIGINT) AS crawl_delay
       |FROM v ORDER BY doc_id""".stripMargin

  /** q218 — POLITENESS FETCH SCHEDULE: the robots-allowed URIs per
    * source in id order, each assigned `seq × Crawl-delay` seconds —
    * the per-host queue a distributed recrawler executes. Governance
    * (q217) made consumable: the window partitions on an 8-byte
    * source key.
    */
  val q218_fetch_schedule: Q = (s, d) =>
    WebLake.fetchSchedule(s, Tables.documents(s, d))
      .toDF()

  val q218Sql: String =
    s"""WITH $RobotsCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  src AS source,
       |  CAST(row_number() OVER (PARTITION BY src ORDER BY doc_id) - 1
       |    AS BIGINT) AS seq,
       |  CAST((row_number() OVER (PARTITION BY src ORDER BY doc_id) - 1)
       |    * (k + 1) AS BIGINT) AS fetch_at_s
       |FROM v WHERE ba >= bd
       |ORDER BY doc_id""".stripMargin

  /** q219 — HTTP-IN-WARC CENSUS (RFC 9112): the response records now
    * carry FULL HTTP messages (`application/http;msgtype=response`,
    * the Common Crawl convention — q213's tier stores bare bodies), a
    * third framing layer the ingest must walk: status line, header
    * block, then Content-Length OR chunked transfer coding (hex-sized
    * CRLF-delimited chunks, zero-chunk close) — and NOW a fourth, the
    * CONTENT coding: odd ids ship compressed bodies (real crawls are
    * mostly compressed on the wire) — `gzip` by default, zlib
    * `deflate` on ids ≡ 0 (mod 5), and `br` on ids ≡ 3 (mod 5), each
    * decoded by the engine's OWN walk (RFC 1952 / 1950 / 7932) AFTER
    * chunk de-framing, the RFC 9110 §8.4 order. Every 17th id is a
    * 404 with an empty body, every 3rd is chunked — status, transfer,
    * and all THREE content codings live on one wire. The oracle
    * prices the status lines, each header line, the per-coding wire
    * arithmetic (gzip 18 + 5·⌈n/65535⌉ + n; zlib 6 + 5·⌈n/65535⌉ + n;
    * brotli 3·⌈n/65535⌉ + n + 1, 1 when empty), and the chunk framing
    * over the ENCODED body (⌊wb/100⌋ full chunks of 106 wire bytes +
    * the hex-width remainder + the 5-byte close), while body/sum
    * fields price the DECODED bytes — content identity through every
    * coding.
    */
  val q219_http_census: Q = (s, d) =>
    WebLake.httpResponseCensus(
        WebLake.warcHttpFromDocs(s, Tables.documents(s, d)))
      .toDF()

  // The HTTP message priced per doc: 404/chunked/content-coding splits,
  // header bytes by line, the gzip member arithmetic (stored deflate,
  // no FNAME: 18 + 5*ceil(n/65535) + n), the zlib `deflate` arithmetic
  // (2-byte header + stored blocks + Adler-32: 6 + 5*ceil(n/65535) + n)
  // and the brotli uncompressed-framing arithmetic (1 byte empty, else
  // 3*ceil(n/65535) + n + 1) for the encoded shares, chunk framing
  // over the ENCODED body, and the message total. Content-Length
  // counts the wire body; body/sum fields price the DECODED bytes.
  private val HttpCte =
    """a2 AS (
      |  SELECT doc_id,
      |    doc_id % 32 AS aid,
      |    doc_id % 17 = 0 AS nf,
      |    doc_id % 3 = 0 AS ch,
      |    doc_id % 2 = 1 AND doc_id % 17 <> 0 AND doc_id % 5 <> 0
      |      AND doc_id % 5 <> 3 AS gz,
      |    doc_id % 2 = 1 AND doc_id % 17 <> 0 AND doc_id % 5 = 0 AS df,
      |    doc_id % 2 = 1 AND doc_id % 17 <> 0 AND doc_id % 5 = 3 AS br,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, aid, nf, ch, gz, df, br,
      |    CASE WHEN nf THEN 0 ELSE len(codes) END AS n,
      |    CASE WHEN nf THEN 0 ELSE coalesce(list_sum(codes), 0) END AS ps,
      |    len(codes) AS rawn
      |  FROM a2),
      |hw AS (
      |  SELECT doc_id, aid, nf, ch, gz, df, br, n, ps, rawn,
      |    CASE WHEN nf THEN 0
      |         WHEN gz THEN 18 + 5 * greatest(1,
      |             CAST(ceil(n / 65535.0) AS BIGINT)) + n
      |         WHEN df THEN 6 + 5 * greatest(1,
      |             CAST(ceil(n / 65535.0) AS BIGINT)) + n
      |         WHEN br THEN CASE WHEN n = 0 THEN 1
      |             ELSE 3 * CAST(ceil(n / 65535.0) AS BIGINT) + n + 1 END
      |         ELSE n END AS wb
      |  FROM h),
      |hm AS (
      |  SELECT doc_id, aid, nf, ch, gz, df, br, n, ps, rawn, wb,
      |    CASE WHEN nf THEN 24 ELSE 17 END + 19 + 26
      |      + CASE WHEN gz THEN 24 WHEN df THEN 27 WHEN br THEN 22
      |             ELSE 0 END
      |      + CASE WHEN ch THEN 28
      |             ELSE 18 + length(CAST(wb AS VARCHAR)) END + 2 AS hdr,
      |    CASE WHEN ch THEN (wb // 100) * 106
      |        + CASE WHEN wb % 100 > 0
      |               THEN length(to_hex(wb % 100)) + 4 + (wb % 100)
      |               ELSE 0 END + 5
      |      ELSE wb END AS wire
      |  FROM hw)""".stripMargin

  val q219Sql: String =
    s"""WITH $HttpCte
       |SELECT CAST(aid AS BIGINT) AS archive_id,
       |  CAST(count(*) AS BIGINT) AS n_responses,
       |  CAST(sum(CASE WHEN nf THEN 0 ELSE 1 END) AS BIGINT) AS n_200,
       |  CAST(sum(CASE WHEN nf THEN 1 ELSE 0 END) AS BIGINT) AS n_404,
       |  CAST(sum(CASE WHEN ch THEN 1 ELSE 0 END) AS BIGINT) AS n_chunked,
       |  CAST(sum(CASE WHEN gz THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
       |  CAST(sum(CASE WHEN df THEN 1 ELSE 0 END) AS BIGINT) AS n_deflate,
       |  CAST(sum(CASE WHEN br THEN 1 ELSE 0 END) AS BIGINT) AS n_brotli,
       |  CAST(sum(hdr) AS BIGINT) AS http_header_bytes,
       |  CAST(sum(n) AS BIGINT) AS body_bytes,
       |  CAST(sum(ps) AS BIGINT) AS sum_body,
       |  CAST(sum(wire) AS BIGINT) AS wire_bytes,
       |  CAST(max(hdr + wire) AS BIGINT) AS max_msg_len
       |FROM hm GROUP BY aid ORDER BY archive_id""".stripMargin

  /** q220 — HTTP FRAMING QUARANTINE, record-level (the EIGHTH
    * container class): every 23rd id's first chunk-size line gets a
    * non-hex byte — a garbled capture whose gzip CRC and WARC framing
    * are PRISTINE, detectable only by the HTTP walk (the layer-three
    * analogue of q215's layer-one reserved-bit plant). The bad record
    * quarantines alone; the rest of its archive keeps flowing — and
    * byte totals cover the parseable records only.
    */
  val q220_http_quarantine: Q = (s, d) =>
    WebLake.tryHttpCensus(
        WebLake.warcHttpFromDocs(s, Tables.documents(s, d),
          corruptEvery = 23L))
      .toDF()

  val q220Sql: String =
    s"""WITH $HttpCte,
       |t AS (
       |  SELECT aid, n, ps,
       |    (doc_id % 23 = 0 AND ch AND NOT nf AND wb >= 16) AS bad
       |  FROM hm)
       |SELECT CAST(aid AS BIGINT) AS archive_id,
       |  CAST(count(*) AS BIGINT) AS n_responses,
       |  CAST(sum(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_http_ok,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_http_bad,
       |  CAST(sum(CASE WHEN bad THEN 0 ELSE n END) AS BIGINT) AS body_bytes,
       |  CAST(sum(CASE WHEN bad THEN 0 ELSE ps END) AS BIGINT) AS sum_body
       |FROM t GROUP BY aid ORDER BY archive_id""".stripMargin

  /** q221 — THE FULL-STACK EXTRACT: gzip member → WARC record → HTTP
    * message → de-framed body → token screen, one row per fetched URI
    * with the keep/drop decision; 404s surface as empty kept-out rows
    * (the ingest ledger records every fetch, not just the successes).
    * q216's byte-exactness contract extended through the third AND
    * fourth layers — chunk re-assembly must splice the gzip member
    * back byte-perfectly and the inflate must recover the text, or
    * the token counts shift.
    */
  val q221_http_extract: Q = (s, d) =>
    WebLake.extractHttpDocs(
        WebLake.warcHttpFromDocs(s, Tables.documents(s, d)))
      .toDF()

  val q221Sql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    doc_id % 17 = 0 AS nf,
      |    array_to_string([c for c in string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127], '') AS asc_text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, nf,
      |    CASE WHEN nf THEN 0
      |      ELSE len([w for w in string_split_regex(asc_text, '\s+')
      |                if w <> '']) END AS n_tokens,
      |    CASE WHEN nf THEN [] ELSE
      |      [ord(c) for c in string_split(asc_text, '')] END AS codes
      |  FROM a)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(len(codes) AS BIGINT) AS n_bytes,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS sum_bytes,
      |  CAST(CASE WHEN n_tokens >= 8 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM t ORDER BY doc_id""".stripMargin

  /** q222 — BOILERPLATE REMOVAL (the CCNet/RefinedWeb extraction
    * tier): synthesized crawl pages with real chrome (`nav`/`footer`/
    * raw-text `style`) around the content paragraph, a link-farm
    * `div` on even ids that NO TAG RULE catches — only the 75%
    * link-density heuristic drops it — and a second content block on
    * every 5th id so block joining is live. The surviving main TEXT
    * itself is emitted and hash-compared: a mis-parsed entity, a
    * leaked menu, or a wrong join byte mismatches.
    */
  val q222_boilerplate_extract: Q = (s, d) =>
    WebLake.extractMainText(s, Tables.documents(s, d))
      .toDF()

  val q222Sql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    array_to_string([c for c in string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127 AND c NOT IN ('<', '>', '&')], '')
      |      AS asc_text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    asc_text || CASE WHEN doc_id % 5 = 0
      |      THEN chr(10) || 'extra ' || CAST(doc_id AS VARCHAR)
      |      ELSE '' END AS main_text
      |  FROM a)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  main_text,
      |  CAST(length(main_text) AS BIGINT) AS main_len,
      |  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
      |    AS n_kept,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_dropped_dense
      |FROM t ORDER BY doc_id""".stripMargin

  /** q223 — RECRAWL DELTA: two crawl generations' `.warc.gz` archives
    * REALLY rebuilt and re-walked to CDX entries (every 4th doc grew a
    * suffix between captures), joined per URI on the 8-byte doc key;
    * changed = the (length, byte-sum) payload digest pair differs.
    * Per source: URI counts, the change split, and the byte growth a
    * recrawl scheduler budgets from.
    */
  val q223_recrawl_delta: Q = (s, d) =>
    WebLake.recrawlDelta(s, Tables.documents(s, d))
      .toDF()

  val q223Sql: String =
    """WITH a AS (
      |  SELECT doc_id, coalesce(source, '') AS src,
      |    len([ord(c) for c in string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127]) AS n1
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, src, n1,
      |    CASE WHEN doc_id % 4 = 0
      |      THEN n1 + length(' u' || CAST(doc_id AS VARCHAR))
      |      ELSE n1 END AS n2,
      |    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS chg
      |  FROM a)
      |SELECT src AS source,
      |  CAST(count(*) AS BIGINT) AS n_uris,
      |  CAST(sum(chg) AS BIGINT) AS n_changed,
      |  CAST(count(*) - sum(chg) AS BIGINT) AS n_unchanged,
      |  CAST(sum(n1) AS BIGINT) AS bytes_old,
      |  CAST(sum(n2) AS BIGINT) AS bytes_new,
      |  CAST(sum(n2 - n1) AS BIGINT) AS bytes_added
      |FROM b GROUP BY src ORDER BY source""".stripMargin

  /** q224 — SELECTIVE REFETCH WORKLIST, three tiers composed into the
    * recrawl pipeline's actionable output: URIs whose content CHANGED
    * between captures (both generations' archives really re-walked to
    * CDX digests), that robots STILL ALLOWS under the crawler's token
    * (q217's full precedence machinery), laid out per source at
    * `Crawl-delay` spacing (q218's politeness discipline) with the
    * old/new byte sizes a bandwidth budgeter reads. Every join is
    * doc-keyed; the per-host window partitions on the source string
    * (collision-free, low-cardinality — see q218).
    */
  val q224_refetch_worklist: Q = (s, d) =>
    WebLake.refetchWorklist(s, Tables.documents(s, d))
      .toDF()

  val q224Sql: String =
    s"""WITH $RobotsCte,
       |n AS (
       |  SELECT doc_id,
       |    len([ord(c) for c in string_split(coalesce(text, ''), '')
       |      if ord(c) BETWEEN 0 AND 127]) AS n1
       |  FROM documents),
       |sel AS (
       |  SELECT v.doc_id, v.src, v.k, n.n1,
       |    n.n1 + length(' u' || CAST(v.doc_id AS VARCHAR)) AS n2
       |  FROM v JOIN n ON v.doc_id = n.doc_id
       |  WHERE v.doc_id % 4 = 0 AND v.ba >= v.bd)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  src AS source,
       |  CAST(row_number() OVER (PARTITION BY src ORDER BY doc_id) - 1
       |    AS BIGINT) AS seq,
       |  CAST((row_number() OVER (PARTITION BY src ORDER BY doc_id) - 1)
       |    * (k + 1) AS BIGINT) AS fetch_at_s,
       |  CAST(n1 AS BIGINT) AS bytes_then,
       |  CAST(n2 AS BIGINT) AS bytes_now
       |FROM sel ORDER BY doc_id""".stripMargin

  /** q225 — ZSTD STRUCTURAL FRAME CENSUS (RFC 8878): the other
    * compression format web corpora ship in, walked for real — frame
    * magic + descriptor (FCS width live at both 1 and 2 bytes via the
    * content size), raw blocks of ≤128 bytes, an RLE pad block, a
    * 16-byte SKIPPABLE frame carrying the record id (read back — a
    * mis-skipped frame surfaces as a wrong key), and the XXH64
    * content checksum verified against the reference algorithm.
    * Entropy-coded block payloads are the declared stub, exactly the
    * MP3/H.264 narrowing. The oracle prices every block header and
    * the FCS-width branch.
    */
  val q225_zstd_frame_census: Q = (s, d) =>
    WebLake.zstdFrameCensus(
        WebLake.zstFromDocs(s, Tables.documents(s, d)))
      .toDF()

  // Per doc: n raw chunks of 128, one RLE(32) pad, FCS 1 byte under
  // 256 else 2, object = 16B skippable + frame.
  private val ZstdCte =
    """z AS (
      |  SELECT doc_id,
      |    len([ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127]) AS n,
      |    coalesce(list_sum([ord(c) for c in
      |      string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127]), 0) AS psum
      |  FROM documents),
      |zm AS (
      |  SELECT doc_id, n, psum,
      |    CAST(ceil(n / 128.0) AS BIGINT) AS nraw,
      |    CASE WHEN n + 32 < 256 THEN 1
      |         WHEN n + 32 < 65792 THEN 2 ELSE 4 END AS fcs
      |  FROM z)""".stripMargin

  val q225Sql: String =
    s"""WITH $ZstdCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(1 AS BIGINT) AS n_skippable,
       |  CAST(1 AS BIGINT) AS n_frames,
       |  CAST(nraw + 1 AS BIGINT) AS n_blocks,
       |  CAST(nraw AS BIGINT) AS n_raw,
       |  CAST(1 AS BIGINT) AS n_rle,
       |  CAST(n + 32 AS BIGINT) AS content_len,
       |  CAST(psum + 32 * 126 AS BIGINT) AS content_sum,
       |  CAST(16 + 5 + fcs + 3 * (nraw + 1) + n + 1 + 4 AS BIGINT)
       |    AS total_bytes,
       |  CAST(doc_id AS BIGINT) AS seek_id
       |FROM zm ORDER BY doc_id""".stripMargin

  /** q226 — ZSTD QUARANTINE PARITY, the NINTH container: the plant is
    * the frame-header descriptor's RESERVED BIT (§3.1.1.1 mandates
    * zero) at a byte offset locatable without decoding; the walk is
    * really attempted and failures become zeroed `decode_ok = 0`
    * rows. The never-crash contract now covers PNG, GIF, JPEG, FLAC,
    * MP3, H.264, gzip, HTTP-chunked, and zstd.
    */
  val q226_zstd_quarantine: Q = (s, d) =>
    WebLake.tryZstdCensus(
        WebLake.corruptZst(
          WebLake.zstFromDocs(s, Tables.documents(s, d))))
      .toDF()

  val q226Sql: String =
    s"""WITH census AS ( $q225Sql )
       |SELECT doc_id,
       |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_skippable END
       |    AS n_skippable,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_frames END AS n_frames,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_blocks END AS n_blocks,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_raw END AS n_raw,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_rle END AS n_rle,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE content_len END
       |    AS content_len,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE content_sum END
       |    AS content_sum,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE total_bytes END
       |    AS total_bytes,
       |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE seek_id END AS seek_id
       |FROM census ORDER BY doc_id""".stripMargin

  /** q227 — SEEKABLE `.warc.zst` INDEX: the zstd counterpart of q214 —
    * one checksummed frame per response record, a TRAILING SEEK TABLE
    * in the public seekable-zstd convention, and the index rows a
    * record-parallel reader consumes. The walk VERIFIES the table
    * against the frames it actually stepped (count and every size
    * pair) before emitting a single row. The oracle prices every
    * frame (header + FCS width + 3-byte block headers + checksum) and
    * re-derives the offsets as window sums.
    */
  val q227_warczst_index: Q = (s, d) =>
    WebLake.warcZstIndex(
        WebLake.warcZstFromDocs(s, Tables.documents(s, d)))
      .toDF()

  // Frame arithmetic for the warc.zst tier: the record bytes (same
  // header pricing as the gzip tier) wrapped in a single-segment
  // checksummed frame of 128-byte raw blocks, no pad.
  private val WarcZstCte =
    s"""$DocsCte,
       |r AS (
       |  SELECT doc_id, src, aid, n, psum,
       |    10 + length('WARC-Type: response') + 2
       |       + length('WARC-Record-ID: <urn:graft:doc:' ||
       |           CAST(doc_id AS VARCHAR) || '>') + 2
       |       + length('WARC-Target-URI: https://corpus.example/' ||
       |           src || '/' || CAST(doc_id AS VARCHAR)) + 2
       |       + length('Content-Type: text/plain') + 2
       |       + length('Content-Length: ' || CAST(n AS VARCHAR)) + 2
       |       + 2 + n + 4 AS rec_len
       |  FROM d),
       |zf AS (
       |  SELECT doc_id, src, aid, n, psum, rec_len,
       |    4 + 1 + CASE WHEN rec_len < 256 THEN 1
       |             WHEN rec_len < 65792 THEN 2 ELSE 4 END
       |      + 3 * greatest(1, CAST(ceil(rec_len / 128.0) AS BIGINT))
       |      + rec_len + 4 AS frame_len
       |  FROM r)""".stripMargin

  val q227Sql: String =
    s"""WITH $WarcZstCte
       |SELECT CAST(aid AS BIGINT) AS archive_id,
       |  CAST(doc_id AS BIGINT) AS doc_id,
       |  'https://corpus.example/' || src || '/' || CAST(doc_id AS VARCHAR)
       |    AS target_uri,
       |  CAST(sum(frame_len) OVER (PARTITION BY aid ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - frame_len AS BIGINT)
       |    AS member_offset,
       |  CAST(frame_len AS BIGINT) AS member_len,
       |  CAST(n AS BIGINT) AS payload_len,
       |  CAST(psum AS BIGINT) AS payload_sum
       |FROM zf ORDER BY doc_id""".stripMargin

  /** q228 — LYING-SEEK-TABLE QUARANTINE, the TENTH container class and
    * a new KIND: the corruption is in the INDEX layer, not the data —
    * every frame still decodes perfectly, only the random-access
    * metadata lies (the failure a seek-based reader cannot survive,
    * and exactly what the verify-before-serve discipline exists for).
    * Every 6th archive's last seek entry gets a flipped size byte;
    * verification refuses, the archive quarantines as a zeroed row.
    */
  val q228_warczst_quarantine: Q = (s, d) =>
    WebLake.tryWarcZstCensus(
        WebLake.corruptSeekTable(
          WebLake.warcZstFromDocs(s, Tables.documents(s, d))))
      .toDF()

  val q228Sql: String =
    s"""WITH $WarcZstCte
       |SELECT CAST(aid AS BIGINT) AS archive_id,
       |  CAST(CASE WHEN aid % 6 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CAST(CASE WHEN aid % 6 = 0 THEN 0 ELSE count(*) END AS BIGINT)
       |    AS n_records,
       |  CAST(CASE WHEN aid % 6 = 0 THEN 0 ELSE sum(frame_len) END
       |    AS BIGINT) AS frame_bytes,
       |  CAST(CASE WHEN aid % 6 = 0 THEN 0 ELSE sum(n) END AS BIGINT)
       |    AS payload_bytes,
       |  CAST(CASE WHEN aid % 6 = 0 THEN 0 ELSE sum(psum) END AS BIGINT)
       |    AS payload_sum
       |FROM zf GROUP BY aid ORDER BY archive_id""".stripMargin

  /** q229 — `.jsonl.zst` DATASET EXCHANGE, the shape modern corpus
    * releases actually ship: one JSON document per line (written by
    * the engine's own RFC 8259 serializer — quote/backslash/control
    * escapes live whenever the text contains them), one checksummed
    * zstd frame per line, a verified trailing seek table; read back
    * by SPARK'S NATIVE `from_json` in FAILFAST mode (codegen'd, no
    * UDF in the parse path). The emitted relation IS the documents
    * table — text strings hash-compared, so one wrong escape anywhere
    * in serialize → compress → frame → parse mismatches.
    */
  val q229_jsonl_roundtrip: Q = (s, d) =>
    WebLake.readJsonlZst(s,
        WebLake.jsonlZstFromDocs(s, Tables.documents(s, d)))

  val q229Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  array_to_string([c for c in string_split(coalesce(text, ''), '')
      |    if ord(c) BETWEEN 0 AND 127], '') AS text,
      |  coalesce(lang, '') AS lang,
      |  coalesce(source, '') AS source,
      |  CAST(length(array_to_string([c for c in
      |    string_split(coalesce(text, ''), '')
      |    if ord(c) BETWEEN 0 AND 127], '')) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q230 — COMPRESSION DISPATCH CENSUS: a mixed lake (gzip member /
    * zstd object / draft-framed brotli / plain bytes by id residue —
    * nobody labels real objects, the magic bytes are the label)
    * routed by magic-byte sniffing to the REAL walker, with the
    * de-framed payload censused — a mis-route shows up as a wrong
    * byte sum, not just a wrong label. The brotli route now DECODES
    * through the engine's own RFC 7932 walk (round 15's
    * `brotli-unsupported` quarantine is gone — the draft `.br` magic
    * `ce b2 cf 81` fronts a real stream the oracle prices like every
    * other branch); and since zstd's skippable magic is
    * all-ASCII-range, a colliding plain prefix falls back to `plain`
    * instead of failing the stage.
    */
  val q230_compression_sniff: Q = (s, d) =>
    WebLake.sniffCompression(
        WebLake.mixedCompressionLake(s, Tables.documents(s, d)))
      .toDF()

  val q230Sql: String =
    """WITH z AS (
      |  SELECT doc_id,
      |    len([ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127]) AS n,
      |    coalesce(list_sum([ord(c) for c in
      |      string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127]), 0) AS psum
      |  FROM documents)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN 'gzip' WHEN 1 THEN 'zstd'
      |    WHEN 2 THEN 'brotli' ELSE 'plain' END AS format,
      |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 1 THEN n + 32 ELSE n END AS BIGINT)
      |    AS payload_len,
      |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 1 THEN psum + 32 * 126 ELSE psum END
      |    AS BIGINT) AS payload_sum,
      |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN 18 + 5 * greatest(1,
      |        CAST(ceil(n / 65535.0) AS BIGINT)) + n
      |    WHEN 1 THEN 16 + 5 + CASE WHEN n + 32 < 256 THEN 1
      |          WHEN n + 32 < 65792 THEN 2 ELSE 4 END
      |        + 3 * (CAST(ceil(n / 128.0) AS BIGINT) + 1) + n + 1 + 4
      |    WHEN 2 THEN 4 + CASE WHEN n = 0 THEN 1
      |        ELSE 3 * CAST(ceil(n / 65535.0) AS BIGINT) + n + 1 END
      |    ELSE n END AS BIGINT) AS object_len
      |FROM z ORDER BY doc_id""".stripMargin

  /** q231 — DOOR LANGUAGE-ID AGREEMENT: the QA readout a crawl team
    * actually watches — per source, how often the front door's
    * language ID (run on the RECOVERED text: ASCII wire payload, 404s
    * empty — [[graft.web.WebLake.warcToDocs]]) agrees with the
    * upstream label, and how much arrives undetermined. Disagreement
    * is REAL here: `zh` documents lose their text to the ASCII
    * projection and land in `und` — exactly the signal this census
    * exists to surface. The oracle re-runs q23's stopword-ratio
    * argmax over the same projected text.
    */
  val q231_door_langid: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val rec = WebLake.warcToDocs(s, WebLake.warcHttpFromDocs(s, docs))
      .select(col("doc_id"), col("lang").as("detected"))
    docs.select(col("doc_id"),
        coalesce(col("source"), org.apache.spark.sql.functions.lit(""))
          .as("source"),
        coalesce(col("lang"), org.apache.spark.sql.functions.lit(""))
          .as("label"))
      .join(rec, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("detected") === col("label"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("detected") === "und", 1L).otherwise(0L)).as("n_und"))
  }

  val q231Sql: String = {
    def lst(l: String) = graft.functions.TextAnalysis.stopwords(l)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    def ratio(langList: String) =
      s"""CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |  x -> list_contains($langList, x))) AS DOUBLE)
         |  / greatest(CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS INTEGER), 1)""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, coalesce(source, '') AS src,
       |    coalesce(lang, '') AS label,
       |    CASE WHEN doc_id % 17 = 0 THEN ''
       |      ELSE array_to_string([c for c in
       |        string_split(coalesce(text, ''), '')
       |        if ord(c) BETWEEN 0 AND 127], '') END AS text
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, src, label,
       |    ${ratio(lst("en"))} AS r_en, ${ratio(lst("de"))} AS r_de,
       |    ${ratio(lst("fr"))} AS r_fr, ${ratio(lst("es"))} AS r_es
       |  FROM t),
       |v AS (
       |  SELECT src, label,
       |    CASE WHEN greatest(r_en, r_de, r_fr, r_es) <= 0 THEN 'und'
       |         WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
       |         WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
       |         WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
       |         WHEN r_es = greatest(r_en, r_de, r_fr, r_es) THEN 'es'
       |         ELSE 'und' END AS detected
       |  FROM r)
       |SELECT src AS source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN detected = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(sum(CASE WHEN detected = 'und' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_und
       |FROM v GROUP BY src ORDER BY source""".stripMargin
  }

  /** q232 — ZSTD ENTROPY-CODED CENSUS: compressed-block payloads
    * really decode (FSE table descriptions, Huffman literals in both
    * tree representations and both stream counts, sequences with the
    * repeat-offset registers; [[graft.web.ZstdEntropy]]). The wire is
    * the engine's own entropy encoder, in TWO flavors now (r16): even
    * ids keep the Huffman-literals + RLE-table-mode-sequence blocks;
    * odd ids (with ≥ 2 payload bytes) ship blocks whose THREE sequence
    * tables are FSE_COMPRESSED — §4.1.1 descriptions written by the
    * engine's own description encoder and real interleaved state
    * chains, the decoder's general-grammar path that was previously
    * exercised only by CLI goldens. Every object of both flavors
    * round-trips under the REFERENCE zstd CLI
    * (graft.tools.ZstdConformance + WebArchiveSpec goldens). The
    * XXH64 verification inside the walk means a row existing at all
    * proves byte-exact entropy decode; the oracle prices the
    * regenerated content per flavor (32×last-byte via the one RLE
    * sequence, or two 16×chunk-end pads via the FSE sequences), the
    * block-type counts, and the FSE-table count itself.
    */
  val q232_zstd_entropy_census: Q = (s, d) =>
    WebLake.zstdEntropyCensus(
        WebLake.zstEntropyFromDocs(s, Tables.documents(s, d)))
      .toDF()

  val q232Sql: String =
    s"""WITH $ZstdCte
       |SELECT CAST(z2.doc_id AS BIGINT) AS doc_id,
       |  CAST(1 AS BIGINT) AS n_skippable,
       |  CAST(1 AS BIGINT) AS n_frames,
       |  CAST(2 AS BIGINT) AS n_blocks,
       |  CAST(0 AS BIGINT) AS n_raw,
       |  CAST(1 AS BIGINT) AS n_rle,
       |  CAST(1 AS BIGINT) AS n_compressed,
       |  CAST(CASE WHEN zm.doc_id % 2 = 1 AND zm.n >= 2 THEN 3 ELSE 0 END
       |    AS BIGINT) AS n_fse_tables,
       |  CAST(CASE WHEN zm.n >= 1 THEN zm.n + 48 ELSE 16 END AS BIGINT)
       |    AS content_len,
       |  CAST(zm.psum + CASE
       |      WHEN zm.doc_id % 2 = 1 AND zm.n >= 2
       |        THEN 16 * z2.halfc + 16 * z2.lastc
       |      WHEN zm.n >= 1 THEN 32 * z2.lastc ELSE 0 END
       |    + 16 * 126 AS BIGINT) AS content_sum,
       |  CAST(z2.doc_id AS BIGINT) AS seek_id
       |FROM zm
       |JOIN (SELECT doc_id,
       |        coalesce(list_extract(codes, len(codes)), 0) AS lastc,
       |        coalesce(list_extract(codes,
       |          CAST(ceil(len(codes) / 2.0) AS BIGINT)), 0) AS halfc
       |      FROM (SELECT doc_id,
       |              [ord(c) for c in string_split(coalesce(text, ''), '')
       |               if ord(c) BETWEEN 0 AND 127] AS codes
       |            FROM documents)) z2 ON zm.doc_id = z2.doc_id
       |ORDER BY doc_id""".stripMargin

  /** q246 — BROTLI OBJECT CENSUS (RFC 7932), the round-16 frontier:
    * the round-15 `brotli-unsupported` quarantine is GONE — per-doc
    * `.br` objects (bare streams, the on-disk shape) synthesized by
    * the engine's own uncompressed-framing encoder are walked back by
    * the engine's own FULL decoder ([[graft.web.Brotli]]: prefix
    * codes, block switching, context maps, distance ring, static
    * dictionary + 121 transforms — reference-library conformance
    * pinned in BrotliSpec across qualities 0-11). The oracle prices
    * every field from the framing arithmetic alone: ⌈n/65535⌉ data
    * metablocks + the empty last one, stream = 3·⌈n/65535⌉ + n + 1
    * (1 when empty), payload identity via byte count and sum.
    */
  val q246_brotli_census: Q = (s, d) =>
    WebLake.brotliCensus(
        WebLake.brotliLake(s, Tables.documents(s, d)))
      .toDF()

  private val BrotliCte =
    """bz AS (
      |  SELECT doc_id,
      |    len([ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127]) AS n,
      |    coalesce(list_sum([ord(c) for c in
      |      string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127]), 0) AS psum
      |  FROM documents),
      |bm AS (
      |  SELECT doc_id, n, psum,
      |    CAST(ceil(n / 65535.0) AS BIGINT) AS chunks,
      |    CASE WHEN n = 0 THEN 1
      |      ELSE 3 * CAST(ceil(n / 65535.0) AS BIGINT) + n + 1 END AS sb
      |  FROM bz)""".stripMargin

  val q246Sql: String =
    s"""WITH $BrotliCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(16 AS INTEGER) AS wbits,
       |  CAST(chunks + 1 AS BIGINT) AS n_metablocks,
       |  CAST(chunks AS BIGINT) AS n_uncompressed,
       |  CAST(0 AS BIGINT) AS n_literals,
       |  CAST(0 AS BIGINT) AS n_dict_refs,
       |  CAST(n AS BIGINT) AS out_bytes,
       |  CAST(psum AS BIGINT) AS sum_out,
       |  CAST(sb AS BIGINT) AS stream_bytes
       |FROM bm ORDER BY doc_id""".stripMargin

  /** q247 — BROTLI QUARANTINE, record-level (the ELEVENTH container
    * class): every 13th object loses its final stream byte — a
    * capture truncated in flight whose loss only the RFC 7932 walk
    * itself can detect (there is no outer checksum to lean on; the
    * metablock grammar IS the integrity check). The bad object
    * quarantines alone with its stats zeroed; the rest of the lake
    * keeps flowing — and the oracle predicts exactly which ids fail
    * and the genuine statistics of the rest.
    */
  val q247_brotli_quarantine: Q = (s, d) =>
    WebLake.tryBrotliCensus(
        WebLake.brotliLake(s, Tables.documents(s, d), truncateEvery = 13L))
      .toDF()

  val q247Sql: String =
    s"""WITH $BrotliCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS INTEGER)
       |    AS decode_ok,
       |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE chunks + 1 END
       |    AS BIGINT) AS n_metablocks,
       |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE n END AS BIGINT)
       |    AS out_bytes,
       |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE psum END AS BIGINT)
       |    AS sum_out,
       |  CAST(CASE WHEN doc_id % 13 = 0 THEN sb - 1 ELSE sb END AS BIGINT)
       |    AS stream_bytes
       |FROM bm ORDER BY doc_id""".stripMargin

  /** q255 — BROTLI ENTROPY-CODED CENSUS: the compressed-metablock
    * grammar on the engine's OWN wire (the q232 two-flavor discipline
    * applied to brotli): odd ids ship ONE entropy-coded metablock —
    * a complex literal prefix code (all 256 symbols flat at depth 8,
    * described through the code-length code's degenerate single-symbol
    * form, so the whole table costs zero wire bits), one-symbol simple
    * command/distance codes, and a single insert-only command whose
    * copy part the §9.3 MLEN cap leaves unread — while even ids keep
    * the uncompressed framing. Both flavors decode through the same
    * full decoder (which the reference C library cross-checks: every
    * engine compressed stream in the conformance battery decodes
    * byte-exactly under brotli itself). The oracle prices the
    * compressed size EXACTLY — ⌈(98 + E(n) + 8n)/8⌉, with E(n) the
    * §5 insert-code extra-bit step function generated from the same
    * table the encoder reads — next to the uncompressed arithmetic,
    * and the literal count separates the flavors (n_literals = n only
    * on the entropy path).
    */
  val q255_brotli_entropy_census: Q = (s, d) =>
    WebLake.brotliCensus(
        WebLake.brotliEntropyLake(s, Tables.documents(s, d)))
      .toDF()

  val q255Sql: String = {
    val e = graft.web.Brotli.insExtraCaseSql("n")
    s"""WITH $BrotliCte,
       |bf AS (
       |  SELECT doc_id, n, psum, chunks, sb,
       |    doc_id % 2 = 1 AND n >= 1 AND n <= 65536 AS ent
       |  FROM bm)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(16 AS INTEGER) AS wbits,
       |  CAST(CASE WHEN ent THEN 1 ELSE chunks + 1 END AS BIGINT)
       |    AS n_metablocks,
       |  CAST(CASE WHEN ent THEN 0 ELSE chunks END AS BIGINT)
       |    AS n_uncompressed,
       |  CAST(CASE WHEN ent THEN n ELSE 0 END AS BIGINT) AS n_literals,
       |  CAST(0 AS BIGINT) AS n_dict_refs,
       |  CAST(n AS BIGINT) AS out_bytes,
       |  CAST(psum AS BIGINT) AS sum_out,
       |  CAST(CASE WHEN ent
       |      THEN (98 + ($e) + 8 * n + 7) // 8
       |      ELSE sb END AS BIGINT) AS stream_bytes
       |FROM bf ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q232_zstd_entropy_census" -> q232_zstd_entropy_census,
    "q246_brotli_census" -> q246_brotli_census,
    "q247_brotli_quarantine" -> q247_brotli_quarantine,
    "q255_brotli_entropy_census" -> q255_brotli_entropy_census,
    "q212_gzip_member_census" -> q212_gzip_member_census,
    "q213_warc_record_census" -> q213_warc_record_census,
    "q214_cdx_index" -> q214_cdx_index,
    "q215_gzip_quarantine" -> q215_gzip_quarantine,
    "q216_web_extract" -> q216_web_extract,
    "q217_robots_audit" -> q217_robots_audit,
    "q218_fetch_schedule" -> q218_fetch_schedule,
    "q219_http_census" -> q219_http_census,
    "q220_http_quarantine" -> q220_http_quarantine,
    "q221_http_extract" -> q221_http_extract,
    "q222_boilerplate_extract" -> q222_boilerplate_extract,
    "q223_recrawl_delta" -> q223_recrawl_delta,
    "q224_refetch_worklist" -> q224_refetch_worklist,
    "q225_zstd_frame_census" -> q225_zstd_frame_census,
    "q226_zstd_quarantine" -> q226_zstd_quarantine,
    "q227_warczst_index" -> q227_warczst_index,
    "q228_warczst_quarantine" -> q228_warczst_quarantine,
    "q229_jsonl_roundtrip" -> q229_jsonl_roundtrip,
    "q230_compression_sniff" -> q230_compression_sniff,
    "q231_door_langid" -> q231_door_langid)

  val oracleSql: Map[String, String] = Map(
    "q232_zstd_entropy_census" -> q232Sql,
    "q246_brotli_census" -> q246Sql,
    "q247_brotli_quarantine" -> q247Sql,
    "q255_brotli_entropy_census" -> q255Sql,
    "q212_gzip_member_census" -> q212Sql,
    "q213_warc_record_census" -> q213Sql,
    "q214_cdx_index" -> q214Sql,
    "q215_gzip_quarantine" -> q215Sql,
    "q216_web_extract" -> q216Sql,
    "q217_robots_audit" -> q217Sql,
    "q218_fetch_schedule" -> q218Sql,
    "q219_http_census" -> q219Sql,
    "q220_http_quarantine" -> q220Sql,
    "q221_http_extract" -> q221Sql,
    "q222_boilerplate_extract" -> q222Sql,
    "q223_recrawl_delta" -> q223Sql,
    "q224_refetch_worklist" -> q224Sql,
    "q225_zstd_frame_census" -> q225Sql,
    "q226_zstd_quarantine" -> q226Sql,
    "q227_warczst_index" -> q227Sql,
    "q228_warczst_quarantine" -> q228Sql,
    "q229_jsonl_roundtrip" -> q229Sql,
    "q230_compression_sniff" -> q230Sql,
    "q231_door_langid" -> q231Sql)
}
