package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 training-data-preparation surface: the operators between a raw
  * deduped corpus and a tokenizer/training run — native session windows,
  * chunk materialization, OOV statistics against a built vocabulary, and
  * the daily incremental-ingest dedup. All DuckDB-oracle-checked.
  */
object PrepQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q70 — native session windows: Spark's `session_window` aggregation is
    * the declarative form of q27's custom-state sessionization (merging
    * variable-length windows inside the aggregate; in streaming the same
    * expression runs incrementally with watermark-evicted state). Session
    * end is event-time max + gap — the session_window contract, checked
    * against an islands-and-gaps oracle. Boundary ties: session_window
    * merges only on STRICT window overlap, so two events exactly `gap`
    * apart start separate sessions — the oracle's new-session predicate is
    * therefore `>=` (unlike q27's custom fold, which merges the inclusive
    * gap).
    */
  val q70_session_window: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"))
  }

  val q70Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      >= 30*60*1000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |sid AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM sid GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** q71 — chunk materialization: fixed 64-token windows at stride 48
    * (16-token overlap), the shape every pretraining tokenizer pipeline
    * feeds. The token array IS replicated through the chunk explode — that
    * is intrinsic (output ≈ overlap-factor × input) and the work is per-row
    * and embarrassingly parallel; no key shuffle.
    */
  val q71_chunks: Q = (s, d) => {
    val chunkLen = 64
    val stride = 48
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        least(size(col("toks")) - col("start"), lit(chunkLen)).cast("int")
          .as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkLen)))
          .as("chunk_text"))
  }

  val q71Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, ws,
      |    unnest(generate_series(0, greatest(len(ws) - 1, 0), 48)) AS start
      |  FROM t)
      |SELECT doc_id,
      |  CAST(start // 48 AS INTEGER) AS chunk_id,
      |  CAST(least(len(ws) - start, 64) AS INTEGER) AS n_tokens,
      |  array_to_string(ws[start + 1 : start + 64], ' ') AS chunk_text
      |FROM e ORDER BY doc_id, chunk_id""".stripMargin

  /** q72 — OOV statistics against the built vocabulary (q49's top-500):
    * per document, tokens in/out of vocab and the unk rate — the number a
    * tokenizer team watches when sizing a vocab. The vocab is tiny by
    * construction (top-k) and BROADCAST; the corpus token stream joins
    * map-side, so the corpus is never shuffled by token.
    */
  val q72_oov_stats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val vocab = graft.ops.Vocab.topK(
        docs.select(explode(split(trim(col("text")), "\\s+")).as("token")),
        500)
      .select(col("token"), lit(1L).as("in_vocab"))
    val toks = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_known"))
      .withColumn("n_unk", col("n_tokens") - col("n_known"))
      .withColumn("unk_rate",
        col("n_unk").cast("double") / col("n_tokens").cast("double"))
      .select("doc_id", "n_tokens", "n_known", "n_unk", "unk_rate")
  }

  val q72Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |tok AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
      |vocab AS (
      |  SELECT token FROM (
      |    SELECT token, count(*) AS n FROM tok GROUP BY token
      |    ORDER BY n DESC, token LIMIT 500)),
      |j AS (
      |  SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS known
      |  FROM tok t LEFT JOIN vocab v ON t.token = v.token)
      |SELECT doc_id,
      |  count(*) AS n_tokens,
      |  CAST(SUM(known) AS BIGINT) AS n_known,
      |  CAST(count(*) - SUM(known) AS BIGINT) AS n_unk,
      |  CAST(count(*) - SUM(known) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS unk_rate
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q73 — incremental ingest dedup: the daily shape — a "new batch" (one
    * source slice) lands against the standing corpus; keep only new-batch
    * docs whose content digest is (a) unseen in the corpus and (b) the
    * batch-internal survivor (min doc id per digest). One digest group-by
    * inside the batch + one anti-join against corpus digests — both keyed
    * on the 128-bit digest, map-side combined; the corpus side prunes to
    * the digest column only.
    */
  val q73_ingest_dedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val survivors = batch
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"),
        count(lit(1)).as("n_batch_dups"))
    survivors
      .join(corpus.select(md5(col("text")).as("h")).distinct(),
        Seq("h"), "left_anti")
      .select("doc_id", "h", "n_batch_dups")
  }

  val q73Sql: String =
    """WITH batch AS (
      |  SELECT md5(text) AS h, min(doc_id) AS doc_id,
      |    count(*) AS n_batch_dups
      |  FROM documents WHERE source = 'src0' GROUP BY md5(text)),
      |corpus AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE source <> 'src0')
      |SELECT b.doc_id, b.h, b.n_batch_dups
      |FROM batch b LEFT JOIN corpus c ON b.h = c.h
      |WHERE c.h IS NULL
      |ORDER BY b.doc_id""".stripMargin

  /** q74 — dedup SURVIVOR selection: pairs → connected components →
    * canonical doc per group (longest wins, smaller id breaks ties) — the
    * step that turns dedup analysis into the actual keep-list a corpus
    * build writes out. Survivor choice is a per-component window (groups
    * are near-dup clusters — tiny), on top of the oracle-checked pair +
    * component machinery.
    */
  val q74_dedup_survivors: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val comp = graft.ops.TextDedup.dedupClusterRelationShared(
      docs, d, "doc_id", "text", "lang", n = 3, threshold = 0.5)
    graft.ops.Dedupe.firstRowPerKey(
        comp.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id"),
        keys = Seq("component"), order = Seq(col("n_chars").desc, col("id")),
        perKey = Seq("n_docs" -> count(lit(1))))
      .select(col("component"), col("id").as("survivor_id"),
        col("n_chars"), col("n_docs"))
  }

  val q74Sql: String =
    s"""${ModalPairSql.langClusters},
      |ranked AS (
      |  SELECT c.component, c.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY c.component
      |      ORDER BY d.n_chars DESC, c.doc_id) AS rk,
      |    count(*) OVER (PARTITION BY c.component) AS n_docs
      |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
      |SELECT component, doc_id AS survivor_id, n_chars,
      |  CAST(n_docs AS BIGINT) AS n_docs
      |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin

  /** q75 — STRATIFIED deterministic sampling: an exact per-language rate
    * via the same md5-bucket arithmetic as q52's global sample, so every
    * stratum is sampled at its own rate (upsample rare langs, downsample
    * the head) with partition-invariant, engine-portable selection — the
    * data-mixing knob of corpus construction. Pure projection+filter: no
    * shuffle, no per-stratum pass.
    */
  val q75_stratified_sample: Q = (s, d) => {
    val bucket = (conv(substring(
      md5(concat_ws("|", col("lang"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long") % 1000)
    val rate = when(col("lang") === "en", 100L).otherwise(400L)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .filter(col("bucket") < rate)
      .select("doc_id", "lang", "bucket")
  }

  val q75Sql: String =
    """SELECT doc_id, lang,
      |  CAST(CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)),
      |    1, 8)) AS UBIGINT) % 1000 AS BIGINT) AS bucket
      |FROM documents
      |WHERE CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)),
      |    1, 8)) AS UBIGINT) % 1000
      |  < CASE WHEN lang = 'en' THEN 100 ELSE 400 END
      |ORDER BY doc_id""".stripMargin

  /** q76 — multimodal RESIZE stub: stride-sample the payload down to ≤64
    * sample points — the plan shape of image thumbnailing / audio
    * downsampling (per-row, partition-parallel, no shuffle). The sampling
    * arithmetic is real and oracle-checked end-to-end via a digest of the
    * resized payload; a real codec replaces only the per-sample kernel
    * (pixel filter vs character pick), as with Multimodal.decodeStub.
    */
  val q76_media_resize: Q = (s, d) =>
    Tables.documents(s, d)
      // NULL payloads normalize to '' FIRST, so both engines see identical
      // non-null input (greatest/len null semantics differ between them)
      .select(col("doc_id").as("media_id"),
        coalesce(col("text"), lit("")).as("text"))
      .select(col("media_id"),
        length(col("text")).cast("long").as("n_chars"),
        expr("greatest(1L, length(text) div 64)").as("stride"),
        // CASE guard: sequence(1, 0) throws on an empty payload (Spark),
        // while the oracle's generate_series(1, 0) is empty — both sides
        // resolve empty input to '' explicitly
        expr("""CASE WHEN length(text) = 0 THEN '' ELSE array_join(
            transform(
              slice(sequence(1L, length(text), greatest(1L, length(text) div 64)),
                1, 64),
              i -> substring(text, cast(i as int), 1)), '') END""").as("resized"))
      .select(col("media_id"), col("n_chars"), col("stride"),
        length(col("resized")).cast("long").as("resized_len"),
        md5(col("resized")).as("resized_md5"))

  val q76Sql: String =
    """WITH d AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |r AS (
      |  SELECT doc_id AS media_id,
      |    CAST(len(text) AS BIGINT) AS n_chars,
      |    greatest(1, len(text) // 64) AS stride,
      |    coalesce(list_aggregate(
      |      [substr(text, CAST(i AS INTEGER), 1)
      |       for i in generate_series(1, len(text), greatest(1, len(text) // 64))
      |      ][1:64],
      |      'string_agg', ''), '') AS resized
      |  FROM d)
      |SELECT media_id, n_chars, CAST(stride AS BIGINT) AS stride,
      |  CAST(len(resized) AS BIGINT) AS resized_len,
      |  md5(resized) AS resized_md5
      |FROM r ORDER BY media_id""".stripMargin

  /** q77 — multimodal FEATURE-EXTRACT stub: a fixed-dimension numeric
    * feature vector per payload (here code-point statistics: count, sum,
    * sum-of-squares, min, max, exact mean) — the binary → features plan
    * every embedding/feature pipeline runs. One explode + one partial+final
    * aggregate keyed by media id; exact integer moments make the vector
    * bit-stable under any partitioning (and the oracle portable). A real
    * extractor swaps the per-element kernel (pixels/samples for chars).
    */
  val q77_media_features: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), explode(split(col("text"), "")).as("c"))
      .filter(col("c") =!= "")
      .select(col("media_id"), ascii(col("c")).cast("long").as("code"))
      // ASCII sub-stream only: Spark's ascii() maps any non-ASCII char to
      // U+FFFD (65533) while the oracle's ord() returns the code point —
      // both land outside [0, 127], so this filter makes the two engines
      // agree EXACTLY on every input. A real byte-level extractor works on
      // encode(text,'UTF-8') and has no such restriction.
      .filter(col("code").between(0L, 127L))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n"),
        sum(col("code")).as("sum_code"),
        sum(col("code") * col("code")).as("sum_code_sq"),
        min(col("code")).as("min_code"),
        max(col("code")).as("max_code"))
      .withColumn("mean_code",
        col("sum_code").cast("double") / col("n").cast("double"))

  val q77Sql: String =
    """WITH c0 AS (
      |  SELECT doc_id AS media_id,
      |    ord(unnest(string_split(text, ''))) AS code
      |  FROM documents),
      |c AS (SELECT media_id, code FROM c0 WHERE code BETWEEN 0 AND 127)
      |SELECT media_id,
      |  count(*) AS n,
      |  CAST(SUM(code) AS BIGINT) AS sum_code,
      |  CAST(SUM(code * code) AS BIGINT) AS sum_code_sq,
      |  CAST(MIN(code) AS BIGINT) AS min_code,
      |  CAST(MAX(code) AS BIGINT) AS max_code,
      |  CAST(SUM(code) AS DOUBLE) / count(*) AS mean_code
      |FROM c GROUP BY media_id ORDER BY media_id""".stripMargin

  /** q151 — REAL image decode: synthesize a genuine Netpbm P6 binary
    * per document (the ASCII sub-stream as a 16-wide RGB plane —
    * [[graft.multimodal.Multimodal.imagesFromText]]), then PARSE it
    * back with the from-scratch [[graft.multimodal.Codecs.decodePpm]]
    * (header grammar, dimensions, raw plane) and emit per-image pixel
    * statistics. The oracle predicts every field from the source text,
    * so a mis-parsed width, a dropped pad byte, or an off-by-one in
    * the plane copy all hash-mismatch. Per-partition encode+decode
    * pipeline in ONE stage — no key shuffle; at
    * 100 TB the decode rides the scan exactly like this.
    */
  val q151_image_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeImageStats(
        graft.multimodal.Multimodal.imagesFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q151Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (
      |  SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 48.0) AS BIGINT)) AS h
      |  FROM a)
      |SELECT media_id,
      |  CAST(16 AS INTEGER) AS width,
      |  CAST(h AS INTEGER) AS height,
      |  CAST(16 * h AS BIGINT) AS n_pixels,
      |  CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS sum_channel,
      |  CAST(coalesce(list_sum([c * c for c in codes]), 0) AS BIGINT)
      |    AS sum_channel_sq,
      |  CAST(coalesce(list_max(codes), 0) AS INTEGER) AS max_channel,
      |  CAST(coalesce(list_sum(codes), 0) AS DOUBLE) / (3.0 * 16 * h)
      |    AS mean_channel
      |FROM s ORDER BY media_id""".stripMargin

  /** q152 — REAL audio decode: synthesize a genuine RIFF/WAVE PCM16
    * file per document (samples = an affine map of the ASCII codes,
    * mono 8 kHz), then PARSE it back with the from-scratch chunk walk
    * ([[graft.multimodal.Codecs.decodeWav]]) and emit per-clip sample
    * statistics — duration is computed from the sample count and the
    * rate/channels READ FROM the parsed fmt chunk, so a header
    * mis-decode surfaces as a wrong duration, not a silent pass.
    */
  val q152_audio_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.wavFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q152Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |    [(ord(c) - 64) * 256 for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS smp
      |  FROM documents)
      |SELECT media_id,
      |  CAST(len(smp) AS BIGINT) AS n_samples,
      |  CAST((len(smp) * 1000) // 8000 AS BIGINT) AS duration_ms,
      |  CAST(coalesce(list_sum(smp), 0) AS BIGINT) AS sum_sample,
      |  CAST(coalesce(list_min(smp), 0) AS BIGINT) AS min_sample,
      |  CAST(coalesce(list_max(smp), 0) AS BIGINT) AS max_sample
      |FROM a ORDER BY media_id""".stripMargin

  /** q153 — perceptual image fingerprint (dHash) over REALLY DECODED
    * pixels: the q151 payloads (genuine P6 PPM binaries) are parsed
    * back and resampled to the classic 9×8 dHash grid
    * ([[graft.multimodal.Multimodal.decodeImageDHash]]). The oracle
    * rebuilds the identical hash from the SOURCE TEXT with the same
    * integer algebra (nearest-neighbor index math, strict-less bits,
    * two 32-bit halves), so a mis-decoded plane, a wrong sample index,
    * or a bit-order slip all hash-mismatch. LAION-style image-dedup
    * fingerprinting with the decode riding the scan — map-only at
    * 100 TB.
    */
  val q153_image_dhash: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeImageDHash(
        graft.multimodal.Multimodal.imagesFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q153Sql: String =
    ModalPairSql.imageHashes + "\nORDER BY s.media_id"

  /** q154 — image near-dup pairs on the q153 fingerprints: 4 bands of
    * 16 bits, hamming ≤ 3 — by pigeonhole the banded join is LOSSLESS
    * at this threshold, so the oracle is the BRUTE-FORCE hamming pair
    * set (the q19 discipline: the scale-path algorithm's output equals
    * an exact definition a second engine can compute). The engine side
    * shuffles only (int, int) band buckets and verifies with two
    * codegen'd xor+popcounts before any dedup exchange.
    */
  val q154_image_neardup: Q = (s, d) =>
    graft.multimodal.Multimodal.dhashNearDupPairs(
        graft.multimodal.Multimodal.decodeImageDHash(
          graft.multimodal.Multimodal.imagesFromText(
            s, Tables.documents(s, d), "doc_id", "text")),
        maxDist = 3)

  val q154Sql: String =
    ModalPairSql.imagePairs + "\nORDER BY id_a, id_b"

  /** q157 — audio waveform fingerprint over REALLY DECODED samples: the
    * q152 payloads (genuine RIFF/WAVE PCM16) parsed back and probed at
    * 65 envelope positions
    * ([[graft.multimodal.Multimodal.decodeAudioFingerprint]]) — the
    * waveform analog of q153's image dHash, completing modality-parity
    * fingerprinting (text: MinHash/SimHash/winnow; image: dHash; audio:
    * envelope hash). The oracle rebuilds the hash from the source text
    * through the same integer algebra, so a chunk-walk slip, a wrong
    * sample index, or a sign error in the 16-bit decode all
    * hash-mismatch.
    */
  val q157_audio_fingerprint: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeAudioFingerprint(
        graft.multimodal.Multimodal.wavFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q157Sql: String =
    ModalPairSql.audioFingerprints + "\nORDER BY s.media_id"

  /** q158 — audio screening features over REALLY DECODED samples: zero
    * crossings (the classic voice-activity / noise screen), peak
    * magnitude, integer energy — the audio analog of the q23 text
    * quality screen, exact integers end to end. Map-only; the decode
    * rides the scan.
    */
  val q158_audio_features: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeAudioFeatures(
        graft.multimodal.Multimodal.wavFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q158Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |    [(ord(c) - 64) * 256 for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS smp
      |  FROM documents)
      |SELECT media_id, CAST(len(smp) AS BIGINT) AS n_samples,
      |  CAST(coalesce(len([i for i in generate_series(2, len(smp))
      |    if (smp[i-1] >= 0) <> (smp[i] >= 0)]), 0) AS BIGINT)
      |    AS zero_crossings,
      |  CAST(coalesce(list_max([abs(x) for x in smp]), 0) AS BIGINT) AS peak,
      |  CAST(coalesce(list_sum([abs(x) for x in smp]), 0) AS BIGINT)
      |    AS sum_abs
      |FROM a ORDER BY media_id""".stripMargin

  /** q161 — REAL video decode with frame sampling: synthesize a genuine
    * concatenated-P6 stream per document (one 16×1 frame per 48-code
    * slice — [[graft.multimodal.Multimodal.videoFromText]]), discover
    * frame boundaries by PARSING successive headers
    * ([[graft.multimodal.Codecs.decodePpmStream]]), and emit per-video
    * totals plus every-4th-frame sampled sums — the
    * sample-frames-for-a-VLM plan with real container walking instead
    * of the stub offset arithmetic. The oracle predicts every field
    * from the source text, so a mis-walked frame boundary, an eaten
    * header byte, or an off-by-one in the sampling all hash-mismatch.
    * Completes the modality set: all three media types now REALLY
    * decode (image q151, audio q152, video q161).
    */
  val q161_video_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeVideoStats(
        graft.multimodal.Multimodal.videoFromText(
          s, Tables.documents(s, d), "doc_id", "text"),
        stride = 4)
      .toDF()

  val q161Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 48.0) AS BIGINT)) AS nf
      |  FROM a),
      |fr AS (
      |  SELECT media_id, nf, f,
      |    CAST(coalesce(list_sum(codes[48*f + 1 : 48*f + 48]), 0)
      |      AS BIGINT) AS fsum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s))
      |SELECT media_id,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(nf * 16 AS BIGINT) AS n_pixels,
      |  CAST(SUM(fsum) AS BIGINT) AS sum_channel,
      |  CAST(SUM(CASE WHEN f % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS sampled_frames,
      |  CAST(SUM(CASE WHEN f % 4 = 0 THEN fsum ELSE 0 END) AS BIGINT)
      |    AS sampled_sum
      |FROM fr GROUP BY media_id, nf ORDER BY media_id""".stripMargin

  /** q162 — scene-cut detection over the REALLY DECODED frame stream:
    * adjacent-frame absolute channel-sum delta above 1000 marks a cut
    * (the shot-segmentation primitive VLM pipelines sample around);
    * per-video cut count and max delta, exact integers end to end.
    */
  val q162_scene_cuts: Q = (s, d) =>
    graft.multimodal.Multimodal.detectSceneCuts(
        graft.multimodal.Multimodal.videoFromText(
          s, Tables.documents(s, d), "doc_id", "text"),
        threshold = 1000L)
      .toDF()

  val q162Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 48.0) AS BIGINT)) AS nf
      |  FROM a),
      |fr AS (
      |  SELECT media_id, nf, f,
      |    CAST(coalesce(list_sum(codes[48*f + 1 : 48*f + 48]), 0)
      |      AS BIGINT) AS fsum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s)),
      |d AS (
      |  SELECT x.media_id, x.nf, abs(y.fsum - x.fsum) AS delta
      |  FROM fr x JOIN fr y
      |    ON x.media_id = y.media_id AND y.f = x.f + 1)
      |SELECT s.media_id, CAST(s.nf AS BIGINT) AS n_frames,
      |  CAST(coalesce(SUM(CASE WHEN delta > 1000 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS n_cuts,
      |  CAST(coalesce(MAX(delta), 0) AS BIGINT) AS max_delta
      |FROM s LEFT JOIN d ON s.media_id = d.media_id
      |GROUP BY s.media_id, s.nf ORDER BY s.media_id""".stripMargin

  /** q164 — REAL COMPRESSED image decode: synthesize a genuine PNG per
    * document — same pixel contract as q151 but DEFLATE-compressed,
    * five-filter-cycled, CRC-protected, multi-IDAT
    * ([[graft.multimodal.Multimodal.pngFromText]]) — then PARSE it back
    * with the from-scratch [[graft.multimodal.Codecs.decodePng]]
    * (signature, chunk walk + CRC verification, `Inflater` zlib, the
    * five spec un-filters) and emit per-image pixel statistics. The
    * oracle is q151's SQL VERBATIM: the container changed, the decoded
    * truth didn't — so a wrong un-filter, a dropped IDAT byte, or a
    * mis-read IHDR all hash-mismatch against the same prediction.
    * Encode+decode ride one per-partition stage, shuffle-free — at
    * 100 TB the codec rides the scan.
    */
  val q164_png_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodePngStats(
        graft.multimodal.Multimodal.pngFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q164Sql: String = q151Sql

  /** q165 — CROSS-MODAL duplicate clusters: the three modality-level
    * near-dup pair relations — text MinHash+LSH (q19's algebra), image
    * dHash banded hamming (q154's), audio envelope-fingerprint banded
    * hamming (the same lossless 4×16 kernel over q157's sketch) — are
    * keyed by the SHARED document id, so their union is one edge list;
    * [[graft.ops.Components.connectedComponents]] turns it into unified
    * duplicate clusters (a doc textually near another and visually near
    * a third lands all three in one cluster — the keep-one unit a
    * multimodal training corpus actually dedups by). Builds and
    * PUBLISHES the tagged pair memo ([[SharedReadouts.pairs]]) so the q163 card
    * reads it instead of re-decoding three media corpora. The oracle
    * re-derives everything brute-force in DuckDB: exact Jaccard pairs ∪
    * brute-force hamming pairs for both sketch modalities, then a
    * recursive-CTE transitive closure with min-label semantics (the q56
    * discipline). At 100 TB: each pair tier is its bucketed self, the
    * union is pair-scale, CC shuffles only the edge list.
    */
  val q165_crossmodal_clusters: Q = (s, d) => {
    val edges = SharedReadouts.pairs.publish((s, d))
      .select("id_a", "id_b").distinct()
    graft.ops.Components.connectedComponents(
        Tables.documents(s, d).select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("component"))
  }

  /** q169 — REAL LZW-compressed image decode: synthesize a genuine
    * GIF89a per document — the ASCII sub-stream as the palette-index
    * plane of a 16-wide grayscale-palette image, LZW-compressed with
    * variable-width codes, clear/EOI control codes, and 255-byte
    * sub-blocks ([[graft.multimodal.Multimodal.gifFromText]]) — then
    * PARSE it back with the from-scratch [[graft.multimodal.Codecs.decodeGif]]
    * (header walk, extension skipping, sub-block reassembly, the full
    * variable-width LZW algorithm including the KwKwK case and table
    * resets) and emit per-image pixel statistics. Third real
    * compressed container after PNG (q164) and the entropy coding is
    * genuine this time — LZW, not just DEFLATE's wrapper. The
    * grayscale palette triplicates each index into RGB, so the oracle
    * predicts every field from the text: sum_channel = 3·Σcodes,
    * mean = Σcodes/(16·h). Per-partition encode+decode in one stage,
    * shuffle-free.
    */
  val q169_gif_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeGifStats(
        graft.multimodal.Multimodal.gifFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q169Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |capped AS (
      |  -- mirror gifFromText's 16*65535-code cap (16-bit height field)
      |  SELECT media_id, codes[1:1048560] AS codes FROM a),
      |s AS (
      |  SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS h
      |  FROM capped)
      |SELECT media_id,
      |  CAST(16 AS INTEGER) AS width,
      |  CAST(h AS INTEGER) AS height,
      |  CAST(16 * h AS BIGINT) AS n_pixels,
      |  CAST(3 * coalesce(list_sum(codes), 0) AS BIGINT) AS sum_channel,
      |  CAST(3 * coalesce(list_sum([c * c for c in codes]), 0) AS BIGINT)
      |    AS sum_channel_sq,
      |  CAST(coalesce(list_max(codes), 0) AS INTEGER) AS max_channel,
      |  CAST(coalesce(list_sum(codes), 0) AS DOUBLE) / (16.0 * h)
      |    AS mean_channel
      |FROM s ORDER BY media_id""".stripMargin

  /** q170 — REAL TRANSFORM-CODEC image decode: synthesize a genuine
    * baseline JPEG per document — code i becomes one CONSTANT 8×8 block
    * of an 8-wide grayscale frame, pushed through the full T.81 path
    * ([[graft.multimodal.Multimodal.jpegFromText]]: level shift, FDCT,
    * all-ones quantization, zigzag, DC-predicted category coding,
    * run/size AC coding, canonical Huffman, byte stuffing) — then PARSE
    * it back with the from-scratch [[graft.multimodal.Codecs.decodeJpeg]]
    * (marker walk reading DQT/DHT from the file, Huffman scan decode,
    * dequantize, IDCT) and emit per-image pixel statistics. A constant
    * block's DCT is DC-only and the all-ones table quantizes the DC
    * losslessly, so the lossy-codec round-trip is EXACT here and the
    * oracle predicts every field from the text — while the bytes on the
    * wire exercise genuine transform-codec entropy coding (the first
    * DCT-family format in the tier; the stub now covers only the
    * perceptual codecs MP3/H.264). Per-partition encode+decode in one
    * stage, shuffle-free; at 100 TB the codec rides the scan.
    */
  val q170_jpeg_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeJpegStats(
        graft.multimodal.Multimodal.jpegFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q170Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |capped AS (
      |  -- mirror jpegFromText's 8191-code cap (16-bit height = 8*nb)
      |  SELECT media_id, codes[1:8191] AS codes FROM a),
      |s AS (
      |  SELECT media_id, codes, greatest(1, len(codes)) AS nb
      |  FROM capped)
      |SELECT media_id,
      |  CAST(8 AS INTEGER) AS width,
      |  CAST(8 * nb AS INTEGER) AS height,
      |  CAST(64 * nb AS BIGINT) AS n_pixels,
      |  CAST(192 * coalesce(list_sum(codes), 0) AS BIGINT) AS sum_channel,
      |  CAST(192 * coalesce(list_sum([c * c for c in codes]), 0) AS BIGINT)
      |    AS sum_channel_sq,
      |  CAST(coalesce(list_max(codes), 0) AS INTEGER) AS max_channel,
      |  CAST(coalesce(list_sum(codes), 0) AS DOUBLE) / nb AS mean_channel
      |FROM s ORDER BY media_id""".stripMargin

  /** q171 — REAL LOSSLESSLY-COMPRESSED audio decode: synthesize a
    * genuine FLAC-subset stream per document — same sample contract as
    * q152 but Rice-entropy-coded through fixed linear predictors, with
    * CRC-8-protected frame headers, CRC-16-protected frames, and a
    * STREAMINFO MD5 the decoder VERIFIES
    * ([[graft.multimodal.Multimodal.flacFromText]]) — then PARSE it
    * back with the from-scratch [[graft.multimodal.Codecs.decodeFlac]]
    * (metadata walk, frame sync, unary/Rice decode, predictor undo)
    * and emit per-clip sample statistics. The oracle is q152's SQL
    * VERBATIM: lossless compression means the container changed and
    * the decoded truth didn't — the audio analog of the q164 PNG
    * discipline. Per-partition encode+decode in one stage,
    * shuffle-free.
    */
  val q171_flac_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeFlacStats(
        graft.multimodal.Multimodal.flacFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q171Sql: String = q152Sql

  /** q177 — real-pixel RESIZE over really decoded images: 2× box-filter
    * downsample of the q151 PPM corpus
    * ([[graft.multimodal.Multimodal.downsampleImageStats]]) — each
    * output channel is the integer-exact rounded mean of its 2×2 input
    * block, so the oracle re-derives every output value from the source
    * text (completing the decode / feature-extract / RESIZE /
    * frame-sample quartet on genuine pixels; dHash resamples
    * nearest-neighbor, this is the mean-pooling path a vision
    * preprocessor runs). Map-only, rides the scan.
    */
  val q177_image_downsample: Q = (s, d) =>
    graft.multimodal.Multimodal.downsampleImageStats(
        graft.multimodal.Multimodal.imagesFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q177Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (
      |  SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 48.0) AS BIGINT)) AS h
      |  FROM a),
      |px AS (
      |  SELECT media_id,
      |    ((coalesce(codes[3*(16*(2*(oi//24)) + 2*((oi%24)//3)) + (oi%3) + 1], 0)
      |      + coalesce(codes[3*(16*(2*(oi//24)) + 2*((oi%24)//3) + 1) + (oi%3) + 1], 0)
      |      + coalesce(codes[3*(16*(2*(oi//24)+1) + 2*((oi%24)//3)) + (oi%3) + 1], 0)
      |      + coalesce(codes[3*(16*(2*(oi//24)+1) + 2*((oi%24)//3) + 1) + (oi%3) + 1], 0)
      |      + 2) // 4) AS v
      |  FROM (SELECT media_id, codes,
      |      unnest(generate_series(0, (h // 2) * 24 - 1)) AS oi
      |    FROM s WHERE h >= 2))
      |SELECT s.media_id,
      |  CAST(8 AS INTEGER) AS out_width,
      |  CAST(s.h // 2 AS INTEGER) AS out_height,
      |  CAST(8 * (s.h // 2) AS BIGINT) AS n_out_pixels,
      |  CAST(coalesce(SUM(v), 0) AS BIGINT) AS sum_channel,
      |  CAST(coalesce(MAX(v), 0) AS INTEGER) AS max_channel
      |FROM s LEFT JOIN px ON s.media_id = px.media_id
      |GROUP BY s.media_id, s.h ORDER BY s.media_id""".stripMargin

  /** q178 — QUARANTINE decode: a media lake with PLANTED corruption
    * (payloads for id%13 lose their trailing bytes — inside the PNG
    * chunk structure, so the CRC/length verification must reject them)
    * decoded with quarantine semantics
    * ([[graft.multimodal.Multimodal.tryDecodeImageStats]]): good
    * payloads emit genuine statistics, corrupt ones emit `decode_ok=0`
    * rows — never a stage crash, never a silently wrong statistic (a
    * decoder that tolerated the truncation would hash-mismatch on the
    * zeroed columns). The production contract for 100 TB lakes, where
    * corrupt files are a certainty; the quarantine relation is the
    * re-fetch worklist. Map-only. PUBLISHES the per-doc readout into
    * the [[SharedReadouts.quarantine]] memo so the state-served release card
    * (q206) prices a join, not a re-decoded lake — q178's own number
    * always bills the full encode→corrupt→decode pipeline.
    */
  val q178_quarantine_decode: Q = (s, d) =>
    SharedReadouts.quarantine.publish((s, d))

  val q178Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (
      |  SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 48.0) AS BIGINT)) AS h,
      |    CASE WHEN media_id % 13 = 0 THEN 0 ELSE 1 END AS ok
      |  FROM a)
      |SELECT media_id,
      |  CAST(ok AS INTEGER) AS decode_ok,
      |  CAST(ok * 16 AS INTEGER) AS width,
      |  CAST(ok * h AS INTEGER) AS height,
      |  CAST(ok * 16 * h AS BIGINT) AS n_pixels,
      |  CAST(ok * coalesce(list_sum(codes), 0) AS BIGINT) AS sum_channel,
      |  CAST(ok * coalesce(list_max(codes), 0) AS INTEGER) AS max_channel
      |FROM s ORDER BY media_id""".stripMargin

  val q165Sql: String = {
    s"""WITH RECURSIVE
       |tp AS (SELECT id_a, id_b FROM (${ModalPairSql.textPairs}) t),
       |ip AS (SELECT id_a, id_b FROM (${ModalPairSql.imagePairs}) t),
       |ap AS (SELECT id_a, id_b FROM (${ModalPairSql.audioPairs}) t),
       |allp AS (SELECT * FROM tp UNION SELECT * FROM ip
       |         UNION SELECT * FROM ap),
       |edges AS (SELECT id_a AS a, id_b AS b FROM allp
       |          UNION SELECT id_b, id_a FROM allp),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, min(dst) AS component
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  }

  /** q81 — CDC changelog APPLY: compact a multi-version change log
    * (latest seq wins per key), then merge onto a snapshot — upserts
    * replace or insert, deletes drop — the MERGE INTO semantics every
    * lakehouse table maintains. Compaction is a per-key window (bounded by
    * versions per key, not table size); the merge is two key-partitioned
    * anti-joins + a union, all partial+final — at lake scale the
    * snapshot side prunes to the changed partition range. Change batches
    * are derived deterministically from the orders table via modulo
    * predicates, so the oracle replays the identical log.
    */
  val q81_cdc_apply: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val snapshot = o.filter(col("key") % 4 =!= 0)
    val c1 = o.filter(col("key") % 3 === 0)
      .select(col("key"),
        when(col("key") % 9 === 0, "D").otherwise("U").as("op"),
        col("status"), (col("price") * 1.05).as("price"), lit(1).as("seq"))
    val c2 = o.filter(col("key") % 6 === 0)
      .select(col("key"), lit("U").as("op"),
        col("status"), (col("price") * 1.10).as("price"), lit(2).as("seq"))
    val w = Window.partitionBy("key").orderBy(col("seq").desc)
    val latest = c1.unionByName(c2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    val deletes = latest.filter(col("op") === "D").select("key")
    val upserts = latest.filter(col("op") === "U")
      .select(col("key"), col("status"), col("price"))
    snapshot
      .join(deletes, Seq("key"), "left_anti")
      .join(upserts.select("key"), Seq("key"), "left_anti")
      .withColumn("src", lit("kept"))
      .unionByName(upserts.withColumn("src", lit("applied")))
      .select("key", "status", "price", "src")
  }

  val q81Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |    o_totalprice AS price
      |  FROM orders),
      |snapshot AS (SELECT * FROM o WHERE key % 4 <> 0),
      |c1 AS (
      |  SELECT key, CASE WHEN key % 9 = 0 THEN 'D' ELSE 'U' END AS op,
      |    status, price * 1.05 AS price, 1 AS seq
      |  FROM o WHERE key % 3 = 0),
      |c2 AS (
      |  SELECT key, 'U' AS op, status, price * 1.10 AS price, 2 AS seq
      |  FROM o WHERE key % 6 = 0),
      |latest AS (
      |  SELECT key, op, status, price FROM (
      |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC)
      |      AS rk
      |    FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2))
      |  WHERE rk = 1),
      |deletes AS (SELECT key FROM latest WHERE op = 'D'),
      |upserts AS (SELECT key, status, price FROM latest WHERE op = 'U')
      |SELECT key, status, price, 'kept' AS src
      |FROM snapshot
      |WHERE key NOT IN (SELECT key FROM deletes)
      |  AND key NOT IN (SELECT key FROM upserts)
      |UNION ALL
      |SELECT key, status, price, 'applied' AS src FROM upserts
      |ORDER BY key""".stripMargin

  /** q82 — corpus HEALTH rollup: per (lang, source) slice — document
    * count, distinct-content count, duplicate rate, char-length mean, and
    * token volume — the monitoring table a corpus build publishes after
    * every ingest. One grouped aggregate (partial+final); the dup rate
    * rides on a distinct-count of the content digest, and the exact token
    * total reuses q22's whitespace contract.
    */
  val q82_corpus_health: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("h"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_toks"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_tokens"))
      .withColumn("dup_rate",
        lit(1d) - col("n_unique").cast("double") / col("n_docs").cast("double"))
      .select("lang", "source", "n_docs", "n_unique", "dup_rate",
        "total_chars", "total_tokens")

  val q82Sql: String =
    """SELECT lang, source,
      |  count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_unique,
      |  1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS dup_rate,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS total_tokens
      |FROM documents
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** q181 — REAL COMPRESSED video decode: synthesize a genuine MJPEG
    * stream per document (one complete baseline JPEG per 6-code slice —
    * [[graft.multimodal.Multimodal.mjpegFromText]]: FDCT, Huffman
    * entropy coding, DC prediction per frame), discover frame
    * boundaries by MARKER PARSING
    * ([[graft.multimodal.Codecs.decodeJpegStream]] — header segments
    * skipped by length, entropy data scanned for the unstuffed EOI),
    * and emit q161's per-video totals + every-4th-frame sampled sums.
    * Block-constant synthesis under the all-ones quantization keeps
    * every field an exact integer the oracle predicts from the text —
    * a mis-walked boundary, a broken Huffman table, or an off-by-one
    * in the sampling all hash-mismatch. The video tier now carries a
    * genuinely compressed container, like the image tier's PNG/GIF/
    * JPEG; the remaining stub is inter-frame video (H.264) only.
    */
  val q181_mjpeg_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeVideoStats(
        graft.multimodal.Multimodal.mjpegFromText(
          s, Tables.documents(s, d), "doc_id", "text"),
        stride = 4,
        decoder = graft.multimodal.Codecs.decodeJpegStream)
      .toDF()

  // 192 = 3 RGB channels (gray triplicated) x 64 pixels per 8x8 block
  val q181Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 6.0) AS BIGINT)) AS nf
      |  FROM a),
      |fr AS (
      |  SELECT media_id, nf, f,
      |    CAST(192 * coalesce(list_sum(codes[6*f + 1 : 6*f + 6]), 0)
      |      AS BIGINT) AS fsum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s))
      |SELECT media_id,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(nf * 384 AS BIGINT) AS n_pixels,
      |  CAST(SUM(fsum) AS BIGINT) AS sum_channel,
      |  CAST(SUM(CASE WHEN f % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS sampled_frames,
      |  CAST(SUM(CASE WHEN f % 4 = 0 THEN fsum ELSE 0 END) AS BIGINT)
      |    AS sampled_sum
      |FROM fr GROUP BY media_id, nf ORDER BY media_id""".stripMargin

  /** q182 — scene cuts over the REALLY DECODED MJPEG frame stream:
    * q162's adjacent-frame delta algebra over compressed frames; the
    * 50000 threshold scales q162's 1000 by the 192x channel-sum factor
    * of the 6-block frame shape (divided by the narrower 6-code slice).
    */
  val q182_mjpeg_scene_cuts: Q = (s, d) =>
    graft.multimodal.Multimodal.detectSceneCuts(
        graft.multimodal.Multimodal.mjpegFromText(
          s, Tables.documents(s, d), "doc_id", "text"),
        threshold = 50000L,
        decoder = graft.multimodal.Codecs.decodeJpegStream)
      .toDF()

  val q182Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 6.0) AS BIGINT)) AS nf
      |  FROM a),
      |fr AS (
      |  SELECT media_id, nf, f,
      |    CAST(192 * coalesce(list_sum(codes[6*f + 1 : 6*f + 6]), 0)
      |      AS BIGINT) AS fsum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s)),
      |d AS (
      |  SELECT x.media_id, x.nf, abs(y.fsum - x.fsum) AS delta
      |  FROM fr x JOIN fr y
      |    ON x.media_id = y.media_id AND y.f = x.f + 1)
      |SELECT s.media_id, CAST(s.nf AS BIGINT) AS n_frames,
      |  CAST(coalesce(SUM(CASE WHEN delta > 50000 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS n_cuts,
      |  CAST(coalesce(MAX(delta), 0) AS BIGINT) AS max_delta
      |FROM s LEFT JOIN d ON s.media_id = d.media_id
      |GROUP BY s.media_id, s.nf ORDER BY s.media_id""".stripMargin

  /** q183 — REAL LOSSY-compressed audio decode: IMA ADPCM payloads
    * (genuine 4-bit adaptive-delta wire format, block headers, `fact`
    * chunk — [[graft.multimodal.Multimodal.adpcmFromText]]) parsed
    * back through the from-scratch nibble reconstruction
    * ([[graft.multimodal.Codecs.decodeWavAdpcm]]) into q152's audio
    * statistics shape. The blockwise-constant synthesis makes this
    * particular signal a lossless fixed point of the lossy codec
    * (zero-difference nibbles at step index 0), so the oracle predicts
    * every field exactly: 505 samples per code at the (code − 64)·256
    * amplitude — a mis-seeded block header, a wrong step-table entry,
    * or a dropped `fact` trim all hash-mismatch. CodecSpec pins the
    * genuinely lossy path with hand-traced nibble streams.
    */
  val q183_adpcm_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeAdpcmStats(
        graft.multimodal.Multimodal.adpcmFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q183Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |    [(ord(c) - 64) * 256 for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS smp
      |  FROM documents)
      |SELECT media_id,
      |  CAST(505 * len(smp) AS BIGINT) AS n_samples,
      |  CAST((505 * len(smp) * 1000) // 8000 AS BIGINT) AS duration_ms,
      |  CAST(505 * coalesce(list_sum(smp), 0) AS BIGINT) AS sum_sample,
      |  CAST(coalesce(list_min(smp), 0) AS BIGINT) AS min_sample,
      |  CAST(coalesce(list_max(smp), 0) AS BIGINT) AS max_sample
      |FROM a ORDER BY media_id""".stripMargin

  /** q199 — MP3 FRAME CENSUS, the structural container walk: per
    * document a genuine MPEG-1 Layer III stream is synthesized (real
    * sync words, version/layer bits, bitrate/sample-rate table
    * indices, padding bits, an ID3v2 tag with a syncsafe declared
    * size — [[graft.multimodal.Multimodal.mp3FromText]]) and then
    * REALLY WALKED ([[graft.multimodal.Codecs.decodeMp3Stream]]): the
    * tag is skipped by its declared size and every frame boundary is
    * re-derived from the 11-bit sync + the published header tables
    * (frame length = ⌊144000·kbps / rate⌋ + padding — ISO/IEC
    * 11172-3), exactly what [[Codecs.decodeJpegStream]]'s marker walk
    * is for video. The oracle predicts every census field (frame
    * count, offsets, padded frames, bitrate sums) from the same
    * header-table arithmetic — a mis-walked sync or an off-by-one in
    * the slot count shifts an offset and hash-mismatches. This
    * narrows the engine's declared perceptual stub from "MP3" to the
    * MP3 PAYLOAD only (Huffman spectral decode / synthesis
    * filterbank): the container layer is now real, like every other
    * shipped format.
    */
  val q199_mp3_frame_census: Q = (s, d) =>
    graft.multimodal.Multimodal.mp3FrameCensus(
        graft.multimodal.Multimodal.mp3FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  /** `fr`: every 16-code frame of a synthesized stream (MP3 or H.264)
    * with its code sum `csum`, the seed of each frame field. Continues
    * a WITH list after `s` (media_id, codes, nf).
    */
  private val FrameSumsCte: String =
    """fr AS (
      |  SELECT media_id, nf, f,
      |    coalesce(list_sum(codes[16*f + 1 : 16*f + 16]), 0) AS csum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s)),""".stripMargin

  /** The H.264 SPS NAL size per stream (`sp`: media_id, sps_bytes), from
    * the Exp-Golomb widths of the four stream-keyed header fields.
    */
  private val SpsBytesCte: String =
    """sp AS (
      |  SELECT media_id,
      |    (34
      |      + 2 * (length(bin(media_id % 9 + 1)) - 1) + 1
      |      + 2 * (length(bin(media_id % 4 + 2)) - 1) + 1
      |      + 2 * (length(bin(media_id % 20 + 1)) - 1) + 1
      |      + 2 * (length(bin(media_id % 15 + 1)) - 1) + 1
      |      + 7) // 8 AS sps_bytes
      |  FROM s),""".stripMargin

  val q199Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM a),
      |$FrameSumsCte
      |fl AS (
      |  SELECT media_id, nf, f,
      |    [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
      |      [CAST(1 + (csum + f) % 14 AS INTEGER)] AS kbps,
      |    (csum + media_id) % 2 AS pad,
      |    [44100,48000,32000][CAST(media_id % 3 + 1 AS INTEGER)] AS sr
      |  FROM fr),
      |fx AS (
      |  SELECT media_id, nf, f, kbps, pad,
      |    144000 * kbps // sr + pad AS flen
      |  FROM fl)
      |SELECT media_id,
      |  CAST(10 + (media_id * 37) % 300 AS BIGINT) AS id3_bytes,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(10 + (media_id * 37) % 300 + sum(flen) AS BIGINT)
      |    AS total_bytes,
      |  CAST(max(flen) AS BIGINT) AS max_frame_len,
      |  CAST(sum(pad) AS BIGINT) AS n_padded,
      |  CAST(10 + (media_id * 37) % 300 + sum(flen)
      |    - max(CASE WHEN f = nf - 1 THEN flen END) AS BIGINT)
      |    AS last_offset,
      |  CAST(sum(kbps) AS BIGINT) AS sum_kbps
      |FROM fx GROUP BY media_id, nf ORDER BY media_id""".stripMargin

  /** q200 — MP3 QUARANTINE PARITY, the fifth container under the
    * q178/q184 production contract: for media_id % 13 == 0 the first
    * frame header's bitrate index is overwritten with the FORBIDDEN
    * value 15 (the format's own reserved code — every container's
    * corruption class violates its own wire format), the walk is
    * really attempted, and failures become zeroed `decode_ok = 0` rows
    * — never a stage crash, never a silently wrong census. The oracle
    * predicts exactly which ids quarantine and the full q199 census of
    * the rest.
    */
  val q200_mp3_quarantine: Q = (s, d) =>
    graft.multimodal.Multimodal.tryMp3Census(
        graft.multimodal.Multimodal.corruptMp3(
          graft.multimodal.Multimodal.mp3FromText(
            s, Tables.documents(s, d), "doc_id", "text")))
      .toDF()

  val q200Sql: String =
    s"""WITH census AS ( $q199Sql )
       |SELECT media_id,
       |  CAST(CASE WHEN media_id % 13 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE id3_bytes END
       |    AS id3_bytes,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE n_frames END
       |    AS n_frames,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE total_bytes END
       |    AS total_bytes,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE max_frame_len END
       |    AS max_frame_len,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE n_padded END
       |    AS n_padded,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE last_offset END
       |    AS last_offset,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE sum_kbps END
       |    AS sum_kbps
       |FROM census ORDER BY media_id""".stripMargin

  /** q202 — ID3v2.3 METADATA EXTRACTION: the tag layer q199 merely
    * skips is itself a deterministic wire format, and the metadata
    * read (title/artist/album) is what a real audio-lake pipeline
    * extracts per file. Per document a tagged MP3 is synthesized with
    * REAL text frames (big-endian v2.3 frame sizes, flag bytes, BOTH
    * v2.3 text encodings live per id-derived frame choice — ISO-8859-1
    * and UTF-16-with-BOM, half the real-world v2.3 tag population
    * each — zero padding; [[graft.multimodal.Codecs.encodeId3Frames]])
    * planted from the document row, then parsed back by genuine frame
    * walking ([[graft.multimodal.Codecs.decodeId3TextFrames]] — never
    * an echo: a mis-read size, a wrong offset, a BOM slip, or an
    * encoding mix-up garbles a string) alongside the audio-frame walk.
    * The oracle predicts the strings from the source columns and every
    * byte total from the frame-size arithmetic, INCLUDING each frame's
    * encoding choice (a UTF-16 frame costs 2 BOM bytes + 2 bytes per
    * character where an ISO frame costs 1).
    */
  val q202_mp3_tag_extract: Q = (s, d) =>
    graft.multimodal.Multimodal.mp3ExtractTags(
        graft.multimodal.Multimodal.mp3TaggedFromDocs(
          s, Tables.documents(s, d), "doc_id"))
      .toDF()

  val q202Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |    'doc ' || CAST(doc_id AS VARCHAR) AS title,
      |    coalesce(lang, '') AS artist,
      |    coalesce(source, '') AS album,
      |    CAST(doc_id % 7 AS BIGINT) * 3 AS pad_bytes
      |  FROM documents),
      |t AS (
      |  SELECT media_id, title, artist, album,
      |    10 + 3 * 10 + 3 * 1
      |      + CASE WHEN media_id % 5 = 0
      |          THEN 2 + 2 * len(title) ELSE len(title) END
      |      + CASE WHEN media_id % 2 = 1
      |          THEN 2 + 2 * len(artist) ELSE len(artist) END
      |      + CASE WHEN media_id % 3 = 0
      |          THEN 2 + 2 * len(album) ELSE len(album) END
      |      + pad_bytes AS tag_bytes
      |  FROM a),
      |f AS (
      |  SELECT media_id, tag_bytes, title, artist, album,
      |    144000 * [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
      |        [CAST(1 + media_id % 14 AS INTEGER)]
      |      // [44100,48000,32000][CAST(media_id % 3 + 1 AS INTEGER)]
      |      + media_id % 2 AS flen
      |  FROM t)
      |SELECT media_id,
      |  CAST(tag_bytes AS BIGINT) AS tag_bytes,
      |  CAST(3 AS BIGINT) AS n_tag_frames,
      |  title, artist, album,
      |  CAST(2 AS BIGINT) AS n_audio_frames,
      |  CAST(tag_bytes + 2 * flen AS BIGINT) AS total_bytes
      |FROM f ORDER BY media_id""".stripMargin

  /** q204 — H.264 NAL CENSUS, the structural container walk for the
    * LAST named format: per document a genuine Annex-B stream is
    * synthesized (real start codes, NAL headers, emulation-prevention
    * escaping, a fully Exp-Golomb-coded SPS —
    * [[graft.multimodal.Multimodal.h264FromText]]) and REALLY WALKED
    * ([[graft.multimodal.Codecs.decodeH264Stream]]): start codes are
    * scanned (3- and 4-byte), every NAL header validated
    * (forbidden_zero_bit, the spec's per-type nal_ref_idc rules), and
    * the SPS's profile/level/frame-num/dimension fields re-derived bit
    * by bit — what q199's frame walk is for MP3 and
    * [[graft.multimodal.Codecs.decodeJpegStream]]'s marker walk is for
    * MJPEG. The oracle predicts every census field from the synthesis
    * arithmetic, INCLUDING the SPS's RBSP byte count via the ue(v)
    * bit-length formula (2·⌊log2(k+1)⌋+1 — the `length(bin())` idiom):
    * a mis-read Exp-Golomb field, a mis-scanned start code, or an
    * escape slip shifts a size or an offset and hash-mismatches. The
    * engine's declared perceptual stub now reads "payload decode only"
    * for EVERY format it names: H.264's container layer is real.
    */
  val q204_h264_nal_census: Q = (s, d) =>
    graft.multimodal.Multimodal.h264NalCensus(
        graft.multimodal.Multimodal.h264FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q204Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM a),
      |$FrameSumsCte
      |fl AS (
      |  SELECT media_id, nf, f,
      |    16 + (csum + f) % 64 AS plen,
      |    CASE WHEN f % 7 = 0 THEN 3 ELSE (csum + media_id) % 4 END AS ref
      |  FROM fr),
      |sp AS (
      |  SELECT media_id,
      |    (34
      |      + 2 * (length(bin(media_id % 9 + 1)) - 1) + 1
      |      + 2 * (length(bin(media_id % 4 + 2)) - 1) + 1
      |      + 2 * (length(bin(media_id % 20 + 1)) - 1) + 1
      |      + 2 * (length(bin(media_id % 15 + 1)) - 1) + 1
      |      + 7) // 8 AS sps_bytes
      |  FROM s)
      |SELECT media_id,
      |  CAST(nf + 2 AS BIGINT) AS n_nals,
      |  CAST(sum(CASE WHEN f % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_idr,
      |  CAST(nf - sum(CASE WHEN f % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_non_idr,
      |  CAST(6 + sum(ref) AS BIGINT) AS sum_ref_idc,
      |  CAST([66,77,88][CAST(media_id % 3 + 1 AS INTEGER)] AS BIGINT)
      |    AS profile_idc,
      |  CAST([10,20,30,31,40][CAST(media_id % 5 + 1 AS INTEGER)] AS BIGINT)
      |    AS level_idc,
      |  CAST(4 + media_id % 9 AS BIGINT) AS log2_max_frame_num,
      |  CAST(16 * (1 + media_id % 20) AS BIGINT) AS width_px,
      |  CAST(16 * (1 + media_id % 15) AS BIGINT) AS height_px,
      |  CAST(sps_bytes AS BIGINT) AS sps_bytes,
      |  CAST(12 + sps_bytes + sum(4 + plen) AS BIGINT) AS total_bytes,
      |  CAST(12 + sps_bytes + sum(4 + plen)
      |    - 4 - max(CASE WHEN f = nf - 1 THEN plen END) AS BIGINT)
      |    AS last_offset
      |FROM fl JOIN sp USING (media_id)
      |GROUP BY media_id, nf, sps_bytes ORDER BY media_id""".stripMargin

  /** q205 — H.264 QUARANTINE PARITY, the sixth container under the
    * q178/q184/q200 production contract: for media_id % 13 == 0 the
    * FIRST NAL header's forbidden_zero_bit is set (the spec's own
    * always-zero bit — every container's corruption class violates its
    * own wire format), the walk is really attempted, and failures
    * become zeroed `decode_ok = 0` rows — never a stage crash, never a
    * silently wrong census. The oracle predicts exactly which ids
    * quarantine and the full q204 census of the rest.
    */
  val q205_h264_quarantine: Q = (s, d) =>
    graft.multimodal.Multimodal.tryH264Census(
        graft.multimodal.Multimodal.corruptH264(
          graft.multimodal.Multimodal.h264FromText(
            s, Tables.documents(s, d), "doc_id", "text")))
      .toDF()

  val q205Sql: String =
    s"""WITH census AS ( $q204Sql )
       |SELECT media_id,
       |  CAST(CASE WHEN media_id % 13 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE n_nals END AS n_nals,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE n_idr END AS n_idr,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE n_non_idr END
       |    AS n_non_idr,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE sum_ref_idc END
       |    AS sum_ref_idc,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE profile_idc END
       |    AS profile_idc,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE level_idc END
       |    AS level_idc,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE log2_max_frame_num END
       |    AS log2_max_frame_num,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE width_px END AS width_px,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE height_px END
       |    AS height_px,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE sps_bytes END
       |    AS sps_bytes,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE total_bytes END
       |    AS total_bytes,
       |  CASE WHEN media_id % 13 = 0 THEN 0 ELSE last_offset END
       |    AS last_offset
       |FROM census ORDER BY media_id""".stripMargin

  /** q207 — H.264 IDR SEEK INDEX: the keyframe byte offsets of really
    * walked Annex-B streams ([[graft.multimodal.Multimodal
    * .h264IdrIndex]]) — where a video training pipeline cuts, samples,
    * or resumes a clip without decoding across a prediction chain (the
    * container-derived version of the frame-sampling plan). Per
    * stream: IDR count, first/last IDR start-code offsets, the largest
    * byte gap between consecutive IDRs (the worst-case GOP a seeker
    * scans), and the unseekable tail after the last IDR. The oracle
    * re-derives every offset from the synthesis arithmetic by
    * CUMULATIVE window sums over the per-slice NAL sizes (the q185
    * sliding-window discipline) — an off-by-one anywhere in the
    * start-code/header/payload layout shifts an offset and
    * hash-mismatches.
    */
  val q207_h264_idr_index: Q = (s, d) =>
    graft.multimodal.Multimodal.h264IdrIndex(
        graft.multimodal.Multimodal.h264FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q207Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM a),
      |$FrameSumsCte
      |fl AS (SELECT media_id, nf, f, 16 + (csum + f) % 64 AS plen FROM fr),
      |$SpsBytesCte
      |off AS (
      |  SELECT media_id, f, plen,
      |    12 + sps_bytes + coalesce(SUM(4 + plen) OVER (
      |      PARTITION BY media_id ORDER BY f
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
      |  FROM fl JOIN sp USING (media_id)),
      |tot AS (
      |  SELECT media_id, 12 + any_value(sps_bytes) + SUM(4 + plen) AS total
      |  FROM fl JOIN sp USING (media_id) GROUP BY media_id),
      |idr AS (
      |  SELECT media_id, o,
      |    o - lag(o) OVER (PARTITION BY media_id ORDER BY f) AS gap
      |  FROM off WHERE f % 7 = 0)
      |SELECT media_id,
      |  CAST(count(*) AS BIGINT) AS n_idr,
      |  CAST(min(o) AS BIGINT) AS first_idr_offset,
      |  CAST(max(o) AS BIGINT) AS last_idr_offset,
      |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gop_bytes,
      |  CAST(any_value(total) - max(o) AS BIGINT) AS tail_bytes
      |FROM idr JOIN tot USING (media_id)
      |GROUP BY media_id ORDER BY media_id""".stripMargin

  /** q209 — H.264 SLICE-HEADER CENSUS: the layer between q204's NAL
    * walk and the declared stub is itself real wire format — each
    * slice RBSP leads with an Exp-Golomb header (first_mb_in_slice,
    * slice_type from the per-type legal sets, pic_parameter_set_id,
    * then frame_num read with a BIT WIDTH THE SPS DECLARES — the
    * cross-NAL dependency of the real format: the header cannot be
    * parsed without first decoding the SPS). The synthesis exercises
    * both members of each legal slice_type set (I: 2/7 on IDR, P: 0/5
    * on non-IDR, chosen by payload parity) and the spec's IDR
    * frame_num = 0 rule; the stub is now the entropy-coded macroblock
    * DATA alone. The oracle re-derives every count and the frame_num
    * arithmetic (slice index mod 2^log2_max_frame_num) from the source
    * columns — a slipped bit boundary or a wrong width garbles a
    * value and hash-mismatches.
    */
  val q209_h264_slice_census: Q = (s, d) =>
    graft.multimodal.Multimodal.h264SliceCensus(
        graft.multimodal.Multimodal.h264FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q209Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM a),
      |$FrameSumsCte
      |fl AS (
      |  SELECT media_id, nf, f,
      |    (16 + (csum + f) % 64) % 2 AS pe,
      |    CASE WHEN f % 7 = 0 THEN 0
      |      ELSE f % (1 << CAST(4 + media_id % 9 AS INTEGER)) END AS fn
      |  FROM fr)
      |SELECT media_id,
      |  CAST(nf AS BIGINT) AS n_slices,
      |  CAST(sum(CASE WHEN f % 7 = 0 AND pe = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_i2,
      |  CAST(sum(CASE WHEN f % 7 = 0 AND pe = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_i7,
      |  CAST(sum(CASE WHEN f % 7 <> 0 AND pe = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_p0,
      |  CAST(sum(CASE WHEN f % 7 <> 0 AND pe = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_p5,
      |  CAST(sum(fn) AS BIGINT) AS sum_frame_num,
      |  CAST(max(fn) AS BIGINT) AS max_frame_num
      |FROM fl GROUP BY media_id, nf ORDER BY media_id""".stripMargin

  /** q210 — H.264 SEI FF-CASCADE CENSUS: the supplemental-metadata
    * unit's payload type and size use the format's one variable-length
    * integer coding that is NOT Exp-Golomb — as many 0xFF bytes as the
    * value holds full 255s, then the remainder (spec §7.3.2.3.1) —
    * and the synthesis drives BOTH widths of BOTH fields (type 5 on
    * even ids vs ≥ 256 on odd; size 200..319 crossing the 255
    * boundary, text-coupled). The decoder re-reads the cascades
    * byte-for-byte and enforces the declared byte accounting against
    * the NAL length plus the aligned stop-bit byte
    * ([[graft.multimodal.Codecs.decodeH264Stream]]); the oracle
    * predicts type, size, the cascade byte counts, and the whole
    * stream's byte total from the source columns.
    */
  val q210_h264_sei_census: Q = (s, d) =>
    graft.multimodal.Multimodal.h264SeiCensus(
        graft.multimodal.Multimodal.h264SeiFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q210Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf,
      |    coalesce(list_sum(codes), 0) AS tsum
      |  FROM a),
      |$FrameSumsCte
      |fl AS (SELECT media_id, nf, f, 16 + (csum + f) % 64 AS plen FROM fr),
      |$SpsBytesCte
      |se AS (
      |  SELECT media_id,
      |    CASE WHEN media_id % 2 = 0 THEN 5
      |      ELSE 256 + media_id % 100 END AS sei_type,
      |    200 + tsum % 120 AS sei_size
      |  FROM s),
      |se2 AS (
      |  SELECT media_id, sei_type, sei_size,
      |    (sei_type // 255 + 1) + (sei_size // 255 + 1) + sei_size + 1
      |      AS sei_rbsp
      |  FROM se)
      |SELECT media_id,
      |  CAST(1 AS BIGINT) AS n_sei,
      |  CAST(sei_type AS BIGINT) AS sei_type,
      |  CAST(sei_size AS BIGINT) AS sei_size,
      |  CAST(sei_rbsp AS BIGINT) AS sei_rbsp_bytes,
      |  CAST(nf + 3 AS BIGINT) AS n_nals,
      |  CAST(12 + sps_bytes + 4 + sei_rbsp + sum(4 + plen) AS BIGINT)
      |    AS total_bytes
      |FROM fl JOIN sp USING (media_id) JOIN se2 USING (media_id)
      |GROUP BY media_id, nf, sps_bytes, sei_type, sei_size, sei_rbsp
      |ORDER BY media_id""".stripMargin

  /** q211 — H.264 GOP WORKLIST: q207 reports the seek statistics;
    * this MATERIALIZES the plan — one row per IDR-delimited group of
    * pictures with its byte range and slice count, each row an
    * independently decodable unit (the IDR resets the prediction
    * chain), which is exactly how a distributed clip sampler or
    * transcoder partitions a 100 TB video corpus into parallel work
    * with no decoder coordination. A FANOUT relation (map-side,
    * ~keyframe-count rows), not a rollup. The oracle re-derives every
    * byte range by cumulative window sums + lead() over the IDR rows
    * and the slice counts from the keyframe cadence — an off-by-one
    * anywhere in the layout shifts a boundary and hash-mismatches.
    */
  val q211_h264_gop_worklist: Q = (s, d) =>
    graft.multimodal.Multimodal.h264GopWorklist(
        graft.multimodal.Multimodal.h264FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q211Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM a),
      |$FrameSumsCte
      |fl AS (SELECT media_id, nf, f, 16 + (csum + f) % 64 AS plen FROM fr),
      |$SpsBytesCte
      |off AS (
      |  SELECT media_id, nf, f, plen,
      |    12 + sps_bytes + coalesce(SUM(4 + plen) OVER (
      |      PARTITION BY media_id ORDER BY f
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
      |  FROM fl JOIN sp USING (media_id)),
      |tot AS (
      |  SELECT media_id, 12 + any_value(sps_bytes) + SUM(4 + plen) AS total
      |  FROM fl JOIN sp USING (media_id) GROUP BY media_id),
      |idr AS (
      |  SELECT media_id, nf, f, o,
      |    CAST(f // 7 AS BIGINT) AS gop_idx,
      |    lead(o) OVER (PARTITION BY media_id ORDER BY f) AS next_o
      |  FROM off WHERE f % 7 = 0)
      |SELECT media_id,
      |  gop_idx,
      |  CAST(o AS BIGINT) AS start_offset,
      |  CAST(coalesce(next_o, total) AS BIGINT) AS end_offset,
      |  CAST(coalesce(next_o, total) - o AS BIGINT) AS gop_bytes,
      |  CAST(least(7, nf - 7 * gop_idx) AS BIGINT) AS n_slices
      |FROM idr JOIN tot USING (media_id)
      |ORDER BY media_id, gop_idx""".stripMargin

  // DuckDB bit-length of an Exp-Golomb code: ue(v) costs
  // 2·⌊log2(v+1)⌋+1 bits (the length(bin()) idiom q204 established);
  // se(v) maps through codeNum = 2v−1 (v>0) / −2v (v≤0) — spec §9.1.1.
  private def uel(e: String): String =
    s"(2 * (length(bin(($e) + 1)) - 1) + 1)"
  private def sel(e: String): String =
    uel(s"CASE WHEN ($e) > 0 THEN 2 * ($e) - 1 ELSE -2 * ($e) END")

  /** q233 — H.264 PPS CENSUS + SLICE-TO-PPS WIRING: the one structural
    * NAL between the SPS and the entropy stub. Streams now carry 1–3
    * fully Exp-Golomb-coded picture parameter sets (ue ids/ref-list
    * defaults plus the format's SIGNED se(v) pic_init_qp_minus26 —
    * both signs live), and every slice header's pic_parameter_set_id
    * resolves against the stream's PPS map
    * ([[graft.multimodal.Codecs.decodeH264Stream]]): the per-slice
    * columns (CABAC vs CAVLC counts, summed init QP) are priced
    * through the REFERENCED PPS, so a mis-read id, a mis-parsed se(v),
    * or a dropped parameter set shifts them — the q209 cross-NAL
    * discipline extended from SPS→slice to SPS→PPS→slice. The
    * entropy_coding_mode column also makes the declared CABAC/CAVLC
    * stub boundary explicit per stream. The oracle re-prices every
    * PPS's RBSP byte count from the ue/se bit arithmetic and re-derives
    * the per-slice wiring from the synthesis recurrence. Map-only.
    */
  val q233_h264_pps_census: Q = (s, d) =>
    graft.multimodal.Multimodal.h264PpsCensus(
        graft.multimodal.Multimodal.h264PpsFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q233Sql: String = {
    val ppsBits =
      s"${uel("k")} + ${uel("nl0")} + ${uel("nl1")} + ${sel("qp")} + 12"
    s"""${ModalPairSql.mediaCodes}
       |s AS (SELECT media_id, codes,
       |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf,
       |    1 + media_id % 3 AS np
       |  FROM a),
       |fr AS (
       |  SELECT media_id, np, f,
       |    coalesce(list_sum(codes[16*f + 1 : 16*f + 16]), 0) AS csum
       |  FROM (SELECT media_id, np, codes,
       |      unnest(generate_series(0, nf - 1)) AS f
       |    FROM s)),
       |sl AS (
       |  SELECT media_id, f, 16 + (csum + f) % 64 AS plen,
       |    (csum + CASE WHEN f % 7 = 0 THEN 5 ELSE 1 END
       |      + 16 + (csum + f) % 64) % np AS pk
       |  FROM fr),
       |slr AS (
       |  SELECT media_id,
       |    CAST(sum((media_id + pk) % 2) AS BIGINT) AS n_cabac_slices,
       |    CAST(sum(1 - (media_id + pk) % 2) AS BIGINT) AS n_cavlc_slices,
       |    CAST(sum((media_id + 3 * pk) % 26 - 13) AS BIGINT)
       |      AS sum_slice_init_qp,
       |    CAST(sum(4 + plen) AS BIGINT) AS slice_bytes
       |  FROM sl GROUP BY media_id),
       |pp AS (
       |  SELECT media_id, k,
       |    (media_id + k) % 2 AS mode,
       |    (media_id + 2 * k) % 5 AS nl0,
       |    k % 2 AS nl1,
       |    (media_id + 3 * k) % 26 - 13 AS qp
       |  FROM (SELECT media_id,
       |      unnest(generate_series(0, np - 1)) AS k
       |    FROM s)),
       |ppr AS (
       |  SELECT media_id,
       |    CAST(count(*) AS BIGINT) AS n_pps,
       |    CAST(sum(($ppsBits + 8) // 8) AS BIGINT) AS pps_bytes,
       |    CAST(sum(mode) AS BIGINT) AS n_cabac_pps,
       |    CAST(max(nl0) AS BIGINT) AS max_ref_idx_l0,
       |    CAST(sum(4 + ($ppsBits + 8) // 8) AS BIGINT) AS pps_wire
       |  FROM pp GROUP BY media_id),
       |sp AS (
       |  SELECT media_id,
       |    (34
       |      + 2 * (length(bin(media_id % 9 + 1)) - 1) + 1
       |      + 2 * (length(bin(media_id % 4 + 2)) - 1) + 1
       |      + 2 * (length(bin(media_id % 20 + 1)) - 1) + 1
       |      + 2 * (length(bin(media_id % 15 + 1)) - 1) + 1
       |      + 7) // 8 AS sps_bytes
       |  FROM s)
       |SELECT media_id, n_pps, pps_bytes, n_cabac_pps, n_cabac_slices,
       |  n_cavlc_slices, sum_slice_init_qp, max_ref_idx_l0,
       |  CAST(5 + sps_bytes + pps_wire + slice_bytes AS BIGINT)
       |    AS total_bytes
       |FROM ppr JOIN slr USING (media_id) JOIN sp USING (media_id)
       |ORDER BY media_id""".stripMargin
  }

  /** q234 — H.264 DANGLING-REFERENCE QUARANTINE: the parameter-set
    * corruption class that arrives through NAL LOSS rather than bit
    * damage — every surviving unit still parses, but the reference
    * graph is broken. For media_id % 13 == 0 the last slice names an
    * absent PPS; else for media_id % 11 == 0 the last PPS names an
    * absent SPS ([[graft.multimodal.Multimodal.h264PpsFromText]] with
    * breakRefs — the mux writes what it is told, the DECODER owns the
    * reference checks). The walk is really attempted and failures
    * become zeroed `decode_ok = 0` rows (the q205 never-crash
    * contract); the oracle predicts exactly which ids quarantine and
    * the full q233 census of the rest.
    */
  val q234_h264_pps_quarantine: Q = (s, d) =>
    graft.multimodal.Multimodal.tryH264PpsCensus(
        graft.multimodal.Multimodal.h264PpsFromText(
          s, Tables.documents(s, d), "doc_id", "text", breakRefs = true))
      .toDF()

  val q234Sql: String = {
    def z(c: String) =
      s"CASE WHEN media_id % 13 = 0 OR media_id % 11 = 0 THEN 0 ELSE $c END AS $c"
    s"""WITH census AS ( $q233Sql )
       |SELECT media_id,
       |  CAST(CASE WHEN media_id % 13 = 0 OR media_id % 11 = 0
       |    THEN 0 ELSE 1 END AS BIGINT) AS decode_ok,
       |  ${z("n_pps")},
       |  ${z("pps_bytes")},
       |  ${z("n_cabac_pps")},
       |  ${z("n_cabac_slices")},
       |  ${z("n_cavlc_slices")},
       |  ${z("sum_slice_init_qp")},
       |  ${z("max_ref_idx_l0")},
       |  ${z("total_bytes")}
       |FROM census ORDER BY media_id""".stripMargin
  }

  // The PDF synthesis priced per doc: the escaped content stream, the
  // zlib wire size for even (FlateDecode) ids, every object's byte
  // length from its rendered string, the xref offset as their running
  // sum, and the file total. Literal lengths are written as
  // length('…') so the oracle self-verifies against the strings the
  // encoder actually writes (newlines counted as explicit +1s).
  private val PdfCte =
    """p0 AS (
      |  SELECT doc_id AS media_id, doc_id % 2 = 0 AS fl,
      |    400 + (doc_id % 5) * 50 AS w,
      |    500 + (doc_id % 4) * 70 AS h,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),
      |p1 AS (
      |  SELECT media_id, fl, w, h,
      |    len(codes) AS n,
      |    coalesce(list_sum(codes), 0) AS ps,
      |    len([c for c in codes if c IN (40, 41, 92)]) AS nesc
      |  FROM p0),
      |p2 AS (
      |  SELECT media_id, fl, w, h, n, ps, nesc,
      |    length('BT /F1 12 Tf (') + n + nesc + length(') Tj ET')
      |      AS clen,
      |    list_sum([ord(c) for c in string_split('BT /F1 12 Tf (', '')])
      |      + ps + 92 * nesc
      |      + list_sum([ord(c) for c in string_split(') Tj ET', '')])
      |      AS csum
      |  FROM p1),
      |p3 AS (
      |  SELECT media_id, fl, w, h, n, ps, clen, csum,
      |    CASE WHEN fl THEN 6 + 5 * greatest(1,
      |        CAST(ceil(clen / 65535.0) AS BIGINT)) + clen
      |      ELSE clen END AS wire
      |  FROM p2),
      |p4 AS (
      |  SELECT media_id, fl, w, h, n, ps, clen, csum, wire,
      |    length('%PDF-1.4') + 1
      |      + length('1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj')
      |      + 1
      |      + length('2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 ')
      |        + length('>> endobj') + 1
      |      + length('3 0 obj << /Type /Page /Parent 2 0 R /MediaBox ')
      |        + length('[0 0 ') + length(CAST(w AS VARCHAR)) + 1
      |        + length(CAST(h AS VARCHAR))
      |        + length('] /Contents 4 0 R >> endobj') + 1
      |      + length('4 0 obj << /Length ')
      |        + length(CAST(wire AS VARCHAR))
      |        + CASE WHEN fl THEN length(' /Filter /FlateDecode')
      |               ELSE 0 END
      |        + length(' >> stream') + 1 + wire
      |        + 1 + length('endstream endobj') + 1 AS xoff
      |  FROM p3),
      |p5 AS (
      |  SELECT media_id, fl, w, h, n, ps, clen, csum, wire, xoff,
      |    xoff + length('xref') + 1 + length('0 5') + 1 + 5 * 20
      |      + length('trailer << /Size 5 /Root 1 0 R >>') + 1
      |      + length('startxref') + 1 + length(CAST(xoff AS VARCHAR))
      |      + 1 + length('%%EOF') + 1 AS total
      |  FROM p4)""".stripMargin

  // The mixed 1.4/1.5 corpus priced per variant (q248-q250): classic
  // single-section files, §7.5.6 incremental updates (a stale base +
  // an appended replacement object 4 + a /Prev-chained section), and
  // §7.5.7 object streams behind a §7.5.8 binary xref stream. Every
  // layout byte derives from literal string lengths so the totals are
  // wrong unless every layer above them is exact.
  private val Pdf15Cte =
    """pf0 AS (
      |  SELECT doc_id AS media_id, doc_id % 2 = 0 AS fl,
      |    doc_id % 3 AS var,
      |    400 + (doc_id % 5) * 50 AS w,
      |    500 + (doc_id % 4) * 70 AS h,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),
      |pf1 AS (
      |  SELECT media_id, fl, var, w, h,
      |    len(codes) AS n,
      |    coalesce(list_sum(codes), 0) AS ps,
      |    len([c for c in codes if c IN (40, 41, 92)]) AS nesc
      |  FROM pf0),
      |pf2 AS (
      |  SELECT media_id, fl, var, w, h, n, ps, nesc,
      |    length('BT /F1 12 Tf (') + n + nesc + length(') Tj ET')
      |      AS clen,
      |    list_sum([ord(c) for c in string_split('BT /F1 12 Tf (', '')])
      |      + ps + 92 * nesc
      |      + list_sum([ord(c) for c in string_split(') Tj ET', '')])
      |      AS csum
      |  FROM pf1),
      |pf3 AS (
      |  SELECT *,
      |    CASE WHEN fl THEN 6 + 5 * greatest(1,
      |        CAST(ceil(clen / 65535.0) AS BIGINT)) + clen
      |      ELSE clen END AS wire,
      |    length('4 0 obj << /Length ') + CASE WHEN fl
      |        THEN length(' /Filter /FlateDecode') ELSE 0 END
      |      + length(' >> stream') + 1 AS o4fix
      |  FROM pf2),
      |-- classic xoff for the REAL document and for the 26-byte stale
      |-- base (wire 26, never flate) the incremental variant appends to
      |pf4 AS (
      |  SELECT *,
      |    length('%PDF-1.4') + 1
      |      + length('1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj')
      |      + 1
      |      + length('2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 ')
      |        + length('>> endobj') + 1
      |      + length('3 0 obj << /Type /Page /Parent 2 0 R /MediaBox ')
      |        + length('[0 0 ') + length(CAST(w AS VARCHAR)) + 1
      |        + length(CAST(h AS VARCHAR))
      |        + length('] /Contents 4 0 R >> endobj') + 1 AS bodyfix
      |  FROM pf3),
      |pf5 AS (
      |  SELECT *,
      |    bodyfix + o4fix + length(CAST(wire AS VARCHAR)) + wire
      |      + 1 + length('endstream endobj') + 1 AS xoff0,
      |    bodyfix + length('4 0 obj << /Length ') + length('26')
      |      + length(' >> stream') + 1 + 26
      |      + 1 + length('endstream endobj') + 1 AS xoffb
      |  FROM pf4),
      |pf6 AS (
      |  SELECT *,
      |    xoff0 + length('xref') + 1 + length('0 5') + 1 + 5 * 20
      |      + length('trailer << /Size 5 /Root 1 0 R >>') + 1
      |      + length('startxref') + 1 + length(CAST(xoff0 AS VARCHAR))
      |      + 1 + length('%%EOF') + 1 AS t0,
      |    xoffb + length('xref') + 1 + length('0 5') + 1 + 5 * 20
      |      + length('trailer << /Size 5 /Root 1 0 R >>') + 1
      |      + length('startxref') + 1 + length(CAST(xoffb AS VARCHAR))
      |      + 1 + length('%%EOF') + 1 AS basetotal
      |  FROM pf5),
      |pf7 AS (
      |  SELECT *,
      |    basetotal + o4fix + length(CAST(wire AS VARCHAR)) + wire
      |      + 1 + length('endstream endobj') + 1 AS x2off
      |  FROM pf6),
      |pf8 AS (
      |  SELECT *,
      |    x2off + length('xref') + 1 + length('4 1') + 1 + 20
      |      + length('trailer << /Size 5 /Root 1 0 R /Prev ')
      |      + length(CAST(xoffb AS VARCHAR)) + length(' >>') + 1
      |      + length('startxref') + 1 + length(CAST(x2off AS VARCHAR))
      |      + 1 + length('%%EOF') + 1 AS t1,
      |    -- §7.5.7 object-stream layout
      |    length('<< /Type /Catalog /Pages 2 0 R >>') + 1 AS off2
      |  FROM pf7),
      |pf9 AS (
      |  SELECT *,
      |    off2 + length('<< /Type /Pages /Kids [3 0 R] /Count 1 >>') + 1
      |      AS off3
      |  FROM pf8),
      |pf10 AS (
      |  SELECT *,
      |    length('1 0 2 ') + length(CAST(off2 AS VARCHAR)) + length(' 3 ')
      |      + length(CAST(off3 AS VARCHAR)) + 1 AS hdrlen
      |  FROM pf9),
      |pf11 AS (
      |  SELECT *,
      |    hdrlen + off3
      |      + length('<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ')
      |      + length(CAST(w AS VARCHAR)) + 1 + length(CAST(h AS VARCHAR))
      |      + length('] /Contents 4 0 R >>') + 1 AS objplain
      |  FROM pf10),
      |pf12 AS (
      |  SELECT *,
      |    11 + objplain AS objd,
      |    length('%PDF-1.5') + 1 + o4fix + length(CAST(wire AS VARCHAR))
      |      + wire + 1 + length('endstream endobj') + 1 AS o5off
      |  FROM pf11),
      |pf13 AS (
      |  SELECT *,
      |    o5off + length('5 0 obj << /Type /ObjStm /N 3 /First ')
      |      + length(CAST(hdrlen AS VARCHAR))
      |      + length(' /Filter /FlateDecode /Length ')
      |      + length(CAST(objd AS VARCHAR)) + length(' >> stream') + 1
      |      + objd + 1 + length('endstream endobj') + 1 AS o6off
      |  FROM pf12),
      |pf14 AS (
      |  SELECT *,
      |    o6off + length('6 0 obj << /Type /XRef /Size 7 /W [1 4 1] ')
      |      + length('/Root 1 0 R /Filter /FlateDecode /Length 53')
      |      + length(' >> stream') + 1 + 53
      |      + 1 + length('endstream endobj') + 1
      |      + length('startxref') + 1 + length(CAST(o6off AS VARCHAR))
      |      + 1 + length('%%EOF') + 1 AS t2
      |  FROM pf13),
      |pf AS (
      |  SELECT media_id, fl, var, w, h, n, ps, clen, csum,
      |    CASE var WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END AS total,
      |    CASE var WHEN 2 THEN 1 ELSE 0 END AS xs,
      |    CASE var WHEN 1 THEN 2 ELSE 1 END AS nsec,
      |    CASE var WHEN 2 THEN 6 ELSE 4 END AS nobj,
      |    CASE var WHEN 2 THEN 3 ELSE 0 END AS nmem,
      |    CASE WHEN var = 2 OR fl THEN 1 ELSE 0 END AS hasfl
      |  FROM pf14)""".stripMargin

  /** q248 — MIXED 1.4/1.5 PDF CENSUS (§7.5.6 + §7.5.7 + §7.5.8), the
    * r16 frontier: the two subset exclusions the r15 contract declared
    * are GONE. One corpus, three cross-reference machineries — classic
    * tables, incremental updates resolved newest-section-first through
    * the `/Prev` chain (a walk that takes the stale base object gets
    * every content sum wrong), and object-stream members sliced out of
    * their FlateDecoded carrier via binary xref-stream rows. The
    * oracle prices each variant's full byte layout from literal string
    * lengths — the totals are running sums over every object, so one
    * slipped byte anywhere mismatches.
    */
  val q248_pdf15_census: Q = (s, d) =>
    graft.multimodal.Pdf.pdf15Census(
        graft.multimodal.Pdf.pdf15FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q248Sql: String =
    s"""WITH $Pdf15Cte
       |SELECT media_id,
       |  CASE var WHEN 0 THEN 'classic' WHEN 1 THEN 'incremental'
       |    ELSE 'objstm' END AS variant,
       |  CAST(xs AS BIGINT) AS xref_stream,
       |  CAST(nsec AS BIGINT) AS n_sections,
       |  CAST(nobj AS BIGINT) AS n_objects,
       |  CAST(nmem AS BIGINT) AS n_in_objstm,
       |  CAST(hasfl AS BIGINT) AS has_flate,
       |  CAST(w AS BIGINT) AS page_w,
       |  CAST(h AS BIGINT) AS page_h,
       |  CAST(clen AS BIGINT) AS content_bytes,
       |  CAST(csum AS BIGINT) AS content_sum,
       |  CAST(total AS BIGINT) AS total_bytes
       |FROM pf ORDER BY media_id""".stripMargin

  /** q249 — quarantine parity over the mixed corpus: the id % 13 lie
    * moves per variant (classic: 20-byte-entry offset; incremental:
    * the UPDATE section's entry — the base stays pristine, only the
    * §7.5.6 chain walk can catch it; objstm: `/First` over-declared —
    * only the §7.5.7 pair-table grammar can catch it) and id % 11
    * keeps the short-`/Length` class. The bad object quarantines
    * alone with zeroed stats; the rest of the lake keeps flowing.
    */
  val q249_pdf15_quarantine: Q = (s, d) =>
    graft.multimodal.Pdf.tryPdf15Census(
        graft.multimodal.Pdf.pdf15FromText(
          s, Tables.documents(s, d), "doc_id", "text", breakRefs = true))
      .toDF()

  val q249Sql: String = {
    def z(c: String) =
      s"CAST(CASE WHEN bad THEN 0 ELSE $c END AS BIGINT) AS $c"
    s"""WITH $Pdf15Cte,
       |pq AS (
       |  SELECT *,
       |    media_id % 13 = 0 OR media_id % 11 = 0 AS bad,
       |    nsec AS n_sections, nobj AS n_objects, nmem AS n_in_objstm,
       |    clen AS content_bytes, csum AS content_sum,
       |    total AS total_bytes
       |  FROM pf)
       |SELECT media_id,
       |  CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT) AS decode_ok,
       |  ${z("n_sections")},
       |  ${z("n_objects")},
       |  ${z("n_in_objstm")},
       |  ${z("content_bytes")},
       |  ${z("content_sum")},
       |  ${z("total_bytes")}
       |FROM pq ORDER BY media_id""".stripMargin
  }

  /** q250 — text recovery across all three machineries: xref chain →
    * object (direct or object-stream member) → `/Length` slice → zlib
    * inflate → literal-string unescape, priced against the SOURCE
    * text. For the incremental third, the UPDATE's text must win —
    * a stale-base resolution shifts every sum.
    */
  val q250_pdf15_extract: Q = (s, d) =>
    graft.multimodal.Pdf.extractPdfDocs(
        graft.multimodal.Pdf.pdf15FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q250Sql: String =
    s"""WITH $Pdf15Cte
       |SELECT CAST(media_id AS BIGINT) AS doc_id,
       |  CAST(total AS BIGINT) AS pdf_bytes,
       |  CAST(n AS BIGINT) AS n_chars,
       |  CAST(ps AS BIGINT) AS sum_chars
       |FROM pf ORDER BY doc_id""".stripMargin

  // Per-frame side-info arithmetic shared by q251/q252: nf 16-byte
  // text chunks (min 1), id3 tag 10 + (id·37 mod 300), per-frame
  // header tables and the §2.4.1.7 field mod-formulas.
  private val Mp3SiCte =
    """ms0 AS (
      |  SELECT doc_id AS media_id,
      |    greatest(1, CAST(ceil(len([ord(c) for c in
      |      string_split(coalesce(text, ''), '')
      |      if ord(c) BETWEEN 0 AND 127]) / 16.0) AS BIGINT)) AS nf,
      |    10 + (doc_id * 37) % 300 AS id3
      |  FROM documents),
      |msf0 AS (
      |  SELECT media_id, nf, id3,
      |    unnest(generate_series(0, nf - 1)) AS f
      |  FROM ms0),
      |msf AS (
      |  SELECT media_id, nf, id3, f,
      |    144000 * ([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
      |      [CAST((media_id + f) % 14 AS INTEGER) + 1])
      |      // ([44100,48000,32000][CAST(media_id % 3 AS INTEGER) + 1])
      |      + f % 2 AS flen,
      |    (media_id * 7 + f * 3) % 512 AS mdb,
      |    (media_id + f) % 16 AS scfsi
      |  FROM msf0),
      |msg AS (
      |  SELECT media_id, f, g,
      |    (media_id * 31 + f * 17 + g * 911) % 4096 AS p23,
      |    (media_id * 5 + f * 11 + g * 7) % 289 AS bv,
      |    (media_id + f * 29 + g * 13) % 256 AS gg,
      |    (media_id + f + g) % 32 + (media_id + f + g + 1) % 32
      |      + (media_id + f + g + 2) % 32 AS ts,
      |    (f + g) % 16 AS r0,
      |    (f + g) % 2 AS pre
      |  FROM msf, (SELECT unnest([0, 1]) AS g)),
      |msa AS (
      |  SELECT media_id,
      |    sum(p23) AS sum_p23, sum(bv) AS sum_bv, sum(gg) AS sum_gg,
      |    sum(ts) AS sum_ts, sum(r0) AS sum_r0,
      |    sum(pre) AS n_pre, max(p23) AS max_p23
      |  FROM msg GROUP BY media_id),
      |msb AS (
      |  SELECT media_id, count(*) AS nf, sum(mdb) AS sum_mdb,
      |    sum(scfsi) AS sum_scfsi, any_value(id3) + sum(flen) AS total
      |  FROM msf GROUP BY media_id)""".stripMargin

  /** q251 — MP3 LAYER-III SIDE-INFO CENSUS (ISO/IEC 11172-3 §2.4.1.7),
    * the r16 narrowing of the MP3 stub: the fixed 136-bit layer
    * between each frame header and its main data — main_data_begin
    * (the bit-reservoir back-pointer), scfsi, and per granule the
    * part2_3_length / big_values / global_gain / table-select /
    * region fields — really parsed, frame by frame, and summed. Only
    * the spectral MAIN DATA beyond this layer remains the declared
    * perceptual stub. The oracle reprices every field from the
    * id/frame mod arithmetic; one mis-read bit in the layout shifts a
    * sum.
    */
  val q251_mp3_sideinfo: Q = (s, d) =>
    graft.multimodal.Multimodal.mp3SideInfoCensus(
        graft.multimodal.Multimodal.mp3SiFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q251Sql: String =
    s"""WITH $Mp3SiCte
       |SELECT b.media_id,
       |  CAST(b.nf AS BIGINT) AS n_frames,
       |  CAST(b.sum_mdb AS BIGINT) AS sum_main_data_begin,
       |  CAST(b.sum_scfsi AS BIGINT) AS sum_scfsi,
       |  CAST(a.sum_p23 AS BIGINT) AS sum_part23,
       |  CAST(a.sum_bv AS BIGINT) AS sum_big_values,
       |  CAST(a.sum_gg AS BIGINT) AS sum_global_gain,
       |  CAST(a.sum_ts AS BIGINT) AS sum_table_select,
       |  CAST(a.sum_r0 AS BIGINT) AS sum_region0,
       |  CAST(a.n_pre AS BIGINT) AS n_preflag,
       |  CAST(a.max_p23 AS BIGINT) AS max_part23,
       |  CAST(b.total AS BIGINT) AS total_bytes
       |FROM msb b JOIN msa a USING (media_id)
       |ORDER BY media_id""".stripMargin

  /** q252 — side-info quarantine: ids ≡ 0 (mod 13) carry big_values =
    * 289 in frame 0 granule 0 — one past the spec ceiling, invisible
    * to the frame walk (sync, lengths, and tables all pristine);
    * only the §2.4.1.7 range check can reject it. The bad stream
    * quarantines alone with zeroed stats.
    */
  val q252_mp3_si_quarantine: Q = (s, d) =>
    graft.multimodal.Multimodal.tryMp3SideInfoCensus(
        graft.multimodal.Multimodal.mp3SiFromText(
          s, Tables.documents(s, d), "doc_id", "text",
          lieBigValues = true))
      .toDF()

  val q252Sql: String =
    s"""WITH $Mp3SiCte
       |SELECT b.media_id,
       |  CAST(CASE WHEN b.media_id % 13 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CAST(CASE WHEN b.media_id % 13 = 0 THEN 0 ELSE b.nf END
       |    AS BIGINT) AS n_frames,
       |  CAST(CASE WHEN b.media_id % 13 = 0 THEN 0 ELSE a.sum_p23 END
       |    AS BIGINT) AS sum_part23,
       |  CAST(CASE WHEN b.media_id % 13 = 0 THEN 0 ELSE a.sum_bv END
       |    AS BIGINT) AS sum_big_values,
       |  CAST(CASE WHEN b.media_id % 13 = 0 THEN 0 ELSE b.total END
       |    AS BIGINT) AS total_bytes
       |FROM msb b JOIN msa a USING (media_id)
       |ORDER BY media_id""".stripMargin

  // Per-MB arithmetic shared by q253/q254.
  private val H264MbCte =
    """hm0 AS (
      |  SELECT doc_id AS media_id,
      |    1 + doc_id % 8 AS wmb, 1 + doc_id % 6 AS hmb
      |  FROM documents),
      |hm1 AS (
      |  SELECT media_id, wmb, hmb,
      |    unnest(generate_series(0, wmb * hmb - 1)) AS m
      |  FROM hm0),
      |hm2 AS (
      |  SELECT media_id, wmb, hmb, m,
      |    1 + (media_id + m) % 4 AS mbt,
      |    (media_id * 3 + m) % 4 AS cp,
      |    (media_id + m) % 5 - 2 AS qd,
      |    CASE WHEN (media_id + m) % 2 = 0 THEN 0 ELSE 1 END AS neg,
      |    1 + (media_id * 7 + m) % 7 AS mag,
      |    (media_id * 11 + m * 5) % 16 AS tz
      |  FROM hm1),
      |hma AS (
      |  SELECT media_id, any_value(wmb) AS wmb, any_value(hmb) AS hmb,
      |    count(*) AS n_mbs, sum(mbt) AS sum_mbt, sum(cp) AS sum_cp,
      |    sum(qd) AS sum_qd, sum(neg) AS n_neg, sum(mag) AS sum_mag,
      |    sum(tz) AS sum_tz
      |  FROM hm2 GROUP BY media_id)""".stripMargin

  /** q253 — H.264 CAVLC I-FRAME RESIDUALS (§7.3.5 + §9.2), the r16
    * narrowing of the last named-format stub: IDR slice DATA parses
    * for real — complete slice headers (idr_pic_id,
    * dec_ref_pic_marking, slice_qp_delta), I_16x16 CBP-0 macroblock
    * layers (mb_type, intra_chroma_pred_mode, mb_qp_delta), and the
    * Intra16x16DCLevel residual block CAVLC-decoded per §9.2
    * (coeff_token, trailing-one signs, level_prefix with the
    * first-level adjustment, Table 9-7 total_zeros). Block-constant
    * synthesis under a flat QP: one signed DC coefficient per MB,
    * every field an id/index mod value the oracle reprices — the
    * MJPEG-tier pricing discipline applied to the entropy-coded
    * macroblock layer.
    */
  val q253_h264_mb_census: Q = (s, d) =>
    graft.multimodal.Multimodal.h264MbCensus(
        graft.multimodal.Multimodal.h264IFrameFromText(
          s, Tables.documents(s, d), "doc_id"))
      .toDF()

  val q253Sql: String =
    s"""WITH $H264MbCte
       |SELECT media_id,
       |  CAST(n_mbs AS BIGINT) AS n_mbs,
       |  CAST(sum_mbt AS BIGINT) AS sum_mb_type,
       |  CAST(sum_cp AS BIGINT) AS sum_chroma_pred,
       |  CAST(sum_qd AS BIGINT) AS sum_qp_delta,
       |  CAST(n_neg AS BIGINT) AS n_neg_dc,
       |  CAST(sum_mag AS BIGINT) AS sum_dc_abs,
       |  CAST(sum_tz AS BIGINT) AS sum_tz,
       |  CAST(wmb AS BIGINT) AS width_mbs,
       |  CAST(hmb AS BIGINT) AS height_mbs
       |FROM hma ORDER BY media_id""".stripMargin

  /** q254 — residual-layer quarantine: ids ≡ 0 (mod 13) carry the
    * all-zeros total_zeros word Table 9-7 never assigns, in MB 0 —
    * the NAL walk, SPS/PPS references, and slice header all stay
    * pristine; only the CAVLC parse can reject it. The bad stream
    * quarantines alone with zeroed stats.
    */
  val q254_h264_mb_quarantine: Q = (s, d) =>
    graft.multimodal.Multimodal.tryH264MbCensus(
        graft.multimodal.Multimodal.h264IFrameFromText(
          s, Tables.documents(s, d), "doc_id", lieTz = true))
      .toDF()

  val q254Sql: String =
    s"""WITH $H264MbCte
       |SELECT media_id,
       |  CAST(CASE WHEN media_id % 13 = 0 THEN 0 ELSE 1 END AS BIGINT)
       |    AS decode_ok,
       |  CAST(CASE WHEN media_id % 13 = 0 THEN 0 ELSE n_mbs END AS BIGINT)
       |    AS n_mbs,
       |  CAST(CASE WHEN media_id % 13 = 0 THEN 0 ELSE sum_mag END
       |    AS BIGINT) AS sum_dc_abs,
       |  CAST(CASE WHEN media_id % 13 = 0 THEN 0 ELSE sum_tz END
       |    AS BIGINT) AS sum_tz
       |FROM hma ORDER BY media_id""".stripMargin

  /** q239 — PDF STRUCTURAL CENSUS: the document container of a real
    * multimodal crawl, walked the way a reader actually reads it —
    * `startxref` from the end, the cross-reference table's exact
    * 20-byte entries, every in-use object resolved AT ITS DECLARED
    * OFFSET, the content stream sliced by `/Length` and inflated
    * through the engine's own RFC 1950 zlib walk for the
    * `/FlateDecode` half of the corpus ([[graft.multimodal.Pdf]]).
    * The oracle re-prices every object's byte length from the strings
    * the encoder writes, so the xref offset — the running sum of all
    * of them — and the file total are single numbers that are wrong
    * unless every layer above them is exact.
    */
  val q239_pdf_census: Q = (s, d) =>
    graft.multimodal.Pdf.pdfCensus(
        graft.multimodal.Pdf.pdfFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q239Sql: String =
    s"""WITH $PdfCte
       |SELECT media_id,
       |  CAST(4 AS BIGINT) AS n_objects,
       |  CAST(CASE WHEN fl THEN 1 ELSE 0 END AS BIGINT) AS has_flate,
       |  CAST(w AS BIGINT) AS page_w,
       |  CAST(h AS BIGINT) AS page_h,
       |  CAST(wire AS BIGINT) AS stream_wire_bytes,
       |  CAST(clen AS BIGINT) AS content_bytes,
       |  CAST(csum AS BIGINT) AS content_sum,
       |  CAST(xoff AS BIGINT) AS xref_offset,
       |  CAST(total AS BIGINT) AS total_bytes
       |FROM p5 ORDER BY media_id""".stripMargin

  /** q240 — PDF QUARANTINE, structural-lie class: for media_id % 13 == 0
    * the xref entry for object 3 is off by one (the walk's
    * resolve-at-declared-offset contract catches it at the object
    * header); else for media_id % 11 == 0 the stream's `/Length` is
    * short by one (the declared slice must land exactly on
    * `endstream`). Both are damage a BYTE FLIP cannot express — the
    * mux wrote lies, every token still parses — and both become zeroed
    * `decode_ok = 0` rows, never a mis-resolved object or mis-sliced
    * stream.
    */
  val q240_pdf_quarantine: Q = (s, d) =>
    graft.multimodal.Pdf.tryPdfCensus(
        graft.multimodal.Pdf.pdfFromText(
          s, Tables.documents(s, d), "doc_id", "text", breakRefs = true))
      .toDF()

  val q240Sql: String = {
    def z(c: String) =
      s"CASE WHEN media_id % 13 = 0 OR media_id % 11 = 0 THEN 0 ELSE $c END AS $c"
    s"""WITH census AS ( $q239Sql )
       |SELECT media_id,
       |  CAST(CASE WHEN media_id % 13 = 0 OR media_id % 11 = 0
       |    THEN 0 ELSE 1 END AS BIGINT) AS decode_ok,
       |  ${z("n_objects")},
       |  ${z("has_flate")},
       |  ${z("page_w")},
       |  ${z("page_h")},
       |  ${z("stream_wire_bytes")},
       |  ${z("content_bytes")},
       |  ${z("content_sum")},
       |  ${z("xref_offset")},
       |  ${z("total_bytes")}
       |FROM census ORDER BY media_id""".stripMargin
  }

  /** q241 — PDF TEXT EXTRACTION, the full stack: xref → object →
    * `/Length` slice → zlib inflate → literal-string unescape, priced
    * against the SOURCE text (length and byte-value sum) — the q221
    * byte-exactness contract for the document container: a slipped
    * offset, a bad Adler-32, or a mangled §7.3.4.2 escape shifts a
    * sum and hash-mismatches.
    */
  val q241_pdf_extract: Q = (s, d) =>
    graft.multimodal.Pdf.extractPdfDocs(
        graft.multimodal.Pdf.pdfFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q241Sql: String =
    s"""WITH $PdfCte
       |SELECT media_id AS doc_id,
       |  CAST(total AS BIGINT) AS pdf_bytes,
       |  CAST(n AS BIGINT) AS n_chars,
       |  CAST(ps AS BIGINT) AS sum_chars
       |FROM p5 ORDER BY doc_id""".stripMargin

  // The MP4 mux priced per doc: q204's frame/SPS arithmetic plus the
  // box-tree constants (ftyp 24; fixed headers mvhd 108 / tkhd 92 /
  // mdhd 32 / hdlr 33 / stco 20; stsz 20 + 4n; avcC 19 + spsNal +
  // ppsNal with spsNal = 1 + sps_rbsp and the 4-byte default-PPS NAL;
  // mdat samples = 4-byte prefix + 1-byte NAL header + payload).
  private val Mp4Cte =
    """m0 AS (
      |  SELECT doc_id AS media_id,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),
      |m1 AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM m0),
      |m2 AS (
      |  SELECT media_id, nf, f,
      |    coalesce(list_sum(codes[16*f + 1 : 16*f + 16]), 0) AS csum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM m1)),
      |m3 AS (
      |  SELECT media_id, nf,
      |    CAST(sum(16 + (csum + f) % 64) AS BIGINT) AS plen_sum
      |  FROM m2 GROUP BY media_id, nf),
      |m4 AS (
      |  SELECT media_id,
      |    (34
      |      + 2 * (length(bin(media_id % 9 + 1)) - 1) + 1
      |      + 2 * (length(bin(media_id % 4 + 2)) - 1) + 1
      |      + 2 * (length(bin(media_id % 20 + 1)) - 1) + 1
      |      + 2 * (length(bin(media_id % 15 + 1)) - 1) + 1
      |      + 7) // 8 AS sps_bytes
      |  FROM m1),
      |m5 AS (
      |  SELECT media_id, nf, plen_sum, sps_bytes,
      |    24 + sps_bytes AS avcc,
      |    471 + sps_bytes + 4 * nf AS moov,
      |    5 * nf + plen_sum AS mdatp
      |  FROM m3 JOIN m4 USING (media_id))""".stripMargin

  /** q242 — ISO-BMFF (MP4) BOX CENSUS: the container H.264 ships in,
    * walked the way a demuxer walks it — big-endian size/type boxes,
    * container recursion, `avcC` parameter sets parsed through the
    * SAME SPS/PPS decoders as the Annex-B tier, samples sliced by
    * their length prefixes — with the CROSS-BOX consistency contracts
    * live (stsz ≡ mdat framing, stco lands on the first sample, the
    * THREE width/height declarations agree — see
    * [[graft.multimodal.Mp4]]). The oracle re-prices the box tree from
    * the q204 frame/SPS arithmetic plus the subset's fixed box sizes:
    * the moov/total byte counts are running sums that are wrong unless
    * every header field and NAL length upstream is exact.
    */
  val q242_mp4_box_census: Q = (s, d) =>
    graft.multimodal.Mp4.mp4Census(
        graft.multimodal.Mp4.mp4FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q242Sql: String =
    s"""WITH $Mp4Cte
       |SELECT media_id,
       |  CAST(16 AS BIGINT) AS n_boxes,
       |  CAST(nf AS BIGINT) AS n_samples,
       |  CAST(nf + plen_sum AS BIGINT) AS stsz_sum,
       |  CAST(mdatp AS BIGINT) AS mdat_bytes,
       |  CAST(90000 AS BIGINT) AS timescale,
       |  CAST(nf * 3003 AS BIGINT) AS duration,
       |  CAST(16 * (1 + media_id % 20) AS BIGINT) AS width_px,
       |  CAST(16 * (1 + media_id % 15) AS BIGINT) AS height_px,
       |  CAST(avcc AS BIGINT) AS avcc_bytes,
       |  CAST(moov AS BIGINT) AS moov_bytes,
       |  CAST(24 + moov + 8 + mdatp AS BIGINT) AS total_bytes
       |FROM m5 ORDER BY media_id""".stripMargin

  /** q243 — THE CONTAINER-TO-CODEC BRIDGE: demux the MP4, reconstruct
    * the Annex-B stream from avcC's parameter sets + the
    * length-prefixed samples, and hand it to the EXISTING H.264 walk
    * (q204's census relation, byte-identical framing). Oracle: q204's
    * SQL VERBATIM — the bridge must reproduce exactly what the
    * Annex-B tier would have written for the same NAL units, through
    * a completely different engine path (box walk → avcC → AVCC
    * de-framing → start-code reconstruction).
    */
  val q243_mp4_h264_bridge: Q = (s, d) =>
    graft.multimodal.Mp4.mp4BridgeCensus(
        graft.multimodal.Mp4.mp4FromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  /** q244 — MP4 CROSS-BOX QUARANTINE: for media_id % 13 == 0 the
    * first stsz entry over-declares its sample by one byte; else for
    * media_id % 11 == 0 the stco chunk offset is off by one — every
    * box still parses, only the CONSISTENCY contracts can catch the
    * lie (the container analogue of q234's dangling references and
    * q240's structural lies). Zeroed decode_ok rows, predicted
    * exactly.
    */
  val q244_mp4_quarantine: Q = (s, d) =>
    graft.multimodal.Mp4.tryMp4Census(
        graft.multimodal.Mp4.mp4FromText(
          s, Tables.documents(s, d), "doc_id", "text", breakRefs = true))
      .toDF()

  val q244Sql: String = {
    def z(c: String) =
      s"CASE WHEN media_id % 13 = 0 OR media_id % 11 = 0 THEN 0 ELSE $c END AS $c"
    s"""WITH census AS ( $q242Sql )
       |SELECT media_id,
       |  CAST(CASE WHEN media_id % 13 = 0 OR media_id % 11 = 0
       |    THEN 0 ELSE 1 END AS BIGINT) AS decode_ok,
       |  ${z("n_boxes")},
       |  ${z("n_samples")},
       |  ${z("stsz_sum")},
       |  ${z("mdat_bytes")},
       |  ${z("timescale")},
       |  ${z("duration")},
       |  ${z("width_px")},
       |  ${z("height_px")},
       |  ${z("avcc_bytes")},
       |  ${z("moov_bytes")},
       |  ${z("total_bytes")}
       |FROM census ORDER BY media_id""".stripMargin
  }

  /** q245 — HETEROGENEOUS DOCUMENT-LAKE DISPATCH: one decode job over
    * an UNLABELED lake of PDFs, MP4s, and raw Annex-B H.264 streams
    * (no container column on the wire — the q184/q230 production
    * shape over the round's new containers): route by magic bytes
    * (`%PDF` / `ftyp` at offset 4 / a start code), walk with the REAL
    * decoder, and read out container-comparable statistics. An
    * unrecognizable object is a loud error — a silent mis-route at
    * 100 TB poisons a modality's statistics. The oracle prices every
    * branch from the same arithmetic the per-container censuses use
    * (q239's PDF CTEs, q242's MP4 CTEs, q204's stream arithmetic —
    * the m-CTEs carry all three of nf / plen_sum / sps_bytes).
    */
  val q245_doc_lake_dispatch: Q = (s, d) =>
    graft.multimodal.Multimodal.docLakeDispatch(
        graft.multimodal.Multimodal.docLakeFromText(
          s, Tables.documents(s, d), "doc_id", "text"))
      .toDF()

  val q245Sql: String =
    s"""WITH $PdfCte,
       |$Mp4Cte
       |SELECT p.media_id,
       |  CASE WHEN p.media_id % 3 = 0 THEN 'pdf'
       |       WHEN p.media_id % 3 = 1 THEN 'mp4'
       |       ELSE 'h264' END AS container,
       |  CAST(CASE WHEN p.media_id % 3 = 0 THEN 4
       |       WHEN p.media_id % 3 = 1 THEN m.nf
       |       ELSE m.nf + 2 END AS BIGINT) AS n_units,
       |  CAST(CASE WHEN p.media_id % 3 = 0 THEN p.clen
       |       WHEN p.media_id % 3 = 1 THEN m.mdatp
       |       ELSE m.sps_bytes + 3 + m.plen_sum END AS BIGINT)
       |    AS payload_bytes,
       |  CAST(CASE WHEN p.media_id % 3 = 0 THEN p.total
       |       WHEN p.media_id % 3 = 1 THEN 24 + m.moov + 8 + m.mdatp
       |       ELSE 12 + m.sps_bytes + 4 * m.nf + m.plen_sum END
       |    AS BIGINT) AS total_bytes
       |FROM p5 p JOIN m5 m USING (media_id)
       |ORDER BY media_id""".stripMargin

  /** q184 — QUARANTINE PARITY across all four compressed containers:
    * a MIXED media lake (container by doc_id % 4 — PNG / GIF / JPEG /
    * FLAC) with a format-SPECIFIC planted corruption class per format
    * for doc_id % 13 == 0 (PNG trailing truncation, GIF LZW
    * code-overflow, JPEG progressive-SOF marker, FLAC CRC/MD5 flip —
    * [[graft.multimodal.Multimodal.corruptMixed]]); one decode job
    * ([[graft.multimodal.Multimodal.tryDecodeMixedStats]]) yields
    * (good rows, quarantine rows) across every format, never a stage
    * crash, never a silently wrong statistic. The oracle predicts
    * EXACTLY which ids quarantine and the genuine per-container
    * statistics of the rest — extending q178's production contract
    * from one container to the whole lake.
    */
  val q184_quarantine_mixed: Q = (s, d) =>
    graft.multimodal.Multimodal.tryDecodeMixedStats(
        graft.multimodal.Multimodal.corruptMixed(
          graft.multimodal.Multimodal.mixedMediaLake(
            s, Tables.documents(s, d), "doc_id", "text")))
      .toDF()

  val q184Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, doc_id % 4 AS fmt,
      |    (doc_id % 13 = 0) AS corrupt,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),
      |b AS (
      |  SELECT media_id, fmt, corrupt,
      |    CASE fmt WHEN 1 THEN codes[1:1048560]
      |             WHEN 2 THEN codes[1:8191]
      |             ELSE codes END AS codes
      |  FROM a),
      |c AS (
      |  SELECT media_id, fmt, corrupt, len(codes) AS n,
      |    coalesce(list_sum(codes), 0) AS sc,
      |    coalesce(list_max(codes), 0) AS mc
      |  FROM b)
      |SELECT media_id,
      |  CASE fmt WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
      |           WHEN 2 THEN 'image/jpeg' ELSE 'audio/flac' END
      |    AS media_type,
      |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INTEGER) AS decode_ok,
      |  CAST(CASE WHEN corrupt THEN 0
      |    WHEN fmt = 0 THEN 16 * greatest(1, CAST(ceil(n / 48.0) AS BIGINT))
      |    WHEN fmt = 1 THEN 16 * greatest(1, CAST(ceil(n / 16.0) AS BIGINT))
      |    WHEN fmt = 2 THEN 64 * greatest(1, n)
      |    ELSE n END AS BIGINT) AS n_units,
      |  CAST(CASE WHEN corrupt THEN 0
      |    WHEN fmt = 0 THEN sc
      |    WHEN fmt = 1 THEN 3 * sc
      |    WHEN fmt = 2 THEN 192 * sc
      |    ELSE 256 * (sc - 64 * n) END AS BIGINT) AS sum_val,
      |  CAST(CASE WHEN corrupt THEN 0
      |    WHEN fmt = 3 THEN CASE WHEN n = 0 THEN 0 ELSE 256 * (mc - 64) END
      |    ELSE mc END AS BIGINT) AS max_val
      |FROM c ORDER BY media_id""".stripMargin

  /** q185 — REAL INTER-FRAME-compressed video decode: FLC payloads
    * (the public Autodesk Animator format — BYTE_RUN keyframe RLE,
    * then genuinely DIFFED DELTA_FLC word packets against the
    * decoder's PERSISTENT frame buffer, COLOR_256 palette —
    * [[graft.multimodal.Multimodal.flcFromText]] /
    * [[graft.multimodal.Flc.decodeFlc]]) through q161's per-video
    * stats shape. The video tier's missing compression class: MJPEG
    * (q181) compresses each frame independently; FLC frames are
    * RECONSTRUCTED from their predecessors, so a buffer that fails to
    * persist, a mis-applied line skip, or a delta leaking into the
    * wrong row corrupts every later frame and hash-mismatches. The
    * synthesis rewrites one 16-pixel row per frame (row f mod 4 ←
    * slice f), making the decoded frame sum a sliding window —
    * 3·Σ sliceSum([max(0, f−3), f]) — the oracle computes from the
    * text alone.
    */
  val q185_flc_decode: Q = (s, d) =>
    graft.multimodal.Multimodal.decodeVideoStats(
        graft.multimodal.Multimodal.flcFromText(
          s, Tables.documents(s, d), "doc_id", "text"),
        stride = 4, decoder = graft.multimodal.Flc.decodeFlc)
      .toDF()

  val q185Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |b AS (SELECT media_id, codes[1:1048560] AS codes FROM a),
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM b),
      |sl AS (
      |  SELECT media_id, nf, f,
      |    CAST(coalesce(list_sum(codes[16*f + 1 : 16*f + 16]), 0)
      |      AS BIGINT) AS ssum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s)),
      |fr AS (
      |  SELECT media_id, nf, f,
      |    3 * SUM(ssum) OVER (PARTITION BY media_id ORDER BY f
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fsum
      |  FROM sl)
      |SELECT media_id,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(nf * 64 AS BIGINT) AS n_pixels,
      |  CAST(SUM(fsum) AS BIGINT) AS sum_channel,
      |  CAST(SUM(CASE WHEN f % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS sampled_frames,
      |  CAST(SUM(CASE WHEN f % 4 = 0 THEN fsum ELSE 0 END) AS BIGINT)
      |    AS sampled_sum
      |FROM fr GROUP BY media_id, nf ORDER BY media_id""".stripMargin

  /** q186 — scene cuts over the REALLY RECONSTRUCTED FLC frame stream:
    * q162's adjacent-frame delta algebra, but every frame past the
    * first exists only as a delta — the cut detector sees the
    * persistent-buffer reconstruction, so the inter-frame decode is
    * what's being audited. Threshold 400 on the 16×4 grayscale
    * contract (frame sums are 3× a 4-slice window, deltas ≤ 6096)
    * fires on roughly a quarter of adjacent pairs at the corpus
    * distribution — cuts and non-cuts both present.
    */
  val q186_flc_scene_cuts: Q = (s, d) =>
    graft.multimodal.Multimodal.detectSceneCuts(
        graft.multimodal.Multimodal.flcFromText(
          s, Tables.documents(s, d), "doc_id", "text"),
        threshold = 400L, decoder = graft.multimodal.Flc.decodeFlc)
      .toDF()

  val q186Sql: String =
    s"""${ModalPairSql.mediaCodes}
      |b AS (SELECT media_id, codes[1:1048560] AS codes FROM a),
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 16.0) AS BIGINT)) AS nf
      |  FROM b),
      |sl AS (
      |  SELECT media_id, nf, f,
      |    CAST(coalesce(list_sum(codes[16*f + 1 : 16*f + 16]), 0)
      |      AS BIGINT) AS ssum
      |  FROM (SELECT media_id, nf, codes,
      |      unnest(generate_series(0, nf - 1)) AS f
      |    FROM s)),
      |fr AS (
      |  SELECT media_id, nf, f,
      |    3 * SUM(ssum) OVER (PARTITION BY media_id ORDER BY f
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fsum
      |  FROM sl),
      |d AS (
      |  SELECT x.media_id, abs(y.fsum - x.fsum) AS delta
      |  FROM fr x JOIN fr y
      |    ON x.media_id = y.media_id AND y.f = x.f + 1)
      |SELECT s.media_id, CAST(s.nf AS BIGINT) AS n_frames,
      |  CAST(coalesce(SUM(CASE WHEN delta > 400 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS n_cuts,
      |  CAST(coalesce(MAX(delta), 0) AS BIGINT) AS max_delta
      |FROM s LEFT JOIN d ON s.media_id = d.media_id
      |GROUP BY s.media_id, s.nf ORDER BY s.media_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q82_corpus_health" -> q82_corpus_health,
    "q81_cdc_apply" -> q81_cdc_apply,
    "q70_session_window" -> q70_session_window,
    "q71_chunks" -> q71_chunks,
    "q72_oov_stats" -> q72_oov_stats,
    "q73_ingest_dedup" -> q73_ingest_dedup,
    "q74_dedup_survivors" -> q74_dedup_survivors,
    "q75_stratified_sample" -> q75_stratified_sample,
    "q76_media_resize" -> q76_media_resize,
    "q77_media_features" -> q77_media_features,
    "q151_image_decode" -> q151_image_decode,
    "q152_audio_decode" -> q152_audio_decode,
    "q153_image_dhash" -> q153_image_dhash,
    "q154_image_neardup" -> q154_image_neardup,
    "q157_audio_fingerprint" -> q157_audio_fingerprint,
    "q158_audio_features" -> q158_audio_features,
    "q161_video_decode" -> q161_video_decode,
    "q162_scene_cuts" -> q162_scene_cuts,
    "q164_png_decode" -> q164_png_decode,
    "q165_crossmodal_clusters" -> q165_crossmodal_clusters,
    "q169_gif_decode" -> q169_gif_decode,
    "q170_jpeg_decode" -> q170_jpeg_decode,
    "q171_flac_decode" -> q171_flac_decode,
    "q177_image_downsample" -> q177_image_downsample,
    "q178_quarantine_decode" -> q178_quarantine_decode,
    "q181_mjpeg_decode" -> q181_mjpeg_decode,
    "q182_mjpeg_scene_cuts" -> q182_mjpeg_scene_cuts,
    "q199_mp3_frame_census" -> q199_mp3_frame_census,
    "q200_mp3_quarantine" -> q200_mp3_quarantine,
    "q202_mp3_tag_extract" -> q202_mp3_tag_extract,
    "q204_h264_nal_census" -> q204_h264_nal_census,
    "q205_h264_quarantine" -> q205_h264_quarantine,
    "q207_h264_idr_index" -> q207_h264_idr_index,
    "q209_h264_slice_census" -> q209_h264_slice_census,
    "q210_h264_sei_census" -> q210_h264_sei_census,
    "q211_h264_gop_worklist" -> q211_h264_gop_worklist,
    "q233_h264_pps_census" -> q233_h264_pps_census,
    "q234_h264_pps_quarantine" -> q234_h264_pps_quarantine,
    "q239_pdf_census" -> q239_pdf_census,
    "q248_pdf15_census" -> q248_pdf15_census,
    "q251_mp3_sideinfo" -> q251_mp3_sideinfo,
    "q253_h264_mb_census" -> q253_h264_mb_census,
    "q254_h264_mb_quarantine" -> q254_h264_mb_quarantine,
    "q252_mp3_si_quarantine" -> q252_mp3_si_quarantine,
    "q249_pdf15_quarantine" -> q249_pdf15_quarantine,
    "q250_pdf15_extract" -> q250_pdf15_extract,
    "q240_pdf_quarantine" -> q240_pdf_quarantine,
    "q241_pdf_extract" -> q241_pdf_extract,
    "q242_mp4_box_census" -> q242_mp4_box_census,
    "q243_mp4_h264_bridge" -> q243_mp4_h264_bridge,
    "q244_mp4_quarantine" -> q244_mp4_quarantine,
    "q245_doc_lake_dispatch" -> q245_doc_lake_dispatch,
    "q183_adpcm_decode" -> q183_adpcm_decode,
    "q184_quarantine_mixed" -> q184_quarantine_mixed,
    "q185_flc_decode" -> q185_flc_decode,
    "q186_flc_scene_cuts" -> q186_flc_scene_cuts)

  val oracleSql: Map[String, String] = Map(
    "q70_session_window" -> q70Sql,
    "q71_chunks" -> q71Sql,
    "q72_oov_stats" -> q72Sql,
    "q73_ingest_dedup" -> q73Sql,
    "q74_dedup_survivors" -> q74Sql,
    "q75_stratified_sample" -> q75Sql,
    "q76_media_resize" -> q76Sql,
    "q77_media_features" -> q77Sql,
    "q81_cdc_apply" -> q81Sql,
    "q82_corpus_health" -> q82Sql,
    "q151_image_decode" -> q151Sql,
    "q152_audio_decode" -> q152Sql,
    "q153_image_dhash" -> q153Sql,
    "q154_image_neardup" -> q154Sql,
    "q157_audio_fingerprint" -> q157Sql,
    "q158_audio_features" -> q158Sql,
    "q161_video_decode" -> q161Sql,
    "q162_scene_cuts" -> q162Sql,
    "q164_png_decode" -> q164Sql,
    "q165_crossmodal_clusters" -> q165Sql,
    "q169_gif_decode" -> q169Sql,
    "q170_jpeg_decode" -> q170Sql,
    "q171_flac_decode" -> q171Sql,
    "q177_image_downsample" -> q177Sql,
    "q178_quarantine_decode" -> q178Sql,
    "q181_mjpeg_decode" -> q181Sql,
    "q182_mjpeg_scene_cuts" -> q182Sql,
    "q199_mp3_frame_census" -> q199Sql,
    "q200_mp3_quarantine" -> q200Sql,
    "q202_mp3_tag_extract" -> q202Sql,
    "q204_h264_nal_census" -> q204Sql,
    "q205_h264_quarantine" -> q205Sql,
    "q207_h264_idr_index" -> q207Sql,
    "q209_h264_slice_census" -> q209Sql,
    "q210_h264_sei_census" -> q210Sql,
    "q211_h264_gop_worklist" -> q211Sql,
    "q233_h264_pps_census" -> q233Sql,
    "q234_h264_pps_quarantine" -> q234Sql,
    "q239_pdf_census" -> q239Sql,
    "q248_pdf15_census" -> q248Sql,
    "q251_mp3_sideinfo" -> q251Sql,
    "q253_h264_mb_census" -> q253Sql,
    "q254_h264_mb_quarantine" -> q254Sql,
    "q252_mp3_si_quarantine" -> q252Sql,
    "q249_pdf15_quarantine" -> q249Sql,
    "q250_pdf15_extract" -> q250Sql,
    "q240_pdf_quarantine" -> q240Sql,
    "q241_pdf_extract" -> q241Sql,
    "q242_mp4_box_census" -> q242Sql,
    // the bridge must reproduce the directly-written Annex-B stream's
    // census exactly — q204's oracle verbatim
    "q243_mp4_h264_bridge" -> q204Sql,
    "q244_mp4_quarantine" -> q244Sql,
    "q245_doc_lake_dispatch" -> q245Sql,
    "q183_adpcm_decode" -> q183Sql,
    "q184_quarantine_mixed" -> q184Sql,
    "q185_flc_decode" -> q185Sql,
    "q186_flc_scene_cuts" -> q186Sql)
}
