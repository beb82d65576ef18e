package graft.queries

/** The canonical DuckDB oracle SQL for the three modality-level
  * near-duplicate relations, factored into a dependency-free object so
  * q19/q153/q154/q157 (the per-modality queries), q165 (cross-modal
  * clusters), and q163 (the dataset card's per-modality rollup) can all
  * compose the SAME text without cross-referencing each other's
  * enclosing objects at initialization time (a val-init cycle between
  * query objects would read partially-initialized nulls).
  *
  * Every pair/hash string is a complete SELECT (no trailing ORDER BY)
  * so callers can embed it as a derived table / CTE body or append
  * their own sort. [[mediaCodes]], [[langClusters]] and [[winnowCtes]]
  * are CTE lists that other oracles continue.
  */
private[queries] object ModalPairSql {

  /** Exact n-gram Jaccard pairs at threshold 0.5 — the brute-force
    * definition the q19 MinHash+LSH tier is measured against.
    */
  val textPairs: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |                   for i in generate_series(1, len(ws)-2)]) AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |  WHERE len(ws) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin

  /** The opening CTE of every oracle that rebuilds a media payload from
    * the source text: `a` (media_id, codes), the ASCII code points of
    * each document, in order. Callers continue the WITH list after its
    * trailing comma.
    */
  val mediaCodes: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |    [ord(c) for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS codes
      |  FROM documents),""".stripMargin

  /** The lang-blocked near-duplicate cluster labeling as recursive CTEs:
    * `s` (word 3-shingle sets), `pairs` (same-lang Jaccard ≥ 0.5),
    * `edges`, the transitive closure `reach`, and `comp` (doc_id,
    * component = min reachable doc id). q56, q74 and q97 each read
    * `comp`; callers continue the WITH list after it.
    */
  val langClusters: String =
    """WITH RECURSIVE s AS (
      |  SELECT doc_id, lang,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |                   for i in generate_series(1, len(ws)-2)]) AS sh
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |  WHERE len(ws) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(a.sh || b.sh)) >= 0.5),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      |comp AS (
      |  SELECT src AS doc_id, min(dst) AS component
      |  FROM reach GROUP BY src)""".stripMargin

  /** Winnowing (k = 8, w = 4) as CTEs without the leading WITH: `t`
    * (normalized text), `g` (md5 of every 8-gram), `w` (doc_id, grams,
    * sel = the min of every 4-gram window). q140, q143, q144 and q166
    * continue the WITH list after it.
    */
  val winnowCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]',
      |         '', 'g'), '\s+', ' ', 'g')) AS s
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(s) >= 8 THEN
      |      [md5(substr(s, i, 8)) for i in generate_series(1, len(s) - 7)]
      |    ELSE [] END AS grams
      |  FROM t),
      |w AS (
      |  SELECT doc_id, grams,
      |    CASE WHEN len(grams) >= 4 THEN
      |      [list_min(grams[j:j+3])
      |       for j in generate_series(1, len(grams) - 3)]
      |    ELSE [] END AS sel
      |  FROM g)""".stripMargin

  /** The q153 image dHash rebuilt from the source text (same integer
    * algebra as the decoder: nearest-neighbor 9×8 gray resample,
    * strict-less bits, two 32-bit halves).
    */
  val imageHashes: String =
    s"""$mediaCodes
      |s AS (SELECT media_id, codes,
      |    greatest(1, CAST(ceil(len(codes) / 48.0) AS BIGINT)) AS h
      |  FROM a),
      |g AS (SELECT media_id, h, r, c,
      |    coalesce(codes[CAST((((r*h)//8)*16 + ((c*16)//9))*3 + 1 AS BIGINT)], 0)
      |  + coalesce(codes[CAST((((r*h)//8)*16 + ((c*16)//9))*3 + 2 AS BIGINT)], 0)
      |  + coalesce(codes[CAST((((r*h)//8)*16 + ((c*16)//9))*3 + 3 AS BIGINT)], 0) AS gray
      |  FROM s, generate_series(0, 7) t1(r), generate_series(0, 8) t2(c)),
      |bits AS (
      |  SELECT l.media_id, l.r, l.c FROM g l JOIN g rr
      |    ON l.media_id = rr.media_id AND l.r = rr.r AND rr.c = l.c + 1
      |  WHERE l.c < 8 AND l.gray < rr.gray),
      |hsh AS (
      |  SELECT media_id,
      |    SUM(CASE WHEN r < 4 THEN (CAST(1 AS BIGINT) << (r*8 + c))
      |        ELSE 0 END) AS hash_hi,
      |    SUM(CASE WHEN r >= 4 THEN (CAST(1 AS BIGINT) << ((r-4)*8 + c))
      |        ELSE 0 END) AS hash_lo
      |  FROM bits GROUP BY media_id)
      |SELECT s.media_id, CAST(16 AS INTEGER) AS width,
      |  CAST(s.h AS INTEGER) AS height,
      |  CAST(coalesce(hash_hi, 0) AS BIGINT) AS hash_hi,
      |  CAST(coalesce(hash_lo, 0) AS BIGINT) AS hash_lo
      |FROM s LEFT JOIN hsh ON s.media_id = hsh.media_id""".stripMargin

  /** The q157 audio envelope fingerprint rebuilt from the source text
    * (65 nearest-neighbor probes, strict-less bits, two halves).
    */
  val audioFingerprints: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |    [(ord(c) - 64) * 256 for c in string_split(coalesce(text, ''), '')
      |     if ord(c) BETWEEN 0 AND 127] AS smp
      |  FROM documents),
      |s AS (SELECT media_id, smp, len(smp) AS n FROM a),
      |bits AS (
      |  SELECT media_id, b FROM s, generate_series(0, 63) t(b)
      |  WHERE n >= 1
      |    AND abs(smp[(b*n)//65 + 1]) < abs(smp[((b+1)*n)//65 + 1])),
      |hsh AS (
      |  SELECT media_id,
      |    SUM(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << b)
      |        ELSE 0 END) AS hash_hi,
      |    SUM(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (b-32))
      |        ELSE 0 END) AS hash_lo
      |  FROM bits GROUP BY media_id)
      |SELECT s.media_id, CAST(s.n AS BIGINT) AS n_samples,
      |  CAST(coalesce(hash_hi, 0) AS BIGINT) AS hash_hi,
      |  CAST(coalesce(hash_lo, 0) AS BIGINT) AS hash_lo
      |FROM s LEFT JOIN hsh ON s.media_id = hsh.media_id""".stripMargin

  /** Brute-force hamming ≤ 3 pairs over [[imageHashes]] — the exact set
    * the engine's lossless 4×16 banding must reproduce.
    */
  val imagePairs: String =
    s"""WITH hashes AS ($imageHashes)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  CAST(bit_count(xor(a.hash_hi, b.hash_hi))
       |     + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
       |FROM hashes a JOIN hashes b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.hash_hi, b.hash_hi))
       |    + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3""".stripMargin

  /** Brute-force hamming ≤ 3 pairs over [[audioFingerprints]]. */
  val audioPairs: String =
    s"""WITH fp AS ($audioFingerprints)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  CAST(bit_count(xor(a.hash_hi, b.hash_hi))
       |     + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.hash_hi, b.hash_hi))
       |    + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3""".stripMargin
}
