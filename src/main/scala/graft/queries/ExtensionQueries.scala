package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.multimodal.Multimodal
import graft.ops.{Similarity, TextDedup}

/** Training-data-pipeline operators beyond the reference's surface
  * (BASELINE.json north star): dedup (exact / n-gram Jaccard / MinHash-LSH /
  * SimHash / embedding), similarity search (exact + LSH tiers), text
  * analysis, and multimodal plumbing. Oracle SQL accompanies every operator
  * whose math is portable to DuckDB; xxhash-based sketches get rows-only
  * checks plus ScalaTest equivalence against their oracle-checked exact
  * counterparts.
  */

/** The CDC oracle SQL, hoisted to a dependency-free object:
  * ExtensionQueries and CurationQueries initialize in whichever order
  * a caller touches them first, and each references the other — a SQL
  * val living in either would read as null mid-initialization when
  * nested into the other's oracle (q190 nests q194). This object
  * depends only on the functions package, so it is always fully
  * initialized before use.
  */
private[graft] object CdcOracle {
  val q193Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, coalesce(text, '') AS tx FROM documents),
      |cpos AS (
      |  SELECT doc_id, i
      |  FROM (SELECT doc_id, i,
      |      substr(tx, CAST(i - 7 AS INTEGER), 8) AS w
      |    FROM (SELECT doc_id, tx, unnest(generate_series(8, len(tx))) AS i
      |      FROM t WHERE len(tx) >= 8))
      |  WHERE ${graft.functions.CdcChunksExpr.hornerSql("w")} % 64 = 0),
      |cutl AS (SELECT doc_id, list_sort(list(i)) AS cuts
      |  FROM cpos GROUP BY doc_id),
      |sp AS (
      |  SELECT t.doc_id, t.tx,
      |    list_prepend(CAST(0 AS BIGINT),
      |      coalesce(cutl.cuts, CAST([] AS BIGINT[]))) AS st,
      |    list_append(coalesce(cutl.cuts, CAST([] AS BIGINT[])),
      |      CAST(len(t.tx) AS BIGINT)) AS en
      |  FROM t LEFT JOIN cutl USING (doc_id)),
      |ch AS (
      |  SELECT doc_id,
      |    substr(tx, CAST(st[i] + 1 AS INTEGER),
      |      CAST(en[i] - st[i] AS INTEGER)) AS chunk,
      |    en[i] - st[i] AS l
      |  FROM (SELECT doc_id, tx, st, en,
      |      unnest(generate_series(1, len(st))) AS i FROM sp)
      |  WHERE en[i] - st[i] > 0),
      |dup AS (SELECT chunk FROM ch
      |  GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
      |a AS (
      |  SELECT ch.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(max(ch.l) AS BIGINT) AS max_chunk_len,
      |    CAST(sum(CASE WHEN dup.chunk IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_dup_chunks
      |  FROM ch LEFT JOIN dup ON ch.chunk = dup.chunk
      |  GROUP BY ch.doc_id)
      |SELECT t.doc_id,
      |  CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(a.max_chunk_len, 0) AS BIGINT) AS max_chunk_len,
      |  CAST(coalesce(a.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
      |  CAST(coalesce(a.n_dup_chunks, 0) AS BIGINT) * 1000000
      |    // greatest(CAST(coalesce(a.n_chunks, 0) AS BIGINT), 1)
      |    AS dup_ppm
      |FROM t LEFT JOIN a ON a.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  val q194Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, coalesce(text, '') AS tx,
      |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS UBIGINT) % 100 AS BIGINT) < 90 AS is_train
      |  FROM documents),
      |cpos AS (
      |  SELECT doc_id, i
      |  FROM (SELECT doc_id, i,
      |      substr(tx, CAST(i - 7 AS INTEGER), 8) AS w
      |    FROM (SELECT doc_id, tx, unnest(generate_series(8, len(tx))) AS i
      |      FROM t WHERE len(tx) >= 8))
      |  WHERE ${graft.functions.CdcChunksExpr.hornerSql("w")} % 64 = 0),
      |cutl AS (SELECT doc_id, list_sort(list(i)) AS cuts
      |  FROM cpos GROUP BY doc_id),
      |sp AS (
      |  SELECT t.doc_id, t.tx, t.is_train,
      |    list_prepend(CAST(0 AS BIGINT),
      |      coalesce(cutl.cuts, CAST([] AS BIGINT[]))) AS st,
      |    list_append(coalesce(cutl.cuts, CAST([] AS BIGINT[])),
      |      CAST(len(t.tx) AS BIGINT)) AS en
      |  FROM t LEFT JOIN cutl USING (doc_id)),
      |ch AS (
      |  SELECT doc_id, is_train,
      |    substr(tx, CAST(st[i] + 1 AS INTEGER),
      |      CAST(en[i] - st[i] AS INTEGER)) AS chunk
      |  FROM (SELECT doc_id, tx, is_train, st, en,
      |      unnest(generate_series(1, len(st))) AS i FROM sp)
      |  WHERE en[i] - st[i] > 0),
      |ev AS (SELECT DISTINCT chunk FROM ch WHERE NOT is_train),
      |a AS (
      |  SELECT ch.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(CASE WHEN ev.chunk IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_eval_shared
      |  FROM ch LEFT JOIN ev ON ch.chunk = ev.chunk
      |  WHERE ch.is_train GROUP BY ch.doc_id)
      |SELECT t.doc_id,
      |  CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(a.n_eval_shared, 0) AS BIGINT) AS n_eval_shared,
      |  CAST(coalesce(a.n_eval_shared, 0) AS BIGINT) * 1000000
      |    // greatest(CAST(coalesce(a.n_chunks, 0) AS BIGINT), 1)
      |    AS shared_ppm
      |FROM t LEFT JOIN a ON a.doc_id = t.doc_id
      |WHERE t.is_train
      |ORDER BY t.doc_id""".stripMargin
}

object ExtensionQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q17 — exact dedup by content digest (hash group-by; the 100 TB fast
    * path: one shuffle on a 128-bit key with map-side combine).
    */
  val q17_exact_dedup: Q = (s, d) =>
    TextDedup.exactDedup(Tables.documents(s, d), "doc_id", "text")

  val q17Sql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_dups
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  /** q18 — exact word-3-gram Jaccard near-dup pairs within a language
    * block: the oracle-checked reference implementation of near-dup
    * detection (the LSH tiers must reproduce it).
    */
  val q18_ngram_jaccard: Q = (s, d) =>
    TextDedup.ngramJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", "lang", n = 3, threshold = 0.5)

  val q18Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |                   for i in generate_series(1, len(ws)-2)]) AS sh
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |  WHERE len(ws) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) AS jaccard
      |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** q19 — MinHash+LSH near-dup pairs (48 hashes, 8 bands × 6 rows): the
    * scale path that avoids the O(n²) pair space. Six-row bands put the
    * S-curve threshold at ~0.7 — essential on this corpus, whose tiny
    * shared vocabulary makes 2-row bands collide for ~random pairs (10M+
    * false candidates at sf0.1).
    *
    * Oracle = the EXACT unblocked Jaccard pair set: precision 1 is
    * guaranteed (survivors are exact-Jaccard-verified) and recall 1 is a
    * measured, deterministic property of this corpus — every near-dup pair
    * sits at J ≥ 0.88 (planted twins), far above the band S-curve, and the
    * seeded sketch recalls all of them at sf0.001/0.01/0.1 (verified
    * against the exact tier at all three). A corpus with pairs near the
    * 0.5 boundary would make this an approximate tier again — that is the
    * documented LSH contract, not a bug.
    */
  val q19_minhash_lsh: Q = (s, d) =>
    TextDedup.minhashLshPairs(Tables.documents(s, d),
        "doc_id", "text", n = 3, numHashes = 48, bands = 8, threshold = 0.5)

  val q19Sql: String =
    ModalPairSql.textPairs + "\nORDER BY id_a, id_b"

  /** q20 — SimHash near-dup pairs, FULLY oracle-checked (r16: the
    * rows-only era is over): 60-bit md5-head sketch (the cross-engine
    * hash mode — see [[graft.functions.SketchExpressions.simhash60]]),
    * 10×6-bit band blocking (pigeonhole recall for Hamming ≤ 9 ⊇ the
    * ≤ 6 contract), bit_count(xor) verification. The DuckDB oracle
    * recomputes every signature bit from the same token stream and
    * md5 head, re-runs the banded self-join, and hash-compares the
    * exact pair set — signature, blocking, and verify all pinned.
    */
  val q20_simhash: Q = (s, d) =>
    TextDedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxDist = 6, bands = 10, crossEngine = true)

  val q20Sql: String = {
    // per-bit majority vote: 60 SUM(CASE) terms generated here so the
    // SQL cannot drift from the expression's bit order
    val bitSums = (0 until 60).map(b =>
      s"sum(CAST((h >> $b) & 1 AS BIGINT)) AS c$b").mkString(",\n      ")
    val sig = (0 until 60).map(b =>
      s"CASE WHEN 2 * c$b > n THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END")
      .mkString(" +\n      ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |hashes AS (
       |  SELECT doc_id,
       |    CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT)
       |      AS BIGINT) AS h
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, count(*) AS n,
       |      $bitSums
       |  FROM hashes GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id,
       |      $sig AS sk
       |  FROM votes),
       |banded AS (
       |  SELECT doc_id, sk, band, (sk >> (6 * band)) & 63 AS bucket
       |  FROM sigs, (SELECT unnest(generate_series(0, 9)) AS band)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.sk, b.sk)) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |      AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sk, b.sk)) <= 6)
       |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       |  CAST(hamming AS INTEGER) AS hamming
       |FROM pairs ORDER BY id_a, id_b""".stripMargin
  }

  /** q67 — PRECISION gate for the sketch dedup tiers, driver-visible:
    * every pair either sketch tier emits is RE-VERIFIED with Spark's
    * built-in set operations (array_intersect/array_union — an
    * INDEPENDENT code path from the custom SortedOverlapCount kernel the
    * tiers verify with), and any pair whose built-in exact Jaccard falls
    * below the threshold is emitted — so the result must be EMPTY.
    * "Sketch pairs ⊆ exact pairs" is equivalent to "every sketch pair has
    * exact J ≥ t", so this IS the subset check, without re-deriving the
    * whole exact tier; and because the recheck uses different machinery, a
    * regression in the merge kernel cannot self-certify. The SimHash side
    * adds the kernel verify on top of its Hamming blocking first (its own
    * q20 contract is Hamming ≤ 6, which admits low-Jaccard pairs by
    * design). Recall is covered separately: q19's oracle IS the exact
    * pair set.
    */
  val q67_sketch_precision: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // ONE shingle relation feeds both tiers and the recheck
    val sh = TextDedup.maybeMaterialize(
      TextDedup.shingleRelation(docs, "doc_id", "text", lit(""), 3))
    val lsh = TextDedup
      .minhashLshPairsFromShingles(sh, numHashes = 48, bands = 8,
        threshold = 0.5)
      .select(col("id_a"), col("id_b"), lit("minhash_lsh").as("tier"))
    // LEFT joins onto the shingle relation: a SimHash pair touching a doc
    // with no shingle row (< 3 tokens) must SURFACE as a violation, not
    // silently vanish from the gate — an inner join here would weaken the
    // "result must be EMPTY" guarantee for exactly the ids the kernel
    // can't verify. (The LSH tier is derived FROM sh, so its ids are
    // present by construction; the same left-join shape guards it anyway.)
    val simJoined = TextDedup.simhashPairs(docs, "doc_id", "text",
        maxDist = 6, bands = 10, crossEngine = true)
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        size(col("sh")).as("na")), Seq("id_a"), "left")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
        size(col("sh")).as("nb")), Seq("id_b"), "left")
    val simMissing = simJoined
      .filter(col("sh_a").isNull || col("sh_b").isNull)
      .select(col("id_a"), col("id_b"),
        lit("simhash_missing_shingles").as("tier"))
    val sim = simJoined
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("ov", graft.functions.SketchExpressions
        .sortedOverlapCount(col("sh_a"), col("sh_b")))
      .filter(col("ov").cast("double") /
        (col("na") + col("nb") - col("ov")).cast("double") >= 0.5)
      .select(col("id_a"), col("id_b"), lit("simhash").as("tier"))
    val rechecked = lsh.unionByName(sim)
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"), "left")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"), "left")
      .filter(col("sh_a").isNull || col("sh_b").isNull ||
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double") < 0.5)
      .select("id_a", "id_b", "tier")
    rechecked.unionByName(simMissing)
  }

  val q67Sql: String =
    """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
      |  CAST(NULL AS VARCHAR) AS tier
      |WHERE false""".stripMargin

  /** q21 — exact cosine top-1 neighbor per embedding (brute-force tier).
    * Cosines rounded to 6 decimals before ranking/output so float noise
    * between engines collapses into deterministic id tie-breaks.
    */
  val q21_cosine_top1: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.cosineTopK(emb, emb, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  val q21Sql: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    round(round(
      |      list_sum(list_transform(generate_series(1, 64),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(generate_series(1, 64),
      |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(generate_series(1, 64),
      |           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
      |      9), 6) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id)
      |SELECT query_id, neighbor_id, cos, rk AS rank FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
      |  FROM pairs) t
      |WHERE rk <= 1 ORDER BY query_id""".stripMargin

  /** q22 — token statistics: whitespace tokens, BPE-ish estimate, char
    * length, mean token length.
    */
  val q22_token_stats: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeTokenEstimate(col("text")).cast("int").as("n_bpe"),
      TextAnalysis.charLen(col("text")).as("len_chars"),
      round(TextAnalysis.charLen(col("text")).cast("double") /
        greatest(TextAnalysis.tokenCount(col("text")), lit(1)).cast("double"), 6)
        .as("mean_token_len"))

  val q22Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe,
      |  CAST(length(text) AS INTEGER) AS len_chars,
      |  round(CAST(length(text) AS DOUBLE)
      |    / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER), 1), 6)
      |    AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q23 — language ID (stopword-ratio argmax) + composite quality score,
    * both reproduced verbatim in the oracle so the classification logic
    * itself is checked.
    */
  val q23_lang_quality: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_id"),
      round(TextAnalysis.stopwordRatio(col("text"), "en"), 6).as("en_stop_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  private def duckStopRatio(langList: String): String =
    s"""CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |  x -> list_contains($langList, x))) AS DOUBLE)
       |  / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER), 1)""".stripMargin

  val q23Sql: String = {
    def lst(l: String) = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    val rEn = duckStopRatio(lst("en"))
    val rDe = duckStopRatio(lst("de"))
    val rFr = duckStopRatio(lst("fr"))
    val rEs = duckStopRatio(lst("es"))
    val enList = lst("en")
    s"""WITH r AS (
       |  SELECT doc_id, text,
       |    $rEn AS r_en, $rDe AS r_de, $rFr AS r_fr, $rEs AS r_es,
       |    CAST(length(text) AS BIGINT) AS len_c,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS punct_c,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> list_contains($enList, x))) AS BIGINT) AS stop_c,
       |    greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 1) AS toks_c
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN greatest(r_en, r_de, r_fr, r_es) <= 0 THEN 'und'
       |       WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
       |       WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
       |       WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
       |       WHEN r_es = greatest(r_en, r_de, r_fr, r_es) THEN 'es'
       |       ELSE 'und' END AS lang_id,
       |  round(r_en, 6) AS en_stop_ratio,
       |  CAST(((least((len_c * 1000000) // 500, 1000000)
       |       + (1000000 - (punct_c * 1000000) // greatest(len_c, 1))
       |       + least((stop_c * 4 * 1000000) // toks_c, 1000000)
       |       + least((len_c * 1000000) // (toks_c * 8), 1000000)) // 4)
       |       AS DOUBLE) / 1000000 AS quality
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** q24 — document fingerprint: MD5 over the normalized text (lowercase,
    * alphanumerics only, collapsed whitespace) — portable content identity.
    */
  val q24_fingerprint: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("norm_text"),
      TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))

  val q24Sql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
      |       '\s+', ' ', 'g')) AS norm_text,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
      |       '\s+', ' ', 'g'))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q140 — winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2004 — public literature): over the normalized text (q24's
    * contract), hash every k-gram (k=8) and keep the MINIMUM hash of each
    * window of w=4 consecutive k-grams — the guarantee the paper proves
    * is that any shared substring of length ≥ k+w−1 yields at least one
    * shared fingerprint, which is what makes the selected set a partial-
    * overlap detector rather than q24's whole-document identity. Readout:
    * per doc, k-gram / window / DISTINCT-fingerprint counts plus the
    * minimum fingerprint (a deterministic sample of the selection).
    *
    * Engine notes: the hash is md5 (portable — Spark and DuckDB emit the
    * same lowercase hex, so min-by-string agrees bit for bit; xxhash64
    * would be faster but is not reproducible in the oracle engine), and
    * both HOF chains guard the empty case explicitly because Spark's
    * sequence(1, n) DESCENDS for n ≤ 0. Scale shape: a pure per-row
    * projection — one corpus scan, no key shuffle; the
    * md5-per-position cost distributes with the rows.
    */
  /** The per-doc winnowing selection shared by q140's readout, q143's
    * overlap detector, and WinnowSpec: `docs` plus the
    * [[TextAnalysis.winnowSelect]] pieces as columns — `s` (the
    * normalized text), `grams` (its k-gram md5 hashes,
    * [[TextAnalysis.grams]]) and `sel` (the window minima,
    * [[TextAnalysis.windowMins]]).
    */
  private[graft] def winnowSel(docs: DataFrame, k: Int = 8,
      w: Int = 4): DataFrame =
    docs
      .withColumn("s", TextAnalysis.normalizeText(col("text")))
      .withColumn("grams", TextAnalysis.grams(col("s"), k))
      .withColumn("sel", TextAnalysis.windowMins(col("grams"), w))

  /** Per-doc DISTINCT fingerprints, re-keyed to 8 bytes INSIDE the
    * per-row HOF: `array_distinct(transform(sel, xxhash64))` — the
    * distinct runs over the HASHED values, so a doc never emits a key
    * twice even across an (astronomically unlikely) md5→xxhash64
    * collision, and the 32-char md5 hex never reaches an Exchange (the
    * q101 string-free-key discipline: ~4x fewer shuffle bytes than the
    * hex on the biggest payload the winnow path moves). The hex form
    * exists only WITHIN the row, where it is needed for the window-min
    * portability (Spark and DuckDB agree on md5 lowercase-hex string
    * order bit for bit; the oracle keeps grouping on the string — the
    * key choice is invisible in the output pairs, and a cross-fp
    * xxhash64 collision altering a count has probability ~n²/2⁶⁴).
    */
  private[graft] def winnowFpKeys(docs: DataFrame, k: Int = 8,
      w: Int = 4): DataFrame =
    winnowSel(docs, k, w)
      .select(col("doc_id"),
        explode(expr("array_distinct(transform(sel, x -> xxhash64(x)))"))
          .as("fpk"))

  /** q143's pair algebra over re-keyed fingerprints: drop keys with
    * df outside [2, maxDf] (the MOSS boilerplate cut — also the per-key
    * join fan-out bound: max maxDf² pair rows per fingerprint), one
    * self-equi-join on the 8-byte key, one pair-count aggregate. Every
    * Exchange is bigint-keyed (PlanSpec-asserted).
    */
  private[graft] def winnowOverlapPairs(fps: DataFrame,
      minShared: Long = 2L, maxDf: Long = 64L): DataFrame = {
    val rare = fps.groupBy("fpk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("fpk")
    val p = fps.join(rare, "fpk")
    p.as("a").join(p.as("b"),
        col("a.fpk") === col("b.fpk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val q140_winnow_fingerprint: Q = (s, d) => {
    winnowSel(Tables.documents(s, d))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_windows"),
        size(array_distinct(col("sel"))).cast("long").as("n_fingerprints"),
        array_min(col("sel")).as("min_fp"))
  }

  val q140Sql: String =
    s"""WITH ${ModalPairSql.winnowCtes}
      |SELECT doc_id,
      |  CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(len(sel) AS BIGINT) AS n_windows,
      |  CAST(len(list_distinct(sel)) AS BIGINT) AS n_fingerprints,
      |  list_min(sel) AS min_fp
      |FROM w ORDER BY doc_id""".stripMargin

  /** q143 — winnowing-overlap pair detection (the MOSS use: q140's
    * selection turned into a partial-overlap detector): doc pairs sharing
    * ≥ 2 distinct selected fingerprints, with the shared count — by the
    * winnowing guarantee, any shared normalized substring of length ≥
    * k+w−1 across BOTH spans contributes fingerprints, so quote-level
    * overlap surfaces without any fixed-shingle span table. Fingerprints
    * appearing in > 64 docs are dropped in BOTH engines (the MOSS
    * boilerplate cut — an over-common fingerprint is template text, and
    * the cap also bounds the per-key join fan-out: max 64² pair rows per
    * fingerprint, the same frequency-cap discipline as LSH bucket
    * pruning). Shape: explode distinct fingerprints (density ~2/(w+1) of
    * positions), one count aggregate, one self-equi-join on the
    * fingerprint key, one pair-count aggregate — every exchange keyed,
    * no candidate ever re-scored against raw text, and every key is the
    * 8-byte [[winnowFpKeys]] re-key (never the md5 hex; the oracle
    * groups on the string — same output, 4x the shuffle bytes we don't
    * pay).
    */
  val q143_winnow_overlap: Q = (s, d) =>
    // materialized: the pair algebra references the fingerprint relation
    // three ways (df cut + both self-join sides) and each re-execution
    // re-pays winnowSel's md5-per-position scan — the most expensive
    // per-row kernel in the winnow path
    winnowOverlapPairs(graft.ops.TextDedup.maybeMaterialize(
        winnowFpKeys(Tables.documents(s, d))))

  val q143Sql: String =
    s"""WITH ${ModalPairSql.winnowCtes},
      |fps AS (
      |  SELECT doc_id, unnest(list_distinct(sel)) AS fp FROM w),
      |rare AS (
      |  SELECT fp FROM (
      |    SELECT fp, count(*) AS df FROM fps GROUP BY fp)
      |  WHERE df BETWEEN 2 AND 64),
      |p AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** q144 — q143's partial-overlap detection, incoming batch vs the
    * STANDING CORPUS, served from the stored fingerprint state
    * (`CorpusBuild.trackFingerprints`): the probe (the last ingest third
    * replayed, q128's pattern) is fingerprinted at batch-scale, the
    * corpus side is READ from the folded state — the standing corpus is
    * never re-fingerprinted. The decontamination/quote-tracing shape at
    * 100 TB: per-batch cost plus a fingerprint-keyed join into state.
    * Oracle: both sides recomputed from raw in DuckDB — a lost
    * fingerprint row, a double-folded generation, or a drifted selection
    * shows up as a pair or count mismatch.
    */
  val q144_state_winnow_overlap: Q = (s, d) => {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(s, d)
    val docs = Tables.documents(s, d)
    val (_, cut2) = TokenizerQueries.generationCuts(docs, "doc_id")
    graft.pipeline.CorpusBuild.stateWinnowOverlap(s, dir,
        docs.filter(col("doc_id") > cut2))
  }

  val q144Sql: String =
    s"""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
      |           FROM documents),
      |c2 AS (SELECT lo + 2 * ((hi - lo) // 3) AS cut2 FROM b),
      |${ModalPairSql.winnowCtes},
      |fps AS (
      |  SELECT doc_id, unnest(list_distinct(sel)) AS fp FROM w),
      |rare AS (
      |  SELECT fp FROM (
      |    SELECT fp, count(*) AS df FROM fps GROUP BY fp)
      |  WHERE df <= 64),
      |probe AS (
      |  SELECT doc_id AS id_b, fp FROM fps, c2 WHERE doc_id > cut2)
      |SELECT a.doc_id AS id_a, p.id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM fps a JOIN rare r ON a.fp = r.fp
      |JOIN probe p ON a.fp = p.fp AND a.doc_id <> p.id_b
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** q25 — multimodal plumbing: text rendered as binary payloads, typed
    * per-partition (stub) decode, byte-level metadata out. The oracle
    * predicts every stubbed field from the source text.
    */
  val q25_multimodal_meta: Q = (s, d) => {
    val media = Multimodal.mediaFromText(s, Tables.documents(s, d), "doc_id", "text")
    Multimodal.extractMeta(media).toDF()
  }

  val q25Sql: String =
    """SELECT doc_id AS media_id, 'text/plain' AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS first_byte,
      |  md5(text) AS content_md5
      |FROM documents ORDER BY media_id""".stripMargin

  /** q26 — LSH-bucketed approximate cosine top-1 (the ANN scale tier),
    * FULLY oracle-checked (r16: the rows-only era is over): the
    * hyperplanes are CORPUS-DERIVED (plane p = v(2p) − v(2p+1) over the
    * 128 smallest-id vectors — [[graft.ops.Similarity.dataHyperplanes]]),
    * so the DuckDB oracle rederives every plane from the embeddings
    * table, recomputes all 8 tables' sign-bit buckets, re-runs the
    * candidate join, and hash-compares the per-query top-1 — blocking,
    * scoring, and ranking all pinned. Recall vs q21 stays asserted in
    * ScalaTest; reported-cosine exactness stays q88's gate.
    */
  val q26_lsh_cosine: Q = (s, d) =>
    SharedReadouts.ann.publish((s, d, "lsh"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))

  /** The LSH bucket/candidate arithmetic, shared by q26 (top-1) and q53
    * (near-dup pairs): corpus-derived difference planes, 8 tables × 8
    * sign bits, candidates = same-(table, bucket) pairs.
    */
  private[queries] val LshCte =
    """lsamp AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        ORDER BY vec_id LIMIT 128)),
      |lplanes AS (
      |  SELECT CAST(a.sid // 2 AS INTEGER) AS p,
      |    list_transform(generate_series(1, 64), i -> a.v[i] - b.v[i]) AS pl
      |  FROM lsamp a JOIN lsamp b ON b.sid = a.sid + 1
      |  WHERE a.sid % 2 = 0),
      |lvecs AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
      |    sqrt(list_sum(list_transform(generate_series(1, 64), i ->
      |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |      AS nrm
      |  FROM embeddings),
      |lnz AS (SELECT * FROM lvecs WHERE nrm > 0),
      |lbits AS (
      |  SELECT lnz.id, p.p // 8 AS tbl,
      |    CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
      |        lnz.v[i] * p.pl[i])) > 0
      |      THEN CAST(1 AS BIGINT) << (p.p % 8)
      |      ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM lnz, lplanes p),
      |lbuckets AS (
      |  SELECT id, tbl, sum(bit) AS bucket FROM lbits GROUP BY id, tbl),
      |lscored AS (
      |  SELECT c.id_a, c.id_b,
      |    round(list_sum(list_transform(generate_series(1, 64), i ->
      |        va.v[i] * vb.v[i])) / (va.nrm * vb.nrm), 9) AS cos
      |  FROM (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |        FROM lbuckets a JOIN lbuckets b
      |          ON a.tbl = b.tbl AND a.bucket = b.bucket
      |            AND a.id < b.id) c
      |  JOIN lnz va ON c.id_a = va.id
      |  JOIN lnz vb ON c.id_b = vb.id)""".stripMargin

  val q26Sql: String =
    s"""WITH $LshCte,
       |directed AS (
       |  SELECT id_a AS query_id, id_b AS neighbor_id, cos FROM lscored
       |  UNION ALL
       |  SELECT id_b AS query_id, id_a AS neighbor_id, cos FROM lscored)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  round(cos, 6) AS cos, CAST(1 AS INTEGER) AS rank
       |FROM (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rk
       |      FROM directed) t
       |WHERE rk = 1 ORDER BY query_id""".stripMargin

  /** q27 — sessionization (30-minute inactivity gap) as declarative window
    * functions over events: the batch cross-check of the stateful streaming
    * operator (EventStream.sessionize), and oracle-checkable.
    */
  val q27_sessionize: Q = (s, d) =>
    graft.streaming.EventStream.sessionizeSql(
        Tables.events(s, d).select("event_id", "user_id", "ts"), gapMinutes = 30)
      .withColumn("session_id", col("session_id").cast("long"))

  val q27Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800.0
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |sid AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events
      |FROM sid GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** q32 — IVF approximate cosine top-1 (coarse-quantizer tier; rows-only
    * driver check, planted-twin recall asserted in ScalaTest).
    */
  val q32_ivf_cosine: Q = (s, d) =>
    SharedReadouts.ann.publish((s, d, "ivf"))

  /** q109 — IVF-PQ approximate top-1 (the memory-bound tier: byte codes +
    * ADC shortlist, exact re-rank — see Similarity.ivfPqTopK). Rows-only
    * driver check; planted-twin recall in ScalaTest, reported-cosine
    * exactness audited by the q88 gate (the PQ approximation affects only
    * WHICH candidates reach the exact re-rank, never the emitted score).
    */
  val q109_ivfpq_cosine: Q = (s, d) =>
    SharedReadouts.ann.publish((s, d, "ivfpq"))

  /** q112 — per-group embedding centroids, EXACT: component-wise mean of
    * the embedding vectors within each doc_id%4 slice (a stand-in for
    * per-source/per-cluster centroids — the diversity/coverage readout a
    * curation pipeline derives before balancing a mix) at a declared
    * 1e-7 quantization. Per row, floor(x·1e7) → BIGINT: float→double is
    * exact, the IEEE multiply is correctly rounded (identical in both
    * engines), and floor has NO rounding ties — unlike a double→DECIMAL
    * cast, whose half-way handling differs between Spark's
    * shortest-representation HALF_UP and DuckDB's exact-value rounding
    * (observed: 1 ulp on 1 of 6400 cells at sf0.01). Integer sums are
    * then order-invariant, and the mean is two correctly-rounded double
    * divisions applied in the same order — bit-identical cross-engine.
    *
    * Scale shape: posexplode fans each vector into (dim, value) rows,
    * but partial aggregation collapses them MAP-SIDE to groups×dim rows
    * before any exchange — the shuffle carries ~|groups|·64 rows however
    * large the corpus.
    */
  val q112_embedding_centroids: Q = (s, d) => {
    Tables.embeddings(s, d)
      .select((col("vec_id") % 4).as("grp"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("grp"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * lit(1e7)).cast("long")).as("s"))
      .select(col("grp"), col("dim"),
        (col("s").cast("double") / col("n").cast("double") / lit(1e7))
          .as("mean"))
  }

  val q112Sql: String =
    """SELECT vec_id % 4 AS grp,
      |  CAST(dim - 1 AS BIGINT) AS dim,
      |  CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT)) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) / 1e7 AS mean
      |FROM (
      |  SELECT vec_id, unnest(embedding) AS x,
      |    generate_subscripts(embedding, 1) AS dim
      |  FROM embeddings)
      |GROUP BY grp, dim
      |ORDER BY grp, dim""".stripMargin

  /** q123 — embedding k-means (Lloyd's, k=8, 5 rounds, deterministic
    * first-k-by-id init): per-vector cluster assignment plus per-cluster
    * sizes via a window count — the clustering tier behind
    * cluster-balanced sampling. Rows-only: cross-partition float mean
    * sums are not oracle-exact; the q124 gate audits the assignment.
    */
  // The k=8 embedding k-means is trained ONCE per (session, sf dir) and
  // served to q123/q124/q129/q130 — the train-once/serve-many discipline
  // the stored-state queries establish: the centroids are the artifact;
  // re-running 5 Lloyd scans per consuming query prices training four
  // times for one model. (The memoized assignment plan re-executes per
  // query — one scan through the fused constant-centroid expression —
  // only the iterative training collapses.)
  private val kmMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, Seq[Array[Double]])]
  // private[queries]: q116's population audit counts the assignment
  // relation THROUGH the same memo the q124 gate consumes
  private[graft] def sharedKMeans(s: SparkSession,
      d: String): (DataFrame, Seq[Array[Double]]) =
    kmMemo.computeIfAbsent((s, d), _ => graft.ops.Clustering.kMeans(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 5))

  val q123_kmeans_clusters: Q = (s, d) => {
    val (assigned, _) = sharedKMeans(s, d)
    assigned
      .select(col("id").as("vec_id"), col("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
  }

  /** q124 — k-means assignment-consistency gate (the q88 rescoring
    * discipline): every emitted (vec, cluster) must minimize the
    * distance to the final centroids, recomputed through the independent
    * HOF fold. Must be EMPTY.
    */
  val q124_kmeans_gate: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val (assigned, cents) = sharedKMeans(s, d)
    graft.ops.Clustering.assignmentGate(assigned, emb, "vec_id",
        "embedding", cents)
  }

  val q124Sql: String =
    """SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INTEGER) AS cluster,
      |  CAST(NULL AS DOUBLE) AS d_assigned, CAST(NULL AS DOUBLE) AS d_min
      |WHERE false""".stripMargin

  /** q129 — SemDeDup-style cluster-blocked semantic near-dup pairs:
    * k-means blocks the embedding space, exact pairwise cosine runs only
    * within each cluster ([[graft.ops.Similarity.clusterNearDupPairs]]).
    * Rows-only (float cosines under float centroids); q130 re-verifies
    * every emitted pair, SimilaritySpec pins planted-twin recall.
    */
  val q129_semdedup_pairs: Q = (s, d) =>
    graft.ops.Similarity.clusterNearDupPairsFromAssignments(
        Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.3, assigned = sharedKMeans(s, d)._1)

  /** q130 — the q88-discipline gate over q129: every emitted pair's
    * cosine recomputed through the independent HOF zip_with/aggregate
    * fold must re-clear the threshold and agree with the emitted score
    * to round-off. Must be EMPTY.
    */
  val q130_semdedup_gate: Q = (s, d) => {
    val pairs = q129_semdedup_pairs(s, d)
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cos_ref",
        hofDot(col("va"), col("vb")) /
          (sqrt(hofDot(col("va"), col("va"))) *
            sqrt(hofDot(col("vb"), col("vb")))))
      .filter(col("cos_ref") < 0.3 - 1e-6 ||
        abs(col("cos_ref") - col("cos")) > 1e-6)
      .select("id_a", "id_b", "cos", "cos_ref")
  }

  val q130Sql: String =
    """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
      |  CAST(NULL AS DOUBLE) AS cos, CAST(NULL AS DOUBLE) AS cos_ref
      |WHERE false""".stripMargin

  /** q147 — k-means assignments served from the STORED centroid state
    * (`CorpusBuild.trackCentroids`): the posting-state build streams the
    * embeddings in three generations, training by the geometric-growth
    * policy and assigning frozen-model batches incrementally; the
    * readout folds the assignment chain (latest-generation-wins) and
    * never touches a vector — model serving without a corpus scan, the
    * q142 discipline for the embedding space. Same shape as q123.
    * Rows-only (float model); the q148 gate is the correctness check.
    */
  val q147_state_kmeans: Q = (s, d) => {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(s, d)
    graft.pipeline.CorpusBuild.stateKmeans(s, dir)
      .select(col("id").as("vec_id"), col("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
  }

  /** q148 — the q124 argmin gate over the STORED model: every
    * state-served (vec, cluster) must minimize the distance to the
    * stored centroid snapshot, recomputed through the independent HOF
    * fold — a mis-folded assignment chain, a stale frozen-model delta
    * surviving a retrain, or a drifted centroid snapshot all surface
    * as rows. Must be EMPTY.
    */
  val q148_state_kmeans_gate: Q = (s, d) => {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(s, d)
    graft.pipeline.CorpusBuild.stateKmeansGate(s, dir)
  }

  val q148Sql: String = q124Sql

  /** q149 — SemDeDup served from the STORED model: cluster-blocked
    * exact cosine pairs with the stored assignments as blocking — the
    * standing corpus is neither re-trained nor re-assigned; quadratic
    * work stays (n/k)²-bounded per cluster exactly as q129. Rows-only;
    * q150 re-verifies every emitted pair.
    */
  val q149_state_semdedup: Q = (s, d) => {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(s, d)
    graft.pipeline.CorpusBuild.stateSemDeDup(s, dir, threshold = 0.3)
  }

  /** q150 — the q130 rescoring gate over q149: every state-served
    * pair's cosine recomputed through the independent zip_with/
    * aggregate fold over the STORED vectors must re-clear the threshold
    * and agree with the emitted score to round-off. Must be EMPTY.
    */
  val q150_state_semdedup_gate: Q = (s, d) => {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(s, d)
    val pairs = q149_state_semdedup(s, d)
    val vecs = graft.pipeline.CorpusBuild.stateVecs(s, dir)
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cos_ref",
        hofDot(col("va"), col("vb")) /
          (sqrt(hofDot(col("va"), col("va"))) *
            sqrt(hofDot(col("vb"), col("vb")))))
      .filter(col("cos_ref") < 0.3 - 1e-6 ||
        abs(col("cos_ref") - col("cos")) > 1e-6)
      .select("id_a", "id_b", "cos", "cos_ref")
  }

  val q150Sql: String = q130Sql

  /** q155 — ANN top-1 SERVED FROM THE STORED CENTROID STATE: the stored
    * centroids are the coarse quantizer, the folded assignments are the
    * inverted lists, the folded vectors the data
    * ([[graft.pipeline.CorpusBuild.stateIvfTopK]]) — q32's search with
    * zero training or assignment work at query time, completing the
    * embedding-space serving story (q147 assignments, q149 pairs, now
    * nearest-neighbor queries). Rows-only (float model, stored-state
    * training history); q156 re-scores every claimed row.
    */
  val q155_state_ann: Q = (s, d) =>
    // publish into the SharedReadouts.ann memo (the q26/q32/q109 billing
    // discipline): the tier's own query always rebuilds and pays its
    // pipeline; the q156 gate reads the published readout
    SharedReadouts.ann.publish((s, d, "state_ivf"))

  /** q156 — the q88 rescoring gate over q155: every state-served
    * (query, neighbor, cos) re-scored with the independent HOF cosine
    * over the STORED vectors; deviations, self-pairs, missing vectors,
    * or NULL recomputes surface as rows. Must be EMPTY.
    */
  val q156_state_ann_gate: Q = (s, d) => {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(s, d)
    // READ the published readout (serve builds only if q155 has not run
    // this session) — the gate pays its rescoring join, not a second
    // state-ANN search
    val claimed = SharedReadouts.ann.serve((s, d, "state_ivf"))
      .select(lit("state_ivf").as("tier"), col("query_id"),
        col("neighbor_id"), col("cos"))
    val vecs = graft.pipeline.CorpusBuild.stateVecs(s, dir)
      .select(col("id").as("vec_id"), col("v"))
    CurationQueries.annGate(claimed, vecs)
  }

  val q156Sql: String = CurationQueries.q88Sql

  /** The probe widths of the q167 recall curve — the knob a real ANN
    * deployment turns first: wider probes trade scan fraction
    * (nProbe/nClusters of the corpus) for recall, and nProbe = the full
    * cluster count degenerates to the exact tier by construction.
    */
  private val RecallCurveProbes = Seq(1, 2, 4, 8)

  /** q167 — IVF RECALL-vs-nPROBE CURVE over the stored model: the
    * whole top-1 family comes from ONE candidate-generation pass
    * ([[SharedReadouts.ann]] `state_ivf_curve`, published here so a bench bills
    * the single search to this number — per width the relation is
    * EXACTLY `stateIvfTopK(k=1, nProbe=width)`'s, ClusteringSpec-
    * asserted) and is judged against the brute-force exact top-1 over
    * the SAME stored vectors; a query is recalled when its served
    * cosine equals the exact best (cosine equality, not id — ties are
    * recalled by any co-maximal neighbor, and the q88/q156 family
    * guarantees served cosines are bit-identical to exact for the same
    * pairs). Emits one row per probe width with exact-integer ppm; the
    * denominator counts EVERY query with an exact neighbor (a width
    * whose lists turn up no candidate scores a miss, not a skip) via a
    * declared 4-row broadcast spine. Rows-only (the stored float model
    * is not reproducible in SQL); the q168 gate rescored every claim,
    * and ClusteringSpec asserts the curve is monotone with recall 1 at
    * nProbe = nClusters.
    */
  val q167_ivf_recall_curve: Q = (s, d) => {
    val dir = TokenizerQueries.ensurePostingState(s, d)
    val vecs = graft.pipeline.CorpusBuild.stateVecs(s, dir)
      .select(col("id").as("vec_id"), col("v").as("embedding"))
    val exact = Similarity.cosineTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("cos").as("best_cos"))
    val curve = SharedReadouts.ann.publish((s, d, "state_ivf_curve"))
    import s.implicits._
    val spine = RecallCurveProbes.map(_.toLong).toDF("nprobe")
    exact.crossJoin(broadcast(spine))
      .join(curve.select(col("nprobe"), col("query_id"), col("cos")),
        Seq("nprobe", "query_id"), "left")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("cos") >= col("best_cos"), 1L).otherwise(0L))
          .as("n_recalled"))
      .select(col("nprobe"), col("n_queries"),
        coalesce(col("n_recalled"), lit(0L)).as("n_recalled"),
        expr("(1000000 * coalesce(n_recalled, 0)) DIV n_queries")
          .as("recall_ppm"))
  }

  /** q168 — the q156 rescoring gate over the WHOLE q167 curve family:
    * every (query, neighbor, cos) any probe width emitted is re-scored
    * with the independent HOF cosine over the stored vectors.
    * Must be EMPTY. Reads the published `state_ivf_curve` memo
    * (building only if q167 has not run this session) — the gate bills
    * its rescoring join, not a re-run search.
    */
  val q168_ivf_recall_gate: Q = (s, d) => {
    val dir = TokenizerQueries.ensurePostingState(s, d)
    val vecs = graft.pipeline.CorpusBuild.stateVecs(s, dir)
      .select(col("id").as("vec_id"), col("v"))
    val claims = SharedReadouts.ann.serve((s, d, "state_ivf_curve"))
      .select(concat(lit("state_ivf_p"), col("nprobe")).as("tier"),
        col("query_id"), col("neighbor_id"), col("cos"))
    CurationQueries.annGate(claims, vecs)
  }

  val q168Sql: String = CurationQueries.q88Sql

  /** q193 — content-defined chunking (the FastCDC family — Xia et al.,
    * USENIX ATC 2016 — public literature; Muthitacharoen et al.'s LBFS
    * is the ancestor): a chunk boundary falls AFTER position i exactly
    * when the trailing 8-char window's hash lands in bucket 0 of 64
    * (expected chunk ≈ 64 chars — measured 51 at this corpus), so
    * boundaries move WITH content — an insertion re-chunks only its
    * neighborhood where fixed-width chunking shifts every later chunk.
    * This is the shift-resistant dedup unit object stores and
    * incremental-sync systems use, complementary to winnowing (q140
    * SELECTS representative fingerprints; CDC SEGMENTS the text).
    * Readout per doc: chunk count, max chunk length, and how many of
    * the doc's chunks also occur in ≥1 other document (the cross-doc
    * dedup signal), as an exact ppm.
    *
    * Engine notes: the window hash is a Rabin-style polynomial over the
    * trailing 8 code points (CdcChunksExpr — computed ROLLING, one
    * multiply/add per character; the oracle evaluates the same
    * polynomial per position with nested Horner arithmetic, so both
    * engines define cuts identically); chunk identity crosses the
    * corpus-scale Exchange as xxhash64(chunk) — an 8-byte key, never
    * the chunk string — and the oracle groups by its own chunk
    * substrings, so the emitted COUNTS agree while neither engine's
    * hash leaks into the output (q101's shingle discipline).
    *
    * Scale shape: boundary detection and chunk formation are PURE
    * per-row HOFs (no explode until the chunk relation); one
    * map-side-combined shuffle groups chunk keys (8-byte), one join
    * back, one per-doc rollup.
    */
  /** The CDC chunk array of a text column: array<struct(l, ck)> where l
    * is the chunk length and ck = xxhash64(chunk text) — the shared
    * kernel of q193/q194 and CdcSpec's shift-resistance property. A
    * boundary falls after position i (1-based, i ≥ 8) iff the trailing
    * 8-code-point window's polynomial hash ≡ 0 (mod 64) — evaluated by
    * the native rolling-hash expression (one pass per row,
    * [[graft.functions.CdcChunksExpr]]).
    */
  private[graft] def cdcChunks(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.CdcChunksExpr(
      ColumnShim.expression(coalesce(text, lit("")))))
  }

  val q193_cdc_chunks: Q = (s, d) => {
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), cdcChunks(col("text")).as("ch"))
      .select(col("doc_id"), explode_outer(col("ch")).as("c"))
      .select(col("doc_id"), col("c.l").as("l"), col("c.ck").as("ck"))
    val dup = chunks.filter(col("ck").isNotNull)
      .groupBy("ck").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2L)
      .select(col("ck"), lit(1L).as("is_dup"))
    chunks
      .join(dup, Seq("ck"), "left_outer")
      .groupBy("doc_id")
      .agg(count(col("ck")).as("n_chunks"),
        coalesce(max(col("l")), lit(0L)).as("max_chunk_len"),
        coalesce(sum(coalesce(col("is_dup"), lit(0L))), lit(0L))
          .as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("max_chunk_len"),
        col("n_dup_chunks"),
        TextAnalysis.intDiv(col("n_dup_chunks") * 1000000L,
          greatest(col("n_chunks"), lit(1L))).as("dup_ppm"))
  }

  val q193Sql: String = CdcOracle.q193Sql

  val q194Sql: String = CdcOracle.q194Sql

  /** q194 — CDC-grained eval decontamination: q69/q111 screen on token
    * n-grams and q166 on winnow fingerprints; this is the third
    * granularity real pipelines ship (Dolma/RedPajama-style) — the
    * CHUNK. Every train-split document is audited for content-defined
    * chunks (q193's kernel) that also occur in any val/test-split
    * document: because boundaries are content-defined, a contaminated
    * passage yields the SAME chunks in both splits regardless of where
    * it sits in either document — the shift-resistance CdcSpec proves
    * is exactly what makes this screen alignment-free. Readout per
    * train doc: chunk count, eval-shared chunk count, shared ppm — the
    * removal worklist.
    *
    * Scale shape: chunking rides the scan; the eval-chunk set is built
    * with one map-side-combined distinct on the 8-byte chunk key and
    * the audit is one key join + per-doc rollup — no pairwise
    * comparison anywhere.
    */
  val q194_cdc_decontam: Q = (s, d) => {
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"),
        (graft.ops.Splits.bucket(col("doc_id")) < 90).as("is_train"),
        explode_outer(cdcChunks(col("text"))).as("c"))
      .select(col("doc_id"), col("is_train"), col("c.ck").as("ck"))
    cdcAudit(chunks.filter(col("is_train")),
      chunks.filter(!col("is_train") && col("ck").isNotNull))
  }

  /** The CDC audit rollup: `chunks` (doc_id, ck) are the audited docs'
    * chunk rows (a null ck marks a chunk-less doc), marked against the
    * key set of `evalChunks` (ck, ...) and aggregated per doc — one
    * distinct + one key join + one rollup, never pairwise. Shared by
    * q194 (eval side chunked in-query) and
    * [[graft.pipeline.CorpusBuild.stateCdcDecontam]] (eval side read
    * from the folded chunk index).
    */
  private[graft] def cdcAudit(chunks: DataFrame,
      evalChunks: DataFrame): DataFrame = {
    val evalSet = evalChunks.select("ck").distinct()
      .withColumn("in_eval", lit(1L))
    chunks
      .join(evalSet, Seq("ck"), "left_outer")
      .groupBy("doc_id")
      .agg(count(col("ck")).as("n_chunks"),
        coalesce(sum(coalesce(col("in_eval"), lit(0L))), lit(0L))
          .as("n_eval_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_eval_shared"),
        TextAnalysis.intDiv(col("n_eval_shared") * 1000000L,
          greatest(col("n_chunks"), lit(1L))).as("shared_ppm"))
  }


  /** (doc_id, ck) chunk-key rows of a docs relation — the CDC chunk
    * INDEX a state generation stores for its eval-split docs
    * ([[graft.pipeline.CorpusBuild]] cfg.trackCdc). Plain explode:
    * chunk-less docs contribute nothing to an index.
    */
  private[graft] def cdcChunkKeys(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(cdcChunks(col("text"))).as("c"))
      .select(col("doc_id"), col("c.ck").as("ck"))

  /** q197 — q194's chunk-grained decontamination served from STORED
    * STATE: the eval split's chunk index is written once, as per-batch
    * (doc_id, ck) deltas folded by union over the ingest generation
    * chain (batch-disjoint docs — the fingerprint tier's contract),
    * and the audit re-chunks only the TRAIN side at query time (the
    * rolling-hash pass rides the scan). The same standing index
    * screens every arriving batch at the DocStream `onCdc` door before
    * it folds in — the third decontamination granularity's door,
    * beside winnow fingerprints (q166/onCrossSplit) and the model
    * doors. Oracle: q194's SQL verbatim — a lost batch, a double-fold,
    * or a chunk-rule drift between the stored and query-time kernels
    * hash-mismatches.
    */
  val q197_state_cdc_decontam: Q = (s, d) =>
    graft.pipeline.CorpusBuild.stateCdcDecontam(s,
      TokenizerQueries.ensurePostingState(s, d), Tables.documents(s, d))

  val queries: Map[String, Q] = Map(
    "q123_kmeans_clusters" -> q123_kmeans_clusters,
    "q124_kmeans_gate" -> q124_kmeans_gate,
    "q129_semdedup_pairs" -> q129_semdedup_pairs,
    "q130_semdedup_gate" -> q130_semdedup_gate,
    "q32_ivf_cosine" -> q32_ivf_cosine,
    "q109_ivfpq_cosine" -> q109_ivfpq_cosine,
    "q112_embedding_centroids" -> q112_embedding_centroids,
    "q27_sessionize" -> q27_sessionize,
    "q17_exact_dedup" -> q17_exact_dedup,
    "q18_ngram_jaccard" -> q18_ngram_jaccard,
    "q19_minhash_lsh" -> q19_minhash_lsh,
    "q20_simhash" -> q20_simhash,
    "q21_cosine_top1" -> q21_cosine_top1,
    "q22_token_stats" -> q22_token_stats,
    "q23_lang_quality" -> q23_lang_quality,
    "q24_fingerprint" -> q24_fingerprint,
    "q193_cdc_chunks" -> q193_cdc_chunks,
    "q194_cdc_decontam" -> q194_cdc_decontam,
    "q197_state_cdc_decontam" -> q197_state_cdc_decontam,
    "q25_multimodal_meta" -> q25_multimodal_meta,
    "q26_lsh_cosine" -> q26_lsh_cosine,
    "q67_sketch_precision" -> q67_sketch_precision,
    "q140_winnow_fingerprint" -> q140_winnow_fingerprint,
    "q143_winnow_overlap" -> q143_winnow_overlap,
    "q144_state_winnow_overlap" -> q144_state_winnow_overlap,
    "q147_state_kmeans" -> q147_state_kmeans,
    "q148_state_kmeans_gate" -> q148_state_kmeans_gate,
    "q149_state_semdedup" -> q149_state_semdedup,
    "q150_state_semdedup_gate" -> q150_state_semdedup_gate,
    "q155_state_ann" -> q155_state_ann,
    "q156_state_ann_gate" -> q156_state_ann_gate,
    "q167_ivf_recall_curve" -> q167_ivf_recall_curve,
    "q168_ivf_recall_gate" -> q168_ivf_recall_gate)

  val oracleSql: Map[String, String] = Map(
    "q20_simhash" -> q20Sql,
    "q26_lsh_cosine" -> q26Sql,
    "q124_kmeans_gate" -> q124Sql,
    "q130_semdedup_gate" -> q130Sql,
    "q112_embedding_centroids" -> q112Sql,
    "q27_sessionize" -> q27Sql,
    "q17_exact_dedup" -> q17Sql,
    "q18_ngram_jaccard" -> q18Sql,
    "q19_minhash_lsh" -> q19Sql,
    "q67_sketch_precision" -> q67Sql,
    "q21_cosine_top1" -> q21Sql,
    "q22_token_stats" -> q22Sql,
    "q23_lang_quality" -> q23Sql,
    "q24_fingerprint" -> q24Sql,
    "q193_cdc_chunks" -> q193Sql,
    "q194_cdc_decontam" -> q194Sql,
    // the state-served audit must reproduce q194's in-query readout
    // EXACTLY — same oracle, so the driver hash-checks the index fold
    "q197_state_cdc_decontam" -> q194Sql,
    "q25_multimodal_meta" -> q25Sql,
    "q140_winnow_fingerprint" -> q140Sql,
    "q143_winnow_overlap" -> q143Sql,
    "q144_state_winnow_overlap" -> q144Sql,
    "q148_state_kmeans_gate" -> q148Sql,
    "q150_state_semdedup_gate" -> q150Sql,
    "q156_state_ann_gate" -> q156Sql,
    "q168_ivf_recall_gate" -> q168Sql)
}
