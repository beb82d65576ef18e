package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Round-7 within-document repetition filters — the Rae et al. (Gopher)
  * quality-filter family a training-data pipeline runs over every crawled
  * document: duplicate-word fraction, top-word fraction, duplicate-bigram
  * fraction, self-repetition cleanup, and a corpus-LM surprisal score.
  *
  * Scale shape: q134/q135/q137 are PURE per-row transforms — tokenize,
  * sort, and scan each document's own tokens with HOFs (no explode, no
  * join, no per-document shuffle), so at 100 TB they are map-only over
  * the scan: no key exchange at all. q136 joins
  * the exploded tokens against a broadcast vocabulary (unigram counts are
  * vocab-sized, orders of magnitude below doc count), so its only
  * required shuffle is the vocab-count aggregate plus the per-document
  * rollup.
  *
  * All ratios are integer parts-per-million (exact BIGINT floor division)
  * and the LM score is integer-log2 quantized (`length(bin(x)) - 1`,
  * bit-identical in Spark and DuckDB) — no float crosses the oracle
  * boundary.
  */
object FilterQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q134 — word-level repetition profile: per document, token count,
    * distinct-token count, the count of the most frequent token, and the
    * duplicate-word / top-word fractions in ppm. All three counts come
    * from ONE sorted-run scan of the document's own token array
    * ([[TextAnalysis.runStats]]) — no explode, no shuffle, and the token
    * array is evaluated once per row.
    */
  val q134_word_repetition: Q = (s, d) => {
    val toks = filter(TextAnalysis.tokens(col("text")), t => length(t) > 0)
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.runStats(toks).as("st"))
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        col("st.n_distinct").as("n_distinct"), col("st.top_cnt").as("top_cnt"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_cnt"),
        TextAnalysis.intDiv(
          (col("n_tokens") - col("n_distinct")) * 1000000L,
          col("n_tokens")).as("dup_ppm"),
        TextAnalysis.intDiv(col("top_cnt") * 1000000L, col("n_tokens"))
          .as("top_ppm"))
  }

  val q134Sql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |wc AS (
      |  SELECT doc_id, w, count(*) AS c FROM w
      |  WHERE len(w) > 0 GROUP BY doc_id, w),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(max(c) AS BIGINT) AS top_cnt
      |  FROM wc GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct, top_cnt,
      |  (n_tokens - n_distinct) * 1000000 // n_tokens AS dup_ppm,
      |  top_cnt * 1000000 // n_tokens AS top_ppm
      |FROM agg ORDER BY doc_id""".stripMargin

  /** q135 — duplicate-bigram profile: the adjacent-bigram analogue of
    * q134 (Gopher's dup-2-gram filter). Bigrams keep multiplicity —
    * repetition IS the signal — and the top count is the same per-row
    * sorted-run scan over packed 64-bit bigram KEYS
    * ([[TextAnalysis.wordBigramKeys]]; sorting longs, not concatenated
    * strings, cut 5.9 s → see RepetitionSpec's key≡string canary), so
    * this too is map-only. Documents with fewer than two tokens have no
    * bigrams and drop out (both engines).
    */
  val q135_dup_bigram: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.runStats(
          TextAnalysis.wordBigramKeys(TextAnalysis.tokens(col("text"))))
          .as("st"))
      .select(col("doc_id"), col("st.n_tokens").as("n_bigrams"),
        col("st.top_cnt").as("top_cnt"))
      .filter(col("n_bigrams") > 0)
      .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
        TextAnalysis.intDiv(col("top_cnt") * 1000000L, col("n_bigrams"))
          .as("top_ppm"))
  }

  val q135Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, unnest([ws[i] || chr(31) || ws[i+1]
      |                         for i in generate_series(1, len(ws)-1)]) AS bg
      |  FROM t WHERE len(ws) >= 2),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
      |agg AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(max(c) AS BIGINT) AS top_cnt
      |  FROM bc GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, top_cnt,
      |  top_cnt * 1000000 // n_bigrams AS top_ppm
      |FROM agg ORDER BY doc_id""".stripMargin

  /** q136 — corpus-LM surprisal score (the CCNet-style "how unusual is
    * this document under a corpus language model" quality signal, with a
    * unigram LM and integer-log2 quantization): per token,
    * floorLog2(total) - floorLog2(count(w)); per document, the sum and
    * the 1e6-scaled mean. The unigram table is vocab-sized, so the
    * per-token lookup is a broadcast join; the 1-row total joins in as a
    * declared scalar broadcast (PlanSpec allowlist).
    */
  val q136_surprisal: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val counts = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("t"))
    val lq = counts.crossJoin(broadcast(total))
      .select(col("w"),
        (TextAnalysis.floorLog2(col("t")) - TextAnalysis.floorLog2(col("c")))
          .as("q"))
    tok.join(broadcast(lq), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("q")).as("surprisal_sum"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_sum"),
        TextAnalysis.intDiv(col("surprisal_sum") * 1000000L, col("n_tokens"))
          .as("avg_q6"))
  }

  val q136Sql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |w2 AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
      |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM w2 GROUP BY w),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
      |lq AS (
      |  SELECT w, CAST((length(bin(t)) - 1) - (length(bin(c)) - 1) AS BIGINT)
      |    AS q
      |  FROM c, t)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(q) AS BIGINT) AS surprisal_sum,
      |  CAST(sum(q) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS avg_q6
      |FROM w2 JOIN lq USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q137 — self-repetition cleanup: collapse runs of consecutive
    * duplicate tokens ("batch batch batch" → "batch") and report how many
    * tokens were removed — a cleaning TRANSFORM (it rewrites text), not
    * just a flag, and still a pure per-row HOF pass.
    */
  val q137_collapse_runs: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n0"),
        TextAnalysis.collapseRuns(col("w")).as("c"))
      .select(col("doc_id"),
        (col("n0") - size(col("c")).cast("long")).as("n_removed"),
        array_join(col("c"), " ").as("cleaned"))
  }

  val q137Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, len(ws) AS n0,
      |    [ws[i] for i in generate_series(1, len(ws))
      |     if i = 1 or ws[i] != ws[i-1]] AS cw
      |  FROM t)
      |SELECT doc_id, CAST(n0 - len(cw) AS BIGINT) AS n_removed,
      |  array_to_string(cw, ' ') AS cleaned
      |FROM c ORDER BY doc_id""".stripMargin

  /** q146 — per-doc token self-entropy in the q136 integer-log2
    * quantization: Σ_distinct f·(⌊log2 n⌋ − ⌊log2 f⌋), 1e6-scaled mean —
    * the within-doc diversity signal (low = repetitive/templated text,
    * the complement of q134's top-word fraction; q136 scores against the
    * CORPUS distribution, this against the doc's own). Map-only like the
    * Gopher family: one sorted-run HOF pass per row
    * ([[TextAnalysis.runEntropySum]]), no explode, no key shuffle.
    */
  val q146_doc_entropy: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws",
        filter(TextAnalysis.tokens(col("text")), t => length(t) > 0))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        TextAnalysis.runEntropySum(col("ws")).as("entropy_sum"))
      .filter(col("n_tokens") >= 1L)
      .select(col("doc_id"), col("n_tokens"), col("entropy_sum"),
        expr("(1000000 * entropy_sum) DIV n_tokens").as("avg_q6"))

  val q146Sql: String =
    """WITH e AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |e2 AS (SELECT doc_id, w FROM e WHERE len(w) > 0),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      |      FROM e2 GROUP BY doc_id),
      |f AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS f
      |      FROM e2 GROUP BY doc_id, w),
      |s AS (
      |  SELECT f.doc_id, any_value(n.n_tokens) AS n_tokens,
      |    CAST(SUM(f.f * ((length(bin(n.n_tokens)) - 1)
      |      - (length(bin(f.f)) - 1))) AS BIGINT) AS entropy_sum
      |  FROM f JOIN n ON f.doc_id = n.doc_id
      |  GROUP BY f.doc_id)
      |SELECT doc_id, n_tokens, entropy_sum,
      |  CAST((1000000 * entropy_sum) // n_tokens AS BIGINT) AS avg_q6
      |FROM s ORDER BY doc_id""".stripMargin

  /** q187 — bigram-LM perplexity filter (the CCNet shape — Wenzek et
    * al. 2020: score crawled text against an LM trained on a clean
    * corpus, bucket by perplexity — with a bigram model, singleton
    * pruning as in KenLM practice, and stupid-backoff-style penalties
    * per Brants et al. 2007, all in q136's integer-log2 quantization so
    * no float crosses the oracle boundary). The model trains on the
    * TRAIN split only (q84's md5-bucket < 90), so val/test documents
    * genuinely contain model-unseen bigrams and the whole cascade is
    * oracle-exercised: (a) seen bigram — ⌊log2 c1(w1)⌋ − ⌊log2
    * c2(w1,w2)⌋; (b) unseen bigram, known w2 — 4 + ⌊log2 T⌋ −
    * ⌊log2 c1(w2)⌋; (c) out-of-vocabulary w2 — 4 + ⌊log2 T⌋. Two
    * planted id-derived tokens per document (the PiiQueries synthesis
    * discipline — both engines construct them identically) guarantee
    * branches (b) and (c) fire at every SF: `zqx<doc_id>` is unique so
    * pruning makes it OOV; `qv<doc_id%7>` is common so the bigram
    * ending in it backs off to a known unigram.
    *
    * Scale shape: adjacent pairs come from slice/zip on the token
    * array (q131's idiom — no shuffle to form them); the bigram table
    * is built and joined on an xxhash64 8-byte key (never a string
    * pair through a corpus-scale Exchange); the unigram model and the
    * 1-row total are vocab-sized/scalar broadcasts exactly like q136.
    * One model-build shuffle + one scoring join + one per-doc rollup.
    * The algebra lives in [[graft.ops.BigramLm]], shared verbatim with
    * the stored-state tier (q196 — folded unpruned count deltas,
    * singleton pruning at read) and the `onPerplexity` ingest door.
    * The per-doc readout PUBLISHES into the [[SharedReadouts.pplx]] memo so the
    * q201 reweighting rollup and q190's matrix column serve the scored
    * relation instead of rebuilding the model (the Materialize.Shared billing
    * discipline — q187's own number always prices the full build).
    */
  val q187_bigram_perplexity: Q = (s, d) =>
    SharedReadouts.pplx.publish((s, d))

  val q187Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(coalesce(text, '') || ' zqx' ||
      |      CAST(doc_id AS VARCHAR) || ' qv' ||
      |      CAST(doc_id % 7 AS VARCHAR)), '\s+') AS tk,
      |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS UBIGINT) % 100 AS BIGINT) < 90 AS is_train
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, is_train, tk[i] AS w1, tk[i + 1] AS w2
      |  FROM (SELECT doc_id, is_train, tk,
      |      unnest(generate_series(1, len(tk) - 1)) AS i FROM t)),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      |  FROM p WHERE is_train GROUP BY w1, w2 HAVING count(*) >= 2),
      |c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(tk) AS tok FROM t WHERE is_train)
      |  WHERE len(tok) > 0 GROUP BY tok HAVING count(*) >= 2),
      |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM c1),
      |sc AS (
      |  SELECT p.doc_id,
      |    CASE WHEN c2.c2 IS NOT NULL
      |           THEN (length(bin(u1.c1)) - 1) - (length(bin(c2.c2)) - 1)
      |         WHEN u2.c1 IS NOT NULL
      |           THEN 4 + (length(bin(tt.t)) - 1) - (length(bin(u2.c1)) - 1)
      |         ELSE 4 + (length(bin(tt.t)) - 1) END AS q
      |  FROM p
      |  LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
      |  LEFT JOIN c1 u1 ON p.w1 = u1.tok
      |  LEFT JOIN c1 u2 ON p.w2 = u2.tok
      |  CROSS JOIN tt)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(q) AS BIGINT) AS pplx_sum,
      |  CAST(sum(q) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
      |    AS avg_q6
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q188 — DSIR data selection via importance resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023 — public literature): estimate hashed-bigram
    * distributions for a TARGET corpus and for the RAW train pool,
    * then score every document by its summed log-likelihood ratio
    * Σ_f n_f(doc)·(log p̂_target(f) − log p̂_raw(f)) — the importance
    * weight that decides which raw documents enter the training mix.
    * Both logs are integer-log2 quantized (q136's `length(bin(x)) − 1`
    * idiom) with add-one smoothing over the B=256 feature buckets, so
    * every weight is an exact integer. λ ∈ [−63, 63] by construction
    * (each log ratio is bounded by the total's bit width), so the
    * per-doc mean is reported over the shifted non-negative score
    * λ+64 — Spark's floor division and DuckDB's `//` (which truncates
    * toward zero) agree only on non-negative operands. The selection
    * readout is the sign test dsir_sum ≥ 0 (doc leans target-ward) —
    * a map-only threshold, not a global top-k sort.
    *
    * The target/raw contrast rides q174's planted-marker corpus
    * ([[ClassifierQueries.planted]] — the synthesis discipline for
    * operators this uniform corpus can't exercise): target = class-0
    * train docs. A subsample of a UNIFORM corpus has the same bucket
    * distribution as its pool, so every λ would quantize to 0 (ct/cr
    * and Tt/Tr shrink by the same factor and log2 sees only ≥2×
    * deviations — verified empirically, all-zero weights); the marker
    * n-grams give the target a genuinely distinct distribution, which
    * is the regime DSIR exists for. Marker buckets score λ ≈ +1
    * (exclusively target) / strongly negative (absent from target),
    * shared-text buckets ≈ 0 — so the sign test recovers the target
    * style, with corpus noise keeping both classes honest.
    *
    * Feature hashing must agree bit-for-bit across engines, so buckets
    * come from the md5-prefix idiom ([[graft.ops.Splits.bucket]]'s
    * contract), not xxhash64 (engine-specific — fine for shuffle keys,
    * never for oracle-visible values).
    *
    * Scale shape: bigrams form shuffle-free from slice/zip; ONE
    * aggregate builds the 256-bucket model (map-side combine, 256 rows
    * out — both class counts as conditional sums in the same pass);
    * the model and its 1-row totals broadcast back onto the pair
    * stream; one per-doc rollup. `explode_outer` keeps sub-2-token
    * documents in the output with n_bigrams = 0.
    */
  val q188_dsir_weights: Q = (s, d) => {
    val planted = ClassifierQueries.planted(Tables.documents(s, d))
    // one materialized pair relation feeds both the model aggregate and
    // the scoring stream (was: three bigram-explode+md5 passes)
    graft.ops.Dsir.weights(planted)
  }

  val q188Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(coalesce(text, '') ||
      |      CASE WHEN doc_id % 2 = 0
      |        THEN repeat(' alpha', CAST(doc_id % 3 + 1 AS INTEGER))
      |        ELSE repeat(' gamma', CAST(doc_id % 3 + 1 AS INTEGER)) END),
      |      '\s+') AS tk,
      |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS UBIGINT) % 100 AS BIGINT) < 90 AS is_train,
      |    doc_id % 2 = 0 AS is_q
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, is_train, is_q,
      |    CAST(CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 8))
      |      AS UBIGINT) % 256 AS BIGINT) AS fb
      |  FROM (SELECT doc_id, is_train, is_q, tk,
      |      unnest(generate_series(1, len(tk) - 1)) AS i FROM t)),
      |m AS (
      |  SELECT fb,
      |    CAST(count(CASE WHEN is_q THEN 1 END) AS BIGINT) AS ct,
      |    CAST(count(*) AS BIGINT) AS cr
      |  FROM p WHERE is_train GROUP BY fb),
      |tot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt,
      |  CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM m),
      |sc AS (
      |  SELECT p.doc_id,
      |    ((length(bin(coalesce(m.ct, 0) + 1)) - 1)
      |      - (length(bin(tot.tt + 256)) - 1))
      |    - ((length(bin(coalesce(m.cr, 0) + 1)) - 1)
      |      - (length(bin(tot.tr + 256)) - 1)) AS lam
      |  FROM p LEFT JOIN m ON p.fb = m.fb CROSS JOIN tot),
      |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(lam) AS BIGINT) AS dsir_sum
      |  FROM sc GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(a.dsir_sum, 0) AS BIGINT) AS dsir_sum,
      |  CAST(CASE WHEN a.n_bigrams > 0 THEN
      |      ((a.dsir_sum + 64 * a.n_bigrams) * 1000000) // a.n_bigrams
      |    ELSE 0 END AS BIGINT) AS avg_shift_q6,
      |  CAST(CASE WHEN a.n_bigrams > 0 AND a.dsir_sum >= 0 THEN 1 ELSE 0 END
      |    AS BIGINT) AS selected
      |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q201 — perplexity-informed source reweighting: the closed-form
    * single-step member of the DoReMi family (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * NeurIPS 2023 — public literature; this is the excess-loss
    * heuristic, not the full minimax-DRO training loop): per source,
    * the exact corpus-sum perplexity (q187's model — sum of per-doc
    * pplx_sum over sum of pairs, not a mean of means), then each
    * source's EXCESS over the easiest source (+1 so every source keeps
    * a floor weight — DoReMi's insight is to UPWEIGHT the domains the
    * reference model finds hard), normalized to a ppm mixing weight.
    * Everything is exact integer arithmetic over non-negative
    * operands, so the oracle reproduces it bit for bit.
    *
    * Scale shape: the per-doc perplexities are SERVED from the pinned
    * [[SharedReadouts.pplx]] memo (built once per session — by q187's publish
    * or on first demand), so this query prices the rollup it exists to
    * perform, not a second model build over a corpus q187 already
    * scored; the rollup is one map-side-combined shuffle with
    * |sources| rows out; the min and the excess total are 1-row scalar
    * broadcasts over that bounded relation (declared in PlanSpec's
    * list) — nothing corpus-scale happens after the rollup.
    */
  val q201_source_reweight: Q = (s, d) =>
    reweightRollup(Tables.documents(s, d),
      SharedReadouts.pplx.serve((s, d))
        .select(col("doc_id"), col("n_pairs"), col("pplx_sum")))

  /** The excess/normalize rollup shared by q201 (in-query model) and
    * q203 (stored-state model): per-source exact sums, excess over the
    * easiest source (+1 floor), ppm weights — two declared 1-row
    * scalar broadcasts over the |sources|-bounded relation.
    */
  private def reweightRollup(docs: DataFrame,
      perDoc: DataFrame): DataFrame = {
    val bySrc = docs.select("doc_id", "source")
      .join(perDoc, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_pairs")).as("sum_pairs"),
        sum(col("pplx_sum")).as("sum_pplx"))
      .select(col("source"), col("n_docs"), col("sum_pairs"),
        col("sum_pplx"),
        TextAnalysis.intDiv(col("sum_pplx") * 1000000L, col("sum_pairs"))
          .as("source_q6"))
    val floor = bySrc.agg(min(col("source_q6")).as("mn"))
    val withExcess = bySrc
      .crossJoin(broadcast(floor)) // 1-row scalar: the easiest source
      .withColumn("excess", col("source_q6") - col("mn") + 1L)
    val total = withExcess.agg(sum(col("excess")).as("te"))
    withExcess
      .crossJoin(broadcast(total)) // 1-row scalar: the excess total
      .select(col("source"), col("n_docs"), col("sum_pairs"),
        col("sum_pplx"), col("source_q6"), col("excess"),
        TextAnalysis.intDiv(col("excess") * 1000000L, col("te"))
          .as("weight_ppm"))
  }

  /** The (source, weight_ppm) readout of q201's rollup, serving the
    * pinned perplexity memo — |sources|-bounded, so consumers join it
    * as a broadcast. The q163 dataset card reads this so the release
    * documentation carries the mixing weights the engine would
    * actually train with.
    */
  private[queries] def sourceWeights(s: SparkSession, d: String): DataFrame =
    reweightRollup(Tables.documents(s, d),
      SharedReadouts.pplx.serve((s, d))
        .select(col("doc_id"), col("n_pairs"), col("pplx_sum")))
      .select(col("source"), col("weight_ppm"))

  /** q203 — q201's source reweighting served from the STORED bigram-LM
    * state: the per-doc perplexities come from
    * [[graft.pipeline.CorpusBuild.stateBigramScores]] (the q196 fold —
    * unpruned deltas, pruning at read) instead of an in-query model
    * build, so the mixing-weight report costs one scoring scan + the
    * bounded rollup. Oracle: q201's SQL verbatim — the q196/q197/q198
    * discipline applied to the round's own new analytic: a stale fold
    * shifts a source's excess and hash-mismatches.
    */
  val q203_state_reweight: Q = (s, d) =>
    reweightRollup(Tables.documents(s, d),
      graft.pipeline.CorpusBuild.stateBigramScores(s,
          TokenizerQueries.ensurePostingState(s, d), Tables.documents(s, d))
        .select(col("doc_id"), col("n_pairs"), col("pplx_sum")))

  val q201Sql: String = {
    val q187Inner = q187Sql
    s"""WITH pplx AS ( $q187Inner ),
       |s AS (
       |  SELECT d.source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(p.n_pairs) AS BIGINT) AS sum_pairs,
       |    CAST(sum(p.pplx_sum) AS BIGINT) AS sum_pplx
       |  FROM documents d JOIN pplx p ON p.doc_id = d.doc_id
       |  GROUP BY d.source),
       |s2 AS (
       |  SELECT source, n_docs, sum_pairs, sum_pplx,
       |    CAST(1000000 * sum_pplx // sum_pairs AS BIGINT) AS source_q6
       |  FROM s),
       |m AS (SELECT min(source_q6) AS mn FROM s2),
       |e AS (
       |  SELECT s2.*, CAST(source_q6 - m.mn + 1 AS BIGINT) AS excess
       |  FROM s2 CROSS JOIN m),
       |t AS (SELECT CAST(sum(excess) AS BIGINT) AS te FROM e)
       |SELECT source, n_docs, sum_pairs, sum_pplx, source_q6, excess,
       |  CAST(1000000 * excess // t.te AS BIGINT) AS weight_ppm
       |FROM e CROSS JOIN t ORDER BY source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q134_word_repetition" -> q134_word_repetition,
    "q135_dup_bigram" -> q135_dup_bigram,
    "q136_surprisal" -> q136_surprisal,
    "q137_collapse_runs" -> q137_collapse_runs,
    "q146_doc_entropy" -> q146_doc_entropy,
    "q187_bigram_perplexity" -> q187_bigram_perplexity,
    "q188_dsir_weights" -> q188_dsir_weights,
    "q201_source_reweight" -> q201_source_reweight,
    "q203_state_reweight" -> q203_state_reweight)

  val oracleSql: Map[String, String] = Map(
    "q134_word_repetition" -> q134Sql,
    "q135_dup_bigram" -> q135Sql,
    "q136_surprisal" -> q136Sql,
    "q137_collapse_runs" -> q137Sql,
    "q146_doc_entropy" -> q146Sql,
    "q187_bigram_perplexity" -> q187Sql,
    "q188_dsir_weights" -> q188Sql,
    "q201_source_reweight" -> q201Sql,
    // the state-served weights must reproduce q201's in-query model
    // EXACTLY — same oracle, so the driver hash-checks the fold
    "q203_state_reweight" -> q201Sql)
}
