package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** DSIR — data selection via importance resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023 — public literature), as pure DataFrame algebra shared
  * by the in-query tier (q188) and the stored-state tier (q191, folded
  * per-batch count deltas in [[graft.pipeline.CorpusBuild]]):
  *
  *  - FEATURES: hashed bigrams into B=256 buckets via the md5-prefix
  *    idiom ([[Splits.bucket]]'s contract) — the PORTABLE hash, because
  *    the bucket ids flow into oracle-checked values (xxhash64 is
  *    engine-specific and stays confined to shuffle keys).
  *  - MODEL: per-bucket (target, raw) occurrence counts over the train
  *    split — ADDITIVE, so a per-batch delta chain folds by sum into
  *    exactly the one-shot table and there is no retrain boundary (the
  *    same sufficient-statistic property [[NaiveBayes]] exploits).
  *  - SCORE: λ_f = ⌊log2⌋-quantized log-likelihood ratio with add-one
  *    smoothing, λ ∈ [−63, 63] by construction; a document's importance
  *    weight is Σ λ over its bigram occurrences and selection is the
  *    sign test (map-only — no global top-k).
  *
  * The target/raw contrast rides q174's planted-marker corpus
  * ([[graft.queries.ClassifierQueries.planted]]): target = class-0
  * docs. A uniform corpus's subsample has its pool's bucket
  * distribution, so every λ quantizes to 0 (verified empirically); the
  * marker n-grams give the target a genuinely distinct distribution,
  * which is the regime DSIR exists for.
  *
  * 100 TB: bigrams form shuffle-free from slice/zip; the model is one
  * map-side-combined 256-row aggregate (or a folded state read); model
  * and totals broadcast back onto the pair stream; one per-doc rollup.
  */
object Dsir {

  /** Feature-bucket count — 256 keeps the model broadcast-trivial while
    * leaving bucket populations large enough that log2 quantization is
    * stable across scale factors.
    */
  val B = 256L

  /** One row per bigram occurrence of the planted corpus:
    * (doc_id, is_train, is_q, fb). `planted` must carry doc_id, aug,
    * label (the [[graft.queries.ClassifierQueries.planted]] shape).
    * `explode_outer` keeps sub-2-token documents as a single fb=null
    * row so they survive to the readout with n_bigrams = 0.
    */
  def pairs(planted: DataFrame): DataFrame = {
    val t = TextAnalysis.tokens(col("aug"))
    val n = greatest(size(t) - 1, lit(0))
    planted
      .select(col("doc_id"),
        (Splits.bucket(col("doc_id")) < 90).as("is_train"),
        (col("label") === 0L).as("is_q"),
        explode_outer(zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
          (x, y) => concat(x, lit(" "), y))).as("bg"))
      .select(col("doc_id"), col("is_train"), col("is_q"),
        when(col("bg").isNotNull,
          conv(substring(md5(col("bg")), 1, 8), 16, 10).cast("long") % B)
          .as("fb"))
  }

  /** The (fb, ct, cr) model table over `planted`'s train split — both
    * class counts in ONE map-side-combined aggregate, ≤ B rows out.
    * Additive: per-batch deltas fold by sum into the one-shot table.
    */
  def countDelta(planted: DataFrame): DataFrame =
    countDeltaFromPairs(pairs(planted))

  /** [[countDelta]] over an already-built pair relation — so a caller
    * that needs BOTH the model and the scoring stream (q188's shape)
    * derives them from one materialized [[pairs]] instead of running
    * the bigram explode + per-bigram md5 once per consumer.
    */
  def countDeltaFromPairs(pairRel: DataFrame): DataFrame =
    pairRel.filter(col("is_train") && col("fb").isNotNull)
      .groupBy("fb")
      .agg(sum(when(col("is_q"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))

  /** The in-query weights readout: ONE materialized pair relation
    * serves both the model aggregate and the scoring stream. The
    * previous q188 composition called [[pairs]] separately for each —
    * three full bigram-explode + md5 passes per run ([[scores]]'
    * `tot` re-aggregated the model side) instead of one.
    */
  def weights(planted: DataFrame): DataFrame = {
    val p = TextDedup.maybeMaterialize(pairs(planted))
    scores(p, countDeltaFromPairs(p))
  }

  /** q188's scoring readout: (doc_id, n_bigrams, dsir_sum,
    * avg_shift_q6, selected), identical whether `counts` comes from the
    * in-query aggregate or a folded state chain. The per-doc mean is
    * reported over the shifted non-negative score λ+64 — Spark's floor
    * division and DuckDB's `//` (truncating) agree only on non-negative
    * operands.
    */
  def scores(pairsAll: DataFrame, counts: DataFrame): DataFrame = {
    val tot = counts.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"),
      coalesce(sum(col("cr")), lit(0L)).as("tr"))
    val lam =
      (TextAnalysis.floorLog2(coalesce(col("ct"), lit(0L)) + 1L) -
        TextAnalysis.floorLog2(col("tt") + B)) -
      (TextAnalysis.floorLog2(coalesce(col("cr"), lit(0L)) + 1L) -
        TextAnalysis.floorLog2(col("tr") + B))
    pairsAll
      .join(broadcast(counts), Seq("fb"), "left")
      .crossJoin(broadcast(tot)) // 1-row scalar: the model's smoothing totals
      .select(col("doc_id"),
        when(col("fb").isNotNull, lam).as("lam"))
      .groupBy("doc_id")
      .agg(count(col("lam")).as("n_bigrams"),
        coalesce(sum(col("lam")), lit(0L)).as("dsir_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("dsir_sum"),
        when(col("n_bigrams") > 0L,
          TextAnalysis.intDiv(
            (col("dsir_sum") + col("n_bigrams") * 64L) * 1000000L,
            col("n_bigrams"))).otherwise(0L).as("avg_shift_q6"),
        when((col("n_bigrams") > 0L) && (col("dsir_sum") >= 0L), 1L)
          .otherwise(0L).as("selected"))
  }
}
