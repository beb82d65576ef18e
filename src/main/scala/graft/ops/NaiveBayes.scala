package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed multinomial Naive Bayes text classification — the
  * quality/domain classifier tier of a training-data pipeline (the
  * fastText/CCNet-style screen that scores every document before
  * mixing), built as pure DataFrame algebra:
  *
  *  - TRAIN: per-token counts with both class totals as conditional
  *    sums are ONE map-side-combined shuffle over the tokenized
  *    corpus, materialized once (vocabulary-sized); class totals,
  *    vocabulary size, and priors are 1-row aggregates over it.
  *  - MODEL: a |vocab|-row relation carrying each token's smoothed
  *    log-likelihood ratio ln θ₁(t) − ln θ₀(t) (Laplace +1), plus the
  *    scalar default ratio for unseen tokens — small enough to
  *    BROADCAST at any corpus scale (the vocabulary, not the corpus,
  *    bounds it).
  *  - PREDICT: per-doc term frequencies join the broadcast model and
  *    aggregate Σ tf·ratio + ln(n₁/n₀) — map-side work after one
  *    tf shuffle; no driver-side loops, no collect.
  *
  * Binary labels (0/1) — the common screen shape (keep/toss,
  * high/low quality). At 100 TB: training is one shuffle keyed by
  * (label, token) with heavy map-side combining (the key space is the
  * vocabulary, not the corpus), scoring is a broadcast join; both
  * survive a 1000-executor scale-out unchanged.
  */
object NaiveBayes {

  /** Explode a text column into non-empty whitespace tokens. */
  private def tokens(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("tok", explode(split(col(textCol), " ")))
      .filter(col("tok") =!= "")
      .drop(textCol)

  /** Train on rows carrying `labelCol` ∈ {0, 1}: returns
    * (model, scalars) where model has one row per training token
    * (`tok`, `ratio` = ln θ₁ − ln θ₀) and scalars is a 1-row relation
    * with the unseen-token default ratio and the log prior.
    */
  def train(docs: DataFrame, textCol: String, labelCol: String):
      (DataFrame, DataFrame) = {
    val tok = tokens(docs.select(col(labelCol).as("label"), col(textCol)),
      textCol)
    // ONE pivoted aggregate (tok, c0, c1), MATERIALIZED: the previous
    // form grouped by (label, tok) and re-derived c0/c1/scalars as three
    // separate readouts, so the corpus tokenize+aggregate subtree
    // executed once per consumer (four times through train+predict —
    // guide §1.2: fix the algorithm before the per-task work). A token
    // absent from a class aggregates to 0 here where the old full-outer
    // join produced NULL; the smoothing below adds +1 to the coalesced
    // count either way, so ratios are bit-identical. The relation is
    // vocabulary-sized — the bounded-model-state shape localCheckpoint
    // is for.
    val counts = TextDedup.maybeMaterialize(
      tok.groupBy("tok")
        .agg(sum(when(col("label") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("label") === 1, 1L).otherwise(0L)).as("c1")))
    // class token totals and vocabulary size aggregate the vocab-sized
    // materialized counts, not a second corpus pass
    smoothed(counts, "tok", docs.agg(
        sum(when(col(labelCol) === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("n1")),
      "NaiveBayes.train", "the training set")
  }

  /** The Laplace-smoothed (model, scalars) pair over per-token class
    * counts `counts` (key, c0, c1) and 1-row doc priors (n0, n1): the
    * model holds each token's ratio ln θ₁ − ln θ₀ keyed by `key`, the
    * scalars the unseen-token default ratio and the log prior. `who`
    * and `where` name the caller and its training data in the
    * single-class guard's message.
    */
  private def smoothed(counts: DataFrame, key: String, priors: DataFrame,
      who: String, where: String): (DataFrame, DataFrame) = {
    val scal = counts.agg(
        sum(col("c0")).as("tot0"),
        sum(col("c1")).as("tot1"),
        count(lit(1)).as("v"))
      .crossJoin(priors) // 1-row x 1-row scalar product
      .select(col("tot0"), col("tot1"), col("v"),
        (log((lit(1.0)) / (col("tot1") + col("v"))) -
          log(lit(1.0) / (col("tot0") + col("v")))).as("default_ratio"),
        // a single-class training set must fail LOUDLY, not return an
        // Infinity prior that silently degenerates every prediction.
        // The branch is CaseWhen-guarded (only the taken branch
        // evaluates) so the degenerate case raises assert_true's
        // message, not an upstream ANSI divide-by-zero whose text
        // never names the real problem
        when(col("n0") > 0 && col("n1") > 0,
            log(col("n1").cast("double") / col("n0")))
          .otherwise(assert_true(col("n0") > 0 && col("n1") > 0,
            lit(s"$who: both classes (0 and 1) must be present in $where"))
            .cast("double"))
          .as("log_prior"))
    val model = counts
      .crossJoin(broadcast(scal.select("tot0", "tot1", "v")))
      .select(col(key),
        (log((col("c1") + 1) / (col("tot1") + col("v"))) -
          log((col("c0") + 1) / (col("tot0") + col("v")))).as("ratio"))
    (model, scal.select("default_ratio", "log_prior"))
  }

  /** Per-(hashed token, class) count DELTA over a labeled batch —
    * ADDITIVE (corpus counts = Σ batch counts), so a stored generation
    * chain of these deltas folds by sum into exactly the sufficient
    * statistic [[train]] computes, with no retrain boundary. Keyed by
    * xxhash64 of the token: no string reaches a corpus-scale Exchange
    * or the state files (the posting-table discipline).
    */
  def countDelta(docs: DataFrame, textCol: String,
      labelCol: String): DataFrame =
    tokens(docs.select(col(labelCol).as("label"), col(textCol)), textCol)
      .groupBy(xxhash64(col("tok")).as("tk"))
      .agg(sum(when(col("label") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("c1"))

  /** Per-class doc-count DELTA (n0, n1) — additive, one row; an empty
    * batch contributes (0, 0), not nulls, so the fold's sum is total.
    */
  def priorDelta(docs: DataFrame, labelCol: String): DataFrame =
    docs.agg(
      coalesce(sum(when(col(labelCol) === 0, 1L).otherwise(0L)), lit(0L))
        .as("n0"),
      coalesce(sum(when(col(labelCol) === 1, 1L).otherwise(0L)), lit(0L))
        .as("n1"))

  /** Derive the (model, scalars) pair from FOLDED state counts — the
    * identical smoothing algebra as [[train]] (Laplace +1, the same
    * totals, the same vocabulary size, the same single-class guard), so
    * a state-served score IS a train-on-the-folded-corpus score. Inputs:
    * `counts` (tk, c0, c1) already summed over the generation chain,
    * `priors` a 1-row (n0, n1). The returned model is keyed by `tk`;
    * score with [[predictByKey]].
    */
  def modelFromCounts(counts: DataFrame,
      priors: DataFrame): (DataFrame, DataFrame) =
    smoothed(counts, "tk", priors,
      "NaiveBayes.modelFromCounts", "the folded state")

  /** [[predict]] against a tk-keyed model (the [[modelFromCounts]]
    * shape): per-doc term frequencies hash each token with the same
    * xxhash64 and left-join the BROADCAST model.
    */
  def predictByKey(docs: DataFrame, textCol: String, idCol: String,
      model: DataFrame, scalars: DataFrame): DataFrame =
    scored(tokens(docs.select(col(idCol), col(textCol)), textCol)
        .groupBy(col(idCol), xxhash64(col("tok")).as("tk"))
        .agg(count(lit(1)).as("tf")),
      "tk", idCol, model, scalars)

  /** Score docs with a trained (model, scalars) pair: per-doc term
    * frequencies left-join the BROADCAST model (unseen tokens take the
    * smoothed default ratio) and fold into the posterior log-odds;
    * `predicted` = 1 when the odds favor class 1. `idCol` keys the
    * output.
    */
  def predict(docs: DataFrame, textCol: String, idCol: String,
      model: DataFrame, scalars: DataFrame): DataFrame =
    scored(tokens(docs.select(col(idCol), col(textCol)), textCol)
        .groupBy(idCol, "tok").agg(count(lit(1)).as("tf")),
      "tok", idCol, model, scalars)

  /** The scoring tail over per-doc term frequencies `tf` (idCol, key,
    * tf) and a model keyed by `key`.
    */
  private def scored(tf: DataFrame, key: String, idCol: String,
      model: DataFrame, scalars: DataFrame): DataFrame =
    tf.join(broadcast(model), Seq(key), "left_outer")
      .crossJoin(broadcast(scalars))
      .groupBy(idCol)
      .agg((sum(col("tf") *
          coalesce(col("ratio"), col("default_ratio"))) +
        first("log_prior")).as("log_odds"))
      .select(col(idCol),
        when(col("log_odds") > 0, 1L).otherwise(0L).as("predicted"))
}
