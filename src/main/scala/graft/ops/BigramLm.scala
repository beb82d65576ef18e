package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Bigram language model with stupid-backoff-style penalties (the CCNet
  * perplexity-filter shape — Wenzek et al. 2020; backoff per Brants et
  * al. 2007; singleton pruning as in KenLM practice), as pure DataFrame
  * algebra shared by the in-query tier (q187) and the stored-state tier
  * (q196, folded per-batch count deltas in
  * [[graft.pipeline.CorpusBuild]]):
  *
  *  - MODEL: bigram counts (bk = xxhash64(w1, w2), c2) and unigram
  *    counts (w, c1) over the TRAIN split (q84's md5-bucket < 90) —
  *    ADDITIVE, so a per-batch delta chain folds by sum into exactly
  *    the one-shot tables (the [[NaiveBayes]]/[[Dsir]]
  *    sufficient-statistic property). The deltas are stored UNPRUNED:
  *    singleton pruning does NOT commute with the fold (a bigram seen
  *    once in each of two batches is a singleton per batch but a
  *    keeper overall), so pruning is applied AT READ by [[scores]].
  *  - SCORE: the three-branch integer-log2 cascade — (a) seen bigram:
  *    ⌊log2 c1(w1)⌋ − ⌊log2 c2(w1,w2)⌋; (b) unseen bigram, known w2:
  *    4 + ⌊log2 T⌋ − ⌊log2 c1(w2)⌋; (c) OOV w2: 4 + ⌊log2 T⌋ — no
  *    float ever crosses the oracle boundary.
  *
  * Two planted id-derived tokens per document (`zqx<doc_id>` — unique,
  * so pruning makes it OOV; `qv<doc_id%7>` — common, so its bigram
  * backs off to a known unigram) guarantee branches (b) and (c) fire
  * at every SF; both engines construct them identically (the
  * PiiQueries synthesis discipline).
  *
  * 100 TB: adjacent pairs form shuffle-free from slice/zip; the bigram
  * table is built and joined on an 8-byte xxhash64 key (never a string
  * pair through a corpus-scale Exchange); the unigram model and 1-row
  * total are vocab-sized/scalar broadcasts. One model-build shuffle
  * (or a folded state read) + one scoring join + one per-doc rollup.
  */
object BigramLm {

  /** The planted text: every document gains its two synthesis tokens. */
  private def plantedText: Column =
    concat(coalesce(col("text"), lit("")), lit(" zqx"),
      col("doc_id").cast("string"), lit(" qv"),
      (col("doc_id") % 7).cast("string"))

  private def toks: Column = TextAnalysis.tokens(plantedText)

  /** One row per adjacent token pair: (doc_id, is_train, w1, w2, bk).
    * Every document yields ≥ 1 pair (the planted tokens guarantee ≥ 2
    * tokens), so plain `explode` loses nothing.
    */
  def pairs(docs: DataFrame): DataFrame = {
    val t = toks
    val n = greatest(size(t) - 1, lit(0))
    docs.select(col("doc_id"),
        (Splits.bucket(col("doc_id")) < 90).as("is_train"),
        explode(zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("doc_id"), col("is_train"),
        col("p.w1").as("w1"), col("p.w2").as("w2"),
        xxhash64(col("p.w1"), col("p.w2")).as("bk"))
  }

  /** UNPRUNED (bk, c2) bigram counts over `docs`' train split — the
    * additive delta a state generation stores (pruning at read, see
    * the class doc).
    *
    * Accepted tradeoff: grouping on bk alone means a 64-bit xxhash64
    * collision between two distinct bigrams would merge their counts
    * (the q101 keys-through-Exchanges discipline), and the stored-state
    * tier persists the merged table for the life of a state dir. At
    * ~2⁻⁶⁴ per pair the expected collision count stays ≪ 1 below
    * ~10⁹ distinct bigrams, and a collision shifts one count across a
    * log2 boundary at worst — not a silent corruption class worth a
    * string re-key through a corpus-scale shuffle.
    */
  def bigramDelta(docs: DataFrame): DataFrame =
    pairs(docs).filter(col("is_train"))
      .groupBy("bk").agg(count(lit(1)).as("c2"))

  /** UNPRUNED (w, c1) unigram counts over `docs`' train split. The
    * unigram model keys on the token STRING (it joins back onto the
    * scored pairs by w1/w2); it is vocab-bounded and broadcast, never
    * a corpus-scale Exchange key.
    */
  def unigramDelta(docs: DataFrame): DataFrame =
    docs.filter(Splits.bucket(col("doc_id")) < 90)
      .select(explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c1"))

  /** The perplexity readout (doc_id, n_pairs, pplx_sum, avg_q6) —
    * identical whether the count tables come from the in-query
    * aggregates or a folded state chain. Singleton pruning (c2 ≥ 2,
    * c1 ≥ 2) is applied HERE, at read, because it does not commute
    * with the delta fold.
    */
  def scores(pairsAll: DataFrame, bigramCounts: DataFrame,
      unigramCounts: DataFrame): DataFrame = {
    val big = bigramCounts.filter(col("c2") >= 2L)
    val uni = unigramCounts.filter(col("c1") >= 2L)
    val total = uni.agg(sum(col("c1")).as("t"))
    pairsAll
      .join(big, Seq("bk"), "left")
      .join(broadcast(uni.select(col("w").as("w1"), col("c1").as("c1w1"))),
        Seq("w1"), "left")
      .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c1w2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(total)) // 1-row scalar: the model's token total
      .select(col("doc_id"),
        when(col("c2").isNotNull,
          TextAnalysis.floorLog2(col("c1w1")) -
            TextAnalysis.floorLog2(col("c2")))
        .when(col("c1w2").isNotNull,
          lit(4L) + TextAnalysis.floorLog2(col("t")) -
            TextAnalysis.floorLog2(col("c1w2")))
        .otherwise(lit(4L) + TextAnalysis.floorLog2(col("t"))).as("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("q")).as("pplx_sum"))
      .select(col("doc_id"), col("n_pairs"), col("pplx_sum"),
        TextAnalysis.intDiv(col("pplx_sum") * 1000000L, col("n_pairs"))
          .as("avg_q6"))
  }
}
