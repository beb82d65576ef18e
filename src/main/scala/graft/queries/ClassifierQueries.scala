package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed-trained document classification ([[graft.ops.NaiveBayes]])
  * — the quality-classifier tier: train on a labeled split, score the
  * held-out split, all in DataFrame algebra (one training shuffle, a
  * broadcast model join to predict).
  *
  * Labels are PLANTED deterministically (the media-tier synthesis
  * discipline): class id%2 appends marker tokens (` alpha`×k for class
  * 0, ` gamma`×k for class 1, k = 1 + id%3) to the document text, so
  * the signal is learnable, every held-out doc carries ≥ 1 marker
  * (posterior margins are O(1) log-units — float noise between engines
  * is 1e-9-scale and can never flip a prediction), and the DuckDB
  * oracle can re-train and re-score the identical model. Outputs are
  * integer-only (predicted / actual / correct) so the cross-engine
  * hash is exact despite log-float scoring.
  */
object ClassifierQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The planted corpus: augmented text, binary label, 80/20 split.
    * Shared with the stored-state tier ([[graft.pipeline.CorpusBuild]]
    * `trackClassifier`): labels are deterministic functions of doc_id,
    * so ingest-side count deltas and this in-query synthesis can never
    * disagree about a document's class.
    */
  private[graft] def planted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 2 === 0,
          expr("repeat(' alpha', CAST(doc_id % 3 + 1 AS INT))"))
        .otherwise(
          expr("repeat(' gamma', CAST(doc_id % 3 + 1 AS INT))")))
        .as("aug"),
      (col("doc_id") % 2).as("label"),
      (col("doc_id") % 10 >= 8).as("is_test"))

  /** q174 — train multinomial NB on the 80% split, predict the held-out
    * 20%: per-doc predicted vs actual plus a correctness flag. The
    * oracle re-derives the whole pipeline — tokenize, count, smooth,
    * score, argmax — in SQL, so a smoothing slip, a wrong total, or a
    * mishandled unseen token flips a prediction and hash-mismatches.
    */
  val q174_nb_classifier: Q = (s, d) => {
    val base = planted(Tables.documents(s, d))
    val (model, scal) = graft.ops.NaiveBayes.train(
      base.filter(!col("is_test")), "aug", "label")
    heldOutScores(base)(
      graft.ops.NaiveBayes.predict(_, "aug", "doc_id", model, scal))
  }

  /** The held-out readout of a [[planted]] corpus: `score` maps the test
    * split to (doc_id, predicted), and each doc reads predicted vs actual
    * plus a correctness flag. Shared by q174 (in-query model) and
    * [[graft.pipeline.CorpusBuild.stateNbScores]] (state-derived model).
    */
  private[graft] def heldOutScores(base: DataFrame)(
      score: DataFrame => DataFrame): DataFrame =
    score(base.filter(col("is_test")))
      .join(base.select("doc_id", "label"), Seq("doc_id"))
      .select(col("doc_id"), col("predicted"),
        col("label").as("actual"),
        when(col("predicted") === col("label"), 1L).otherwise(0L)
          .as("correct"))

  /** q174's train/smooth/score algebra as oracle CTEs: the planted
    * corpus `a`, its tokens `tok`, the train-split `counts`, the scalar
    * row `scal`, the smoothed per-token `model` ratios, and `score`
    * (doc_id, log_odds) for the docs whose term frequencies `tfWhere`
    * keeps. q174Sql and [[nbScoreAllSql]] read `score`. `||` stays at
    * line ends so an outer stripMargin cannot eat it.
    */
  private def nbLogOddsSql(tfWhere: String): String =
    s"""WITH a AS (
      |  SELECT doc_id,
      |    coalesce(text, '') ||
      |      CASE WHEN doc_id % 2 = 0
      |        THEN repeat(' alpha', CAST(doc_id % 3 + 1 AS INTEGER))
      |        ELSE repeat(' gamma', CAST(doc_id % 3 + 1 AS INTEGER)) END
      |      AS aug,
      |    doc_id % 2 AS label,
      |    doc_id % 10 >= 8 AS is_test
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, label, is_test, t.tok
      |  FROM a, unnest(string_split(aug, ' ')) AS t(tok)
      |  WHERE t.tok <> ''),
      |counts AS (
      |  SELECT label, tok, count(*) AS c FROM tok
      |  WHERE NOT is_test GROUP BY 1, 2),
      |scal AS (
      |  SELECT
      |    (SELECT sum(c) FROM counts WHERE label = 0) AS tot0,
      |    (SELECT sum(c) FROM counts WHERE label = 1) AS tot1,
      |    (SELECT count(DISTINCT tok) FROM counts) AS v,
      |    (SELECT count(*) FROM a WHERE NOT is_test AND label = 0) AS n0,
      |    (SELECT count(*) FROM a WHERE NOT is_test AND label = 1) AS n1),
      |toks AS (SELECT DISTINCT tok FROM counts),
      |model AS (
      |  SELECT toks.tok,
      |    ln((coalesce(c1.c, 0) + 1) / (s.tot1 + s.v))
      |      - ln((coalesce(c0.c, 0) + 1) / (s.tot0 + s.v)) AS ratio
      |  FROM toks
      |  CROSS JOIN scal s
      |  LEFT JOIN counts c0 ON c0.label = 0 AND c0.tok = toks.tok
      |  LEFT JOIN counts c1 ON c1.label = 1 AND c1.tok = toks.tok),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS tf FROM tok
      |  $tfWhere GROUP BY 1, 2),
      |score AS (
      |  SELECT tf.doc_id,
      |    SUM(tf.tf * coalesce(m.ratio,
      |      ln(1.0 / (s.tot1 + s.v)) - ln(1.0 / (s.tot0 + s.v))))
      |      + ln(CAST(s.n1 AS DOUBLE) / s.n0) AS log_odds
      |  FROM tf
      |  CROSS JOIN scal s
      |  LEFT JOIN model m ON m.tok = tf.tok
      |  GROUP BY tf.doc_id, s.tot0, s.tot1, s.v, s.n0, s.n1)""".stripMargin

  val q174Sql: String =
    s"""${nbLogOddsSql("WHERE is_test")}
      |SELECT a.doc_id,
      |  CAST(CASE WHEN sc.log_odds > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS predicted,
      |  CAST(a.label AS BIGINT) AS actual,
      |  CAST(CASE WHEN (CASE WHEN sc.log_odds > 0 THEN 1 ELSE 0 END)
      |      = a.label THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM a JOIN score sc ON sc.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin

  /** The TRAIN-split rows a state ingest folds counts over: (doc_id,
    * aug, label) for the 80% split of a batch.
    */
  private[graft] def plantedTrain(docs: DataFrame): DataFrame =
    planted(docs).filter(!col("is_test")).select("doc_id", "aug", "label")

  /** q180 — q174's classification served from STORED STATE: the
    * per-(token, class) count deltas folded over the ingest generation
    * chain are the model's sufficient statistic (counts are additive,
    * so there is no retrain boundary — the state model is ALWAYS
    * exactly the model q174 trains on the folded corpus); the held-out
    * split scores against the broadcast state-derived model with zero
    * training at query time. Oracle: q174's SQL verbatim — a wrong
    * fold, a smoothing slip, or a lost batch flips a prediction and
    * hash-mismatches.
    */
  val q180_state_nb_classifier: Q = (s, d) =>
    graft.pipeline.CorpusBuild.stateNbScores(s,
      TokenizerQueries.ensurePostingState(s, d), Tables.documents(s, d))

  /** Spliceable oracle fragment: (doc_id, predicted) for EVERY document
    * — q174's train/smooth/score algebra with the held-out restriction
    * removed from the scoring side (the release card's quality column
    * screens the whole corpus, not just the test split). Nested inside
    * another query's CTE parens (the q179Sql discipline); `||` stays at
    * line ends so an outer stripMargin cannot eat it.
    */
  private[graft] val nbScoreAllSql: String =
    s"""${nbLogOddsSql("")}
      |SELECT doc_id,
      |  CAST(CASE WHEN log_odds > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS predicted
      |FROM score""".stripMargin

  /** q191 — q188's DSIR importance weights served from STORED STATE:
    * the per-bucket (target, raw) count deltas folded over the ingest
    * generation chain ARE the model (counts are additive — no retrain
    * boundary, the same sufficient-statistic property q180 exploits),
    * and every document scores against the broadcast folded table with
    * zero model-building at query time. Oracle: q188's SQL verbatim —
    * a wrong fold, a lost batch, or a double-counted replay shifts a
    * bucket count across a log2 boundary and hash-mismatches.
    */
  val q191_state_dsir: Q = (s, d) =>
    graft.pipeline.CorpusBuild.stateDsirScores(s,
      TokenizerQueries.ensurePostingState(s, d), Tables.documents(s, d))

  /** q196 — q187's bigram-LM perplexity served from STORED STATE: the
    * UNPRUNED bigram/unigram count deltas folded over the ingest
    * generation chain are the model's sufficient statistic (counts are
    * additive — no retrain boundary, the q180/q191 property), with
    * KenLM-style singleton pruning applied AT READ over the fold —
    * pruning does not commute with the fold, so a per-batch prune
    * would silently drop every bigram whose occurrences straddle a
    * generation boundary (BigramLmSpec pins this). Oracle: q187's SQL
    * verbatim — a wrong fold, a pruning slip, or a lost batch shifts a
    * count across a log2 boundary and hash-mismatches.
    */
  val q196_state_perplexity: Q = (s, d) =>
    graft.pipeline.CorpusBuild.stateBigramScores(s,
      TokenizerQueries.ensurePostingState(s, d), Tables.documents(s, d))

  val queries: Map[String, Q] = Map(
    "q174_nb_classifier" -> q174_nb_classifier,
    "q180_state_nb_classifier" -> q180_state_nb_classifier,
    "q191_state_dsir" -> q191_state_dsir,
    "q196_state_perplexity" -> q196_state_perplexity)

  val oracleSql: Map[String, String] = Map(
    "q174_nb_classifier" -> q174Sql,
    "q180_state_nb_classifier" -> q174Sql,
    // the state-served weights must reproduce q188's in-query model
    // EXACTLY — same oracle, so the driver hash-checks the fold
    "q191_state_dsir" -> FilterQueries.q188Sql,
    // likewise: the state-served perplexity must reproduce q187's
    // in-query model exactly, pruning-at-read included
    "q196_state_perplexity" -> FilterQueries.q187Sql)
}
