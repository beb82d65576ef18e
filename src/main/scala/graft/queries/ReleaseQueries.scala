package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The release card — the single relation a dataset release review
  * reads: per source, raw and dedup-kept docs, PII exposure, distinct
  * planted domains, quality-classifier and DSIR passes, and media
  * quarantine counts. The card is written once, as [[releaseCard]]
  * over four per-document tier inputs (near-dup cluster labels, NB
  * quality scores, DSIR selection, media decode readout); q179 and
  * q206 are two bindings of those inputs — q179 derives every tier
  * in-query, q206 serves each from stored state or a memo — so the
  * two cards cannot drift apart in how they roll the tiers up.
  *
  * 100 TB: one document scan carries the PII/URL columns; the tiers
  * join on 8-byte doc ids; one map-side-combined rollup shuffle with
  * |sources| output rows.
  */
object ReleaseQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q179 — per-source release card: raw docs, dedup-kept docs, PII
    * exposure (docs with any hit + total typed hits), distinct planted
    * domains, quality-classifier passes (every doc scored by the NB
    * model trained on the 80% split — q174's algebra over the whole
    * corpus), DSIR target-resemblance passes (q188's importance sign
    * test — the data-selection tier), and media quarantine counts (the
    * q178 corrupt-PNG lake REALLY decoded, quarantined rows counted).
    * The oracle re-derives the ENTIRE six-tier composition —
    * recursive-CTE dedup clusters with the longest-wins survivor rule,
    * the PII counts, the domain extraction, the full NB train/score,
    * the full DSIR model + sign test, and the corruption model's
    * quarantine prediction — so a drift in any one tier breaks the
    * card.
    */
  val q179_release_card: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // kept tier: q74's labeling from the shared cluster memo
    val clusters = graft.ops.TextDedup.dedupClusterRelationShared(
      docs, d, "doc_id", "text", "lang", n = 3, threshold = 0.5)
    // quality tier: q174's model, scoring EVERY doc (the card screens
    // the whole corpus, not just the held-out split)
    val base = ClassifierQueries.planted(docs)
    val (model, scal) = graft.ops.NaiveBayes.train(
      base.filter(!col("is_test")), "aug", "label")
    val qual = graft.ops.NaiveBayes.predict(base, "aug", "doc_id",
      model, scal)
    // data-selection tier: q188's DSIR importance sign test — how much
    // of each source leans target-ward under the standing contrast
    val dsir = FilterQueries.q188_dsir_weights(s, d)
    // media tier: the q178 corrupt lake genuinely decoded — the
    // quarantine flag comes from the PNG chunk walk, not the id rule
    val quar = graft.multimodal.Multimodal.tryDecodeImageStats(
        graft.multimodal.Multimodal.corruptedPngFromText(
          s, docs, "doc_id", "text"))
      .toDF()
    releaseCard(docs, clusters, qual, dsir, quar)
  }

  /** The card body shared by q179 (every tier derived in-query) and
    * q206 (every tier served from stored state or a memo). The inputs
    * are the four tiers, each keyed by document:
    *  - `clusters`: (id, component) near-dup labels; the kept tier is
    *    q74's longest-wins survivor of each component;
    *  - `qual`: (doc_id, predicted) NB quality screen;
    *  - `dsir`: (doc_id, selected, ...) DSIR sign test;
    *  - `quar`: (media_id, decode_ok, ...) media decode readout.
    * PII hits and domains are map-only planted algebra over `docs`.
    */
  private def releaseCard(docs: DataFrame, clusters: DataFrame,
      qual: DataFrame, dsir: DataFrame, quar: DataFrame): DataFrame = {
    val kept = graft.ops.Dedupe.firstRowPerKey(
        clusters.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id"),
        keys = Seq("component"), order = Seq(col("n_chars").desc, col("id")))
      .select(col("id").as("doc_id"), lit(1L).as("is_kept"))
    val screened = PiiQueries.screened(
      docs.withColumn("aug", PiiQueries.plantedText), "aug")
    val withUrl = screened
      .withColumn("u", regexp_extract(UrlQueries.plantedText,
        UrlQueries.UrlRe, 0))
      .withColumn("domain", regexp_extract(col("u"), "https?://([^/]+)", 1))
    withUrl
      .join(kept, Seq("doc_id"), "left_outer")
      .join(qual, Seq("doc_id"))
      .join(dsir.select(col("doc_id"), col("selected")), Seq("doc_id"))
      .join(quar.select(col("media_id").as("doc_id"), col("decode_ok")),
        Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(coalesce(col("is_kept"), lit(0L))).as("kept_docs"),
        sum(when(col("n_emails") + col("n_ipv4") + col("n_phones") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum(col("n_emails") + col("n_ipv4") + col("n_phones"))
          .as("pii_total"),
        countDistinct("domain").as("distinct_domains"),
        sum(col("predicted")).as("quality_pass"),
        sum(col("selected")).as("dsir_selected"),
        sum(when(col("decode_ok") === 0, 1L).otherwise(0L))
          .as("media_quarantined"))
  }

  val q179Sql: String = {
    val q74Inner = PrepQueries.q74Sql
    val nbAll = ClassifierQueries.nbScoreAllSql
    val q188Inner = FilterQueries.q188Sql
    s"""WITH k AS (
       |  SELECT survivor_id FROM ( $q74Inner ) t),
       |q AS (
       |  SELECT doc_id, predicted FROM ( $nbAll ) z),
       |w AS (
       |  SELECT doc_id, selected FROM ( $q188Inner ) y),
       |p AS (
       |  SELECT doc_id, source,
       |    ${PiiQueries.plantedSql} AS aug,
       |    ${UrlQueries.plantedSql} AS aug_u
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source,
       |    len(regexp_extract_all(aug, '${PiiQueries.EmailRe}'))
       |      + len(regexp_extract_all(aug, '${PiiQueries.Ipv4Re}'))
       |      + len(regexp_extract_all(aug, '${PiiQueries.PhoneRe}')) AS np,
       |    regexp_extract(regexp_extract(aug_u, '${UrlQueries.UrlRe}'),
       |      'https?://([^/]+)', 1) AS domain
       |  FROM p)
       |SELECT r.source,
       |  CAST(count(*) AS BIGINT) AS docs,
       |  CAST(SUM(CASE WHEN k.survivor_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS kept_docs,
       |  CAST(SUM(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_pii,
       |  CAST(SUM(np) AS BIGINT) AS pii_total,
       |  CAST(count(DISTINCT domain) AS BIGINT) AS distinct_domains,
       |  CAST(SUM(q.predicted) AS BIGINT) AS quality_pass,
       |  CAST(SUM(w.selected) AS BIGINT) AS dsir_selected,
       |  CAST(SUM(CASE WHEN r.doc_id % 13 = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS media_quarantined
       |FROM r
       |LEFT JOIN k ON k.survivor_id = r.doc_id
       |JOIN q ON q.doc_id = r.doc_id
       |JOIN w ON w.doc_id = r.doc_id
       |GROUP BY r.source ORDER BY r.source""".stripMargin
  }

  /** q206 — the six-tier release card SERVED FROM STORED STATE and the
    * pinned memos: q179 re-derives every tier per run; this binds
    * [[releaseCard]]'s tier inputs to stored folds and memos instead,
    * so the IDENTICAL card costs zero model building and zero media
    * decoding at query time — the q196/q197/q198/q203 discipline
    * applied to the engine's flagship composition:
    *
    *  - dedup survivors: the STORED incremental-CC labeling
    *    ([[graft.pipeline.CorpusBuild.stateReleaseCc]],
    *    cfg.trackReleaseCc — q74's labeling folded per ingest through
    *    the quotient-graph merge), so even a COLD session serves the
    *    kept tier as one delta scan + min-combine with no pair
    *    generation anywhere in the plan;
    *  - quality: [[graft.pipeline.CorpusBuild.stateNbScreen]] — the NB
    *    model derived from the FOLDED (token, class) count deltas
    *    (counts are additive sufficient statistics, so the state model
    *    IS q174's model over the folded corpus), scoring every doc
    *    against the broadcast table with no train aggregate anywhere
    *    in the plan (PlanSpec pins the absence);
    *  - DSIR: [[graft.pipeline.CorpusBuild.stateDsirScores]] — the
    *    folded 256-bucket table, zero model work;
    *  - media quarantine: the [[SharedReadouts.quarantine]] memo (q178's decode
    *    readout — a join, not a re-decoded lake);
    *  - PII + domains: map-only planted algebra riding the one
    *    document scan the card needs anyway.
    *
    * Oracle: q179's SQL verbatim — a stale fold, a wrong memo
    * generation, or a lost batch shifts a per-source count and
    * hash-mismatches.
    *
    * 100 TB: one document scan (PII/URL/NB/DSIR scoring all ride it),
    * two broadcast model joins from vocab-/bucket-bounded folds, two
    * doc-count memo joins, one |sources|-row rollup.
    */
  val q206_state_release_card: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dir = TokenizerQueries.ensurePostingState(s, d)
    releaseCard(docs,
      // kept tier: the STORED incremental-CC labeling (q103's fold
      // family, cfg.trackReleaseCc) — zero pair generation even on a
      // COLD session (the shared memo q56 publishes would rebuild
      // pair+CC when cold)
      graft.pipeline.CorpusBuild.stateReleaseCc(s, dir),
      // quality tier: every doc scored against the state-derived model
      graft.pipeline.CorpusBuild.stateNbScreen(s, dir, docs),
      // data-selection tier: the folded DSIR bucket table
      graft.pipeline.CorpusBuild.stateDsirScores(s, dir, docs),
      // media tier: q178's decode readout served from the pinned memo
      SharedReadouts.quarantine.serve((s, d)))
  }

  val queries: Map[String, Q] = Map(
    "q179_release_card" -> q179_release_card,
    "q206_state_release_card" -> q206_state_release_card)

  val oracleSql: Map[String, String] = Map(
    "q179_release_card" -> q179Sql,
    // the state-served card must reproduce q179's in-query composition
    // EXACTLY — same oracle, so the driver hash-checks every fold and
    // memo generation behind the six tiers
    "q206_state_release_card" -> q179Sql)
}
