package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.CorpusBuild

/** Streaming document ingest: the stored-state incremental corpus build
  * ([[CorpusBuild.ingestBatch]]) driven by Structured Streaming — the
  * production shape where "a batch" is whatever the file source delivers
  * per micro-batch rather than a hand-scheduled daily job.
  *
  * Semantics stack (SURVEY §2.8's incremental contract, streaming-native):
  *  - the FILE SOURCE + checkpoint gives exactly-once *file* accounting
  *    (each lake file enters exactly one micro-batch, replayed only after
  *    a crash between fold and offset commit);
  *  - [[CorpusBuild.ingestBatch]] inside `foreachBatch` is REPLAY-
  *    IDEMPOTENT: a batch entirely at-or-below the stored max id is the
  *    at-least-once redelivery case and skips as a no-op, so
  *    crash-recovery re-runs converge instead of double-folding or dying;
  *  - a PARTIAL id overlap still fails loudly — that is out-of-order
  *    data violating the append-only contract, not redelivery.
  *
  * Scale notes: per-micro-batch cost is ingestBatch's — proportional to
  * the batch (digest probe, new-touching LSH candidates, quotient CC),
  * never the standing corpus; state lives in the versioned parquet
  * generations, NOT in Spark streaming state, so executor loss costs
  * nothing and the stream can restart anywhere the state dir is visible.
  */
object DocStream {

  /** File-source stream over a documents lake directory (the
    * [[graft.queries.Tables.documents]] schema, schema-declared — no
    * inference on a stream).
    */
  def readDocumentStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** Fold every micro-batch into the stored corpus state; processes all
    * currently-available files, then stops (Trigger.AvailableNow — the
    * scheduled-ingest shape; pass a ProcessingTime trigger for a
    * continuously-running daemon).
    *
    * @param vecsFor with cfg.trackCentroids, maps a doc micro-batch to
    *        its embedding rows (vec_id, embedding) — in production a
    *        co-partitioned embeddings lake keyed by the same id range;
    *        the vec batch commits in the SAME generation as its docs
    * @param onBatchOverlap when set (and the dir tracks fingerprints),
    *        the incoming batch is screened against the STANDING corpus
    *        BEFORE it folds in — [[CorpusBuild.stateWinnowOverlap]]'s
    *        contamination/quote detection at per-batch cost — and the
    *        (id_a corpus doc, id_b batch doc, n_shared) rows are pushed
    *        to this callback (quarantine queue, alert, audit log); the
    *        ingest itself proceeds regardless, keeping screening a
    *        read-side policy rather than a fold-side mutation
    * @param onCrossSplit when set, the same pre-fold screen restricted
    *        to pairs CROSSING a train/val/test boundary
    *        ([[CorpusBuild.stateSplitLeakage]] — the q166 composition,
    *        split labels computed on the join inputs): the q159
    *        split-leakage audit served at ingest time, so a test-split
    *        doc quoting standing train data surfaces before it ever
    *        folds in. Rows are (id_a, id_b, n_shared, split_a, split_b)
    * @param onPii when set, every micro-batch is PII-screened on
    *        arrival ([[graft.queries.PiiQueries.screened]] — real
    *        detection over the batch text, nothing planted) and the
    *        rows with any hit (doc_id + typed counts) are pushed to
    *        this callback (quarantine/audit), the same policy shape as
    *        onBatchOverlap
    * @param onQuality when set (and the dir tracks classifier counts),
    *        every micro-batch is scored against the STANDING corpus's
    *        stored NB model BEFORE it folds in
    *        ([[CorpusBuild.stateNbScreen]] — the state-derived model
    *        broadcasts; zero training happens at the door) and the
    *        per-doc (doc_id, predicted) rows are pushed to this
    *        callback (routing, quarantine, audit) — read-side policy,
    *        same shape as onBatchOverlap. The very first batch has no
    *        standing model and skips the screen; its own counts fold
    *        in and every later batch is screened
    * @param onDsir when set (and the dir tracks DSIR counts), every
    *        micro-batch's importance weights are scored against the
    *        STANDING folded bucket counts BEFORE the batch folds in
    *        ([[CorpusBuild.stateDsirScores]] — the ≤256-row model
    *        broadcasts; zero model-building at the door) and the
    *        per-doc (doc_id, n_bigrams, dsir_sum, avg_shift_q6,
    *        selected) rows are pushed to this callback — the
    *        data-selection door: arriving documents carry their
    *        target-resemblance weight for routing/mixing policy.
    *        First-batch semantics as onQuality
    * @param onPerplexity when set (and the dir tracks bigram-LM
    *        counts), every micro-batch is perplexity-scored against
    *        the STANDING folded bigram/unigram counts BEFORE the batch
    *        folds in ([[CorpusBuild.stateBigramScores]] — singleton
    *        pruning applied at read over the fold, the model tables
    *        broadcast, zero model-building at the door) and the
    *        per-doc (doc_id, n_pairs, pplx_sum, avg_q6) rows are
    *        pushed to this callback — the CCNet-shape quality door:
    *        arriving documents carry their LM-fluency bucket for
    *        filtering/mixing policy. First-batch semantics as
    *        onQuality
    * @param onCdc when set (and the dir tracks the CDC chunk index),
    *        every micro-batch is chunk-audited against the STANDING
    *        eval-split chunk index BEFORE the batch folds in
    *        ([[CorpusBuild.stateCdcScreen]] — the batch chunks in one
    *        rolling-hash pass, the eval side reads from state) and the
    *        rows with any eval-shared chunk (doc_id, n_chunks,
    *        n_eval_shared, shared_ppm) are pushed to this callback —
    *        the chunk-grained decontamination door, the third
    *        granularity beside token n-grams and winnow fingerprints
    *        (onCrossSplit). First-batch semantics as onQuality
    * @param redactPii when true, the batch FOLDS WITH REDACTED TEXT —
    *        unlike the read-side screens this is deliberately a
    *        fold-side mutation: the production contract that raw PII
    *        never enters the corpus state (digests, fingerprints, and
    *        postings are all built from the redacted text, so nothing
    *        derived can leak it either). `n_chars` keeps the source
    *        value — it is arrival metadata, not derived state
    */
  def ingestToState(docs: DataFrame, stateDir: String,
      checkpointDir: String,
      cfg: CorpusBuild.Config = CorpusBuild.Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      vecsFor: DataFrame => DataFrame = null,
      onBatchOverlap: DataFrame => Unit = null,
      onCrossSplit: DataFrame => Unit = null,
      onPii: DataFrame => Unit = null,
      onQuality: DataFrame => Unit = null,
      onDsir: DataFrame => Unit = null,
      onPerplexity: DataFrame => Unit = null,
      onCdc: DataFrame => Unit = null,
      redactPii: Boolean = false): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val raw = batch.toDF()
          // PII screen at the door: detect on the ARRIVING text (the
          // winnow screens below run against what will fold — if
          // redaction is on, that is the redacted text, so stored
          // fingerprints and this screen agree by construction)
          val b =
            if (onPii != null || redactPii) {
              val s = graft.queries.PiiQueries.screened(raw, "text")
              if (onPii != null) onPii(s
                .filter(col("n_emails") + col("n_ipv4") + col("n_phones") > 0)
                .select("doc_id", "n_emails", "n_ipv4", "n_phones"))
              if (redactPii)
                s.withColumn("text", col("redacted"))
                  .select(raw.columns.map(col).toSeq: _*)
              else raw
            } else raw
          // screen FIRST: batch-vs-standing-corpus by definition means
          // before this batch's own fingerprints join the corpus side
          // (the very first batch has no standing corpus to screen
          // against — nothing to quote from an empty corpus)
          if ((onBatchOverlap != null || onCrossSplit != null) &&
              cfg.trackFingerprints &&
              CorpusBuild.hasState(b.sparkSession, stateDir)) {
            if (onBatchOverlap != null) onBatchOverlap(
              CorpusBuild.stateWinnowOverlap(b.sparkSession, stateDir, b))
            if (onCrossSplit != null) onCrossSplit(
              CorpusBuild.stateSplitLeakage(b.sparkSession, stateDir, b))
          }
          if (onQuality != null && cfg.trackClassifier &&
              CorpusBuild.hasState(b.sparkSession, stateDir)) {
            onQuality(CorpusBuild.stateNbScreen(b.sparkSession, stateDir, b))
          }
          if (onDsir != null && cfg.trackDsir &&
              CorpusBuild.hasState(b.sparkSession, stateDir)) {
            onDsir(CorpusBuild.stateDsirScores(b.sparkSession, stateDir, b))
          }
          if (onPerplexity != null && cfg.trackBigramLm &&
              CorpusBuild.hasState(b.sparkSession, stateDir)) {
            onPerplexity(
              CorpusBuild.stateBigramScores(b.sparkSession, stateDir, b))
          }
          if (onCdc != null && cfg.trackCdc &&
              CorpusBuild.hasState(b.sparkSession, stateDir)) {
            onCdc(CorpusBuild.stateCdcScreen(b.sparkSession, stateDir, b)
              .filter(col("n_eval_shared") > 0))
          }
          CorpusBuild.ingestBatch(stateDir, b, cfg,
            if (vecsFor == null) null else vecsFor(b))
          () // manifest readout is pull-based (stateManifest), not pushed
        }
      }
      .start()
}
