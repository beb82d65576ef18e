package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.ops.{Components, Dedupe, Mixing, Packing, Splits, TextDedup}
import graft.queries.Tables

/** The end-to-end corpus build — the LLM-side counterpart of JobsPipeline:
  * what a training-data team actually runs, composed entirely from the
  * library's oracle-checked operators, as one declarative dataflow:
  *
  *  1. quality  — min-length / min-token / integer-ppm score filters (q90's
  *                stage flags)
  *  2. exact    — one survivor per normalized content fingerprint
  *                ([[TextDedup.exactDedup]]; q17/q24)
  *  3. near-dup — MinHash-LSH candidate pairs (q19) → alternating-star
  *                connected components (diameter-robust, O(log n) rounds —
  *                a chain of incrementally-edited near-dup docs must not
  *                abort the build) → longest-doc survivor per cluster
  *                ([[Dedupe.firstRowPerKey]]; q56/q74)
  *  4. split    — deterministic md5-bucket train/val/test assignment
  *                ([[Splits]] — the same arithmetic q84 oracle-checks)
  *  5. write    — parquet partitioned by split + a per-split manifest
  *                (doc/token counts — q82's rollup shape)
  *  6. feed     — (optional, [[trainFeed]]) temperature-mix the train
  *                split's sources and place every mixed doc into its
  *                2048-token training sequence in deterministic shuffled
  *                order ([[Mixing]]/[[Packing]] — q99/q100's operators)
  *
  * Every stage is a pure DataFrame transform and every shuffle is keyed
  * (digests, shingle buckets, component labels, split values), so the same
  * plan runs at any scale; the only driver-side loop is the CC fixpoint
  * (one bounded job per round, no row data on the driver). When a write
  * target is given, the manifest aggregates the parquet just written
  * instead of re-running the dedup DAG a second time.
  */
object CorpusBuild {

  final case class Config(
      minChars: Long = 100L,
      minTokens: Long = 20L,
      minQualityPpm: Long = 400000L,
      shingleN: Int = 3,
      numHashes: Int = 48,
      bands: Int = 8,
      jaccardThreshold: Double = 0.5,
      ccMaxIter: Int = 35,
      // when true, each ingested generation also stores ADDITIVE count
      // deltas — the k-shingle span-count table (q101's corpus-wide
      // duplicate statistics) and the bigram count table (q107's "LM") —
      // over the RAW batch, folding by sum on read; must be set for the
      // whole life of a state dir
      trackCounts: Boolean = false,
      // when true, each generation also stores the batch's POSTING deltas
      // (xxhash64 term key × doc × tf) and doc lengths — incremental
      // inverted-index maintenance: keyword/BM25 statistics served from
      // state ([[stateKeywordCore]]/[[stateBm25TopK]]) without rescanning
      // the corpus; per-batch write cost ∝ the batch's tokens. Same
      // whole-life-of-the-dir contract as trackCounts.
      trackPostings: Boolean = false,
      // when true, each generation also stores the batch's POSITIONAL
      // posting rows (xxhash64 term key × doc × token position) — the
      // index tier phrase queries need: adjacency ("p1 immediately before
      // p2") is a position-arithmetic join over two term filters of the
      // stored table ([[statePhraseCount]]), never a corpus scan. Docs are
      // batch-disjoint and append-only, so the fold is a plain union; the
      // per-batch write cost ∝ the batch's tokens (same bound as
      // trackPostings, one row per occurrence instead of one per
      // (term, doc)). Whole-life-of-the-dir contract as above.
      trackPositions: Boolean = false,
      // the near-dup LSH + quotient-CC tier of ingest; disable for state
      // dirs maintained purely for count/posting statistics (dedup handled
      // elsewhere) — every exact-dedup survivor then forms its own
      // component, and ingest cost is scan-shaped
      nearDupTier: Boolean = true,
      // when true, each generation also folds the RELEASE-CARD cluster
      // labeling — q74's semantics exactly: lang-blocked EXACT 3-gram
      // Jaccard >= 0.5 over EVERY ingested doc (no quality floor, no
      // exact-dedup collapse; null-lang docs stay singletons, matching
      // the block-equality join). Stored as `/ccdocs` (the slim doc
      // columns the pair tier needs) + `/cclabels` deltas via the
      // quotient-graph merge; pairs per batch come from the
      // prefix-filtered exact tier restricted to candidates TOUCHING the
      // batch ([[TextDedup.ngramJaccardPairsTouching]] — recall exactly
      // 1, standing×standing closure already in the stored labels). The
      // release card's kept tier then serves from the fold with zero
      // pair generation at query time. Whole-life-of-the-dir contract.
      trackReleaseCc: Boolean = false,
      // when true, each generation also packs the RAW batch incrementally
      // (Packing.packSequencesIncremental against the stored per-source
      // totals) and stores the batch's PLACEMENT delta + the updated
      // totals snapshot: the training feed is maintained at per-batch
      // cost, the standing corpus never re-packed. Batch id-monotonicity
      // (which the incremental pack's equivalence property needs) is the
      // append-only contract ingest already enforces.
      trackPack: Boolean = false,
      packSrcCol: String = "source",
      packSeqLen: Long = 2048L,
      packShardRows: Long = 1L << 20,
      // when true, each generation also stores the batch's distribution
      // bucket counts on the STATIONARY monitor dimensions (lang, source,
      // floor-log2 length) — [[stateDrift]] then scores an incoming
      // batch's total-variation drift against the standing corpus from
      // the folded counts (q126's monitor, served incrementally). The
      // bucket functions must be stationary (no reference-window-derived
      // edges) precisely so that per-batch counts fold by sum.
      trackDrift: Boolean = false,
      // when true, each generation also stores the batch's word-frequency
      // DELTA (additive — the corpus dict is the sum of batch dicts) plus
      // a BPE merge-table SNAPSHOT learned from the FOLDED dict: merge
      // learning is global (not additive), so the trained artifact is
      // recomputed per ingest at dict-scale cost — packtotals' snapshot
      // discipline — and tokenization serves from the stored table
      // ([[stateBpeTokenize]]) without ever re-learning. Whole-life-of-
      // the-dir contract as above.
      trackMerges: Boolean = false,
      // q139's oracle is q108's SQL verbatim, so the stored tokenizer
      // MUST train the same number of rounds as the in-query learn —
      // share the constant so the coupling is structural
      bpeMerges: Int = graft.queries.TokenizerQueries.NumMerges,
      // when true, each generation also stores the batch's DISTINCT
      // winnowing fingerprints (doc_id, fpk — q140's selection re-keyed
      // to 8-byte xxhash64, winnowFpKeys): docs are
      // batch-disjoint and the selection is per-row, so the fold is a
      // plain union (the positions contract), and batch-vs-corpus
      // partial-overlap detection ([[stateWinnowOverlap]]) joins the
      // incoming batch's fingerprints against the folded table — the
      // standing corpus is never re-fingerprinted. Whole-life-of-the-dir
      // contract as above.
      trackFingerprints: Boolean = false,
      // when true, each generation also maintains the EMBEDDING-SPACE
      // model (the vectors arrive as ingestBatch's `newVecs` side
      // input): the batch's raw vectors (delta tier, union fold), a
      // k-means centroid SNAPSHOT (k·dim rows + one meta row — readers
      // take the latest generation's file, the packtotals discipline)
      // and per-vector assignments under the LATEST stored centroids —
      // a batch-sized DELTA on frozen-model ingests, a full
      // reassignment snapshot when a retrain fires (fold =
      // latest-generation-wins per id). Retrain policy: geometric
      // growth — retrain when vectors added since the last train reach
      // retrainGrowth × the trained count, so the iters-scan training
      // cost amortizes over proportional corpus growth and the stored
      // assignments are ALWAYS the argmin under the stored centroids
      // (the q124 gate contract, state-served). Whole-life-of-the-dir
      // contract as above.
      trackCentroids: Boolean = false,
      // when true, each generation also stores the batch's
      // per-(token, class) count DELTA (tk = xxhash64(token), c0, c1)
      // and 1-row (n0, n1) doc-prior delta for the NB quality
      // classifier, over the batch's TRAIN split (labels are the q174
      // planted synthesis — deterministic functions of doc_id, so
      // ingest and in-query synthesis can never disagree). Counts are
      // ADDITIVE: the fold IS the model's sufficient statistic, there
      // is no retrain boundary, and the state-derived model
      // ([[stateClassifierModel]]) is always exactly the model q174
      // trains on the folded corpus — the ingest door can score every
      // arriving batch against it ([[stateNbScores]]) with zero
      // training at query time. Whole-life-of-the-dir contract as
      // above.
      trackClassifier: Boolean = false,
      // when true, each generation also stores the batch's per-bucket
      // DSIR count DELTA (fb, ct, cr) over the batch's train split
      // ([[graft.ops.Dsir.countDelta]] — hashed-bigram target/raw
      // occurrence counts). Additive like the classifier counts: the
      // fold IS the model, no retrain boundary, and
      // [[stateDsirScores]] serves q188's exact readout with zero
      // model-building at query time. Whole-life-of-the-dir contract
      // as above.
      trackDsir: Boolean = false,
      // when true, each generation also stores the batch's UNPRUNED
      // bigram-LM count deltas over the batch's train split: (bk =
      // xxhash64(w1, w2), c2) bigram counts and (w, c1) unigram counts
      // ([[graft.ops.BigramLm]]). Additive like the classifier/DSIR
      // counts — the fold IS the model's sufficient statistic. The
      // deltas MUST stay unpruned: KenLM-style singleton pruning does
      // not commute with the fold (a bigram seen once in each of two
      // batches is a per-batch singleton but a keeper overall), so
      // [[BigramLm.scores]] prunes AT READ and the state-served
      // perplexity (q196, `onPerplexity` door) equals
      // train-on-the-folded-corpus exactly. Whole-life-of-the-dir
      // contract as above.
      trackBigramLm: Boolean = false,
      // when true, each generation also stores the batch's EVAL-SPLIT
      // content-defined chunk index: (doc_id, ck) rows with ck the
      // xxhash64 chunk key of the rolling-hash CDC kernel
      // ([[graft.queries.ExtensionQueries.cdcChunkKeys]]). Batch-
      // disjoint docs → union fold IS the index (the fingerprints
      // contract). This is the third decontamination granularity's
      // state tier (chunks, beside token n-grams and winnow
      // fingerprints): q197 audits the train split against the folded
      // eval index, and the `onCdc` ingest door screens every arriving
      // batch against the STANDING index before it folds in.
      // Whole-life-of-the-dir contract as above.
      trackCdc: Boolean = false,
      kmeansK: Int = 8,
      kmeansIters: Int = 5,
      retrainGrowth: Double = 0.5,
      spanK: Int = 5)

  /** Stage 1-2-3: the keep-list — doc ids surviving quality + exact +
    * near-dup dedup. Executes the CC fixpoint eagerly (driver-paced
    * rounds); callers wanting per-doc drop reasons join the result back to
    * [[qualityFlags]].
    */
  def survivors(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val qualityPass = qualityFlags(docs, cfg)
      .filter(col("len_ok") && col("tok_ok") && col("q_ok"))
      .select("doc_id", "text")
    val exactPass = qualityPass.join(
      TextDedup.exactDedup(qualityPass, "doc_id", "text",
          hashCol = TextAnalysis.fingerprintMd5)
        .select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val pairs = TextDedup.minhashLshPairs(exactPass, "doc_id", "text",
        n = cfg.shingleN, numHashes = cfg.numHashes, bands = cfg.bands,
        threshold = cfg.jaccardThreshold)
      .select("id_a", "id_b")
    val comp = Components.connectedComponentsAlternating(
      exactPass.select(col("doc_id").as("id")), pairs, cfg.ccMaxIter)
    Dedupe.firstRowPerKey(
        comp.join(exactPass.select(col("doc_id").as("id"), col("text")), "id"),
        keys = Seq("component"),
        order = Seq(length(col("text")).desc, col("id")))
      .select(col("id").as("doc_id"))
  }

  /** Per-doc quality stage flags — the explainability surface ("why is
    * this doc out?"): join a dropped id back here to see which floors it
    * failed. The same flags drive [[survivors]]'s first filter.
    */
  def qualityFlags(docs: DataFrame, cfg: Config = Config()): DataFrame =
    docs.select(
      col("doc_id"), col("text"),
      (col("n_chars") >= cfg.minChars).as("len_ok"),
      (TextAnalysis.tokenCount(col("text")).cast("long") >= cfg.minTokens)
        .as("tok_ok"),
      (TextAnalysis.qualityScorePpm(col("text")) >= cfg.minQualityPpm)
        .as("q_ok"))

  /** Stage 4-5: materialize the deduped corpus with split assignment,
    * write parquet partitioned by split (when `outDir` is set), and return
    * the per-split manifest. With a write target the manifest reads the
    * files just written — one execution of the dedup DAG, and the manifest
    * describes what is actually on disk.
    */
  def run(docs: DataFrame, outDir: Option[String],
      cfg: Config = Config()): DataFrame = {
    val keep = survivors(docs, cfg)
    val corpus = docs.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("split", Splits.split(col("doc_id")))
    val manifestSource = outDir match {
      case Some(dir) =>
        corpus.write.mode(SaveMode.Overwrite)
          .partitionBy("split").parquet(dir)
        // explicit schema: an all-filtered (empty) corpus writes only
        // _SUCCESS, and schema INFERENCE over a part-less dir throws —
        // the build must return an empty manifest, not die after a
        // successful write
        docs.sparkSession.read.schema(corpus.schema).parquet(dir)
      case None => corpus
    }
    manifestSource
      .select(col("split"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("split")
  }

  /** Stage 6: the train-feed — from a split-assigned corpus (the shape
    * [[run]] writes) to the actual training order: temperature-mix the
    * train split's sources (√-weights upweight small sources;
    * [[Mixing]]), give every accepted doc a unique shuffle key
    * ([[Packing.shuffleKey]]: md5 prefix + its own id in the low
    * `idBits`; out-of-range ids raise per-row instead of silently
    * colliding and making placement run-dependent), and
    * place it into fixed-length token
    * sequences in key order via [[Packing]]'s hierarchical pack — no
    * global window, no driver-side data. Output: one row per accepted
    * train doc with (skey, n_toks, seq_id, seq_offset); byte-identical
    * across re-runs, so epoch order is auditable.
    */
  /** Materialize a [[trainFeed]] as loader-ready shard directories:
    * shard = seq_id DIV seqsPerShard, written hive-partitioned so a data
    * loader maps epoch step ranges to directories by name, with rows
    * clustered in (shard, skey) order inside each file for sequential
    * scans. Returns the per-shard manifest (doc/sequence counts and the
    * seq range) — the readout a training launcher uses to size epochs.
    * The repartition is BY SHARD, so one task owns one shard's rows and
    * each directory gets one ordered file (the q95/q100 placement math
    * already bounded shard row counts).
    */
  def writeFeedShards(feed: DataFrame, outDir: String,
      seqsPerShard: Long): DataFrame = {
    require(seqsPerShard > 0, "seqsPerShard must be positive")
    val sharded = feed.withColumn("shard",
      expr(s"seq_id DIV ${seqsPerShard}L"))
    sharded.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("skey"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(outDir)
    Tables.read(feed.sparkSession, outDir)
      // hive partition columns read back as inferred INT — re-widen
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        min(col("seq_id")).as("seq_lo"), max(col("seq_id")).as("seq_hi"),
        sum(col("n_toks")).as("n_tokens"))
  }

  // ---------------------------------------------------------------------
  // Stored-state incremental build: the production daily-ingest shape.
  // ---------------------------------------------------------------------

  /** Fold one new batch into a persisted corpus state so that N sequential
    * [[ingestBatch]] calls produce EXACTLY the state one full [[run]] over
    * the union would (CorpusBuildSpec pins this by property) — while each
    * ingest pays per-batch cost: quality and exact-dedup probe the batch
    * against a stored digest table, near-dup pairing is
    * [[TextDedup.minhashLshPairsIncremental]] (new×standing + new×new
    * bucket collisions only — the standing corpus is never re-paired),
    * and the component fold is [[Components.mergeIncremental]]'s quotient
    * CC (iterates over the day's edges + touched components, never the
    * corpus).
    *
    * State layout (all parquet, DFS-friendly): `stateDir/gen=<k>/docs`
    * (retained candidate docs — quality-passing exact-dedup survivors,
    * full original columns), `/labels` (id, component), `/digests`
    * (text_hash, keep_id), plus a `LATEST` pointer file
    * (`<gen> <maxIngestedId> <baseGen>`). Generations are DELTAS: each
    * ingest writes ONLY the batch's survivors, their digests, and the
    * label rows that changed (new ids + members of merged components —
    * [[Components.mergeIncrementalDelta]]), so per-batch WRITE I/O scales
    * with the batch, not the corpus — matching the per-batch compute.
    * [[readState]] folds the chain `base..gen`: docs and digests are
    * disjoint appends (the append-only id contract + the digest
    * anti-join guarantee no id or hash repeats across generations), and
    * labels fold by `min(component)` per id — sound because component
    * labels are component-minimum ids and merging only ever DECREASES
    * them. [[pruneGenerations]] compacts the chain back to one full base
    * when it grows past the configured length. Each ingest writes
    * gen k+1 — never overwriting what it reads, so a failed ingest
    * leaves the previous chain intact (re-run the batch for exactly
    * the same result: every step is deterministic). The commit point is
    * the pointer flip: `LATEST` is written to a temp file and renamed
    * into place (the closest-to-atomic DFS primitive), and each
    * generation carries a `_COMMIT` marker written BEFORE the flip so a
    * torn pointer recovers by scanning for the highest committed
    * generation.
    *
    * THE INGEST CONTRACT: batch ids must be strictly greater than every
    * previously ingested id (checked against the stored max — violations
    * fail loudly). Survivor identity is min-id-first (exact dedup keeps
    * the smallest id per digest; a component's label is its minimum
    * member), so an out-of-order smaller id could retroactively change
    * survivors the state has already folded — append-only ids make every
    * past decision final.
    *
    * @param newVecs with cfg.trackCentroids, the batch's embedding rows
    *        (vec_id, embedding) — the vec ids follow the same
    *        append-only contract as doc ids (checked against the stored
    *        vec max), and a doc-side replay skip drops the vec batch
    *        with it (docs and vecs commit as ONE generation, so
    *        at-least-once redelivery replays them together)
    * @return the per-split manifest of the post-ingest corpus (same shape
    *         as [[run]])
    */
  def ingestBatch(stateDir: String, newDocs: DataFrame,
      cfg: Config = Config(), newVecs: DataFrame = null): DataFrame = {
    val spark = newDocs.sparkSession
    val state = readState(spark, stateDir, newDocs.schema)
    // the append-only id contract, checked, not assumed — with one
    // carve-out: a batch ENTIRELY at-or-below the stored max is a replay
    // of an already-folded batch (streaming at-least-once redelivery
    // after a crash between fold and offset commit) and skips as a
    // no-op; a PARTIAL overlap is genuinely out-of-order data and fails.
    val bounds = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    // an empty batch against existing state is a no-op, not a new
    // generation (a scheduler tick with nothing to ingest must not
    // churn state files); an empty FIRST batch still bootstraps gen 0
    if (bounds.isNullAt(0) && state.gen.isDefined)
      return stateManifest(spark, stateDir)
    if (!bounds.isNullAt(1) && state.maxId.exists(_ >= bounds.getLong(1)))
      return stateManifest(spark, stateDir) // idempotent replay skip
    if (!bounds.isNullAt(0) && state.maxId.exists(_ >= bounds.getLong(0)))
      throw new IllegalArgumentException(
        s"ingestBatch: batch min doc_id ${bounds.getLong(0)} <= stored max " +
          s"${state.maxId.get}; ids must be append-only for incremental " +
          "survivor decisions to be final")
    val newMaxId = if (bounds.isNullAt(1)) state.maxId.getOrElse(-1L)
      else bounds.getLong(1)

    // stage 1-2 on the batch: quality floor, then exact dedup — first
    // within the batch (min id per digest), then against the stored
    // digest table (an existing digest's survivor is already in state)
    val qualityPass = newDocs.join(
      qualityFlags(newDocs, cfg)
        .filter(col("len_ok") && col("tok_ok") && col("q_ok"))
        .select("doc_id"),
      Seq("doc_id"), "left_semi") // semi keeps ALL original doc columns
    val withDigest = qualityPass.withColumn("text_hash",
      TextAnalysis.fingerprintMd5(col("text")))
    val batchSurvivors = withDigest.join(
        withDigest.groupBy("text_hash").agg(min(col("doc_id")).as("doc_id")),
        Seq("text_hash", "doc_id"), "left_semi")
    val retainedNew = TextDedup.maybeMaterialize(batchSurvivors
      .join(state.digests.select("text_hash"), Seq("text_hash"), "left_anti"))

    // stage 3 incrementally: batch-touching LSH pairs, quotient-CC merge
    // (with the tier off, no pairs → every survivor is its own component)
    val newIds = retainedNew.select(col("doc_id").as("id"))
    val pairs =
      if (cfg.nearDupTier) TextDedup.minhashLshPairsIncremental(
          retainedNew, state.docs, "doc_id", "text", n = cfg.shingleN,
          numHashes = cfg.numHashes, bands = cfg.bands,
          threshold = cfg.jaccardThreshold)
        .select("id_a", "id_b")
      else newIds.limit(0).select(col("id").as("id_a"), col("id").as("id_b"))
    val labelsDelta = Components.mergeIncrementalDelta(
      state.labels, newIds, pairs, cfg.ccMaxIter)

    // write gen k+1 as a DELTA — the batch's survivors, their digests,
    // and only the changed label rows; then flip the pointer (the
    // pointer rename is the commit)
    val gen = state.gen.map(_ + 1).getOrElse(0)
    val base = state.base.getOrElse(gen)
    // per-tier wall-clock log, off by default (measurement hook for the
    // state-build cost breakdown; prints one line per tracked tier)
    val timed = spark.conf.get("spark.graft.ingestTimings",
      sys.env.getOrElse("SPARK_GRAFT_INGEST_TIMINGS", "false")).toBoolean
    def tier[T](name: String)(body: => T): T =
      if (!timed) body else {
        val t0 = System.nanoTime(); val r = body
        println(f"[ingest] gen=$gen $name%-13s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        r
      }
    tier("core") {
    retainedNew.drop("text_hash").write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/docs")
    labelsDelta.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/labels")
    retainedNew.select(col("text_hash"), col("doc_id").as("keep_id"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/digests")
    }
    if (cfg.trackCounts) tier("counts") {
      // additive count deltas over the RAW batch (the q101/q107 input
      // contract is the full documents relation, pre-quality): each doc
      // contributes its occurrence counts independently, so corpus
      // counts = the sum of per-batch counts — fold by sum on read.
      // One shingle relation serves both the count and the first-seen
      // tables (it is maybeMaterialize'd inside shingleOcc).
      val occ = graft.queries.MixQueries.shingleOcc(newDocs, cfg.spanK)
      occ.groupBy("shk").agg(count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/spancounts")
      // first-seen attribution folds by MIN: ids are append-only, so a
      // batch's min per shingle is final unless an earlier generation
      // already claimed it
      occ.groupBy("shk").agg(min(col("doc_id")).as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/spanfirst")
      graft.queries.TokenizerQueries.bigramOcc(newDocs)
        .groupBy("bk").agg(count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/bigramcounts")
    }
    if (cfg.trackPostings) tier("postings") {
      // posting deltas over the RAW batch (the q110/q114 input contract
      // is the full documents relation): docs are append-only and
      // batch-disjoint, so the folded union IS the inverted index —
      // per-batch write I/O ∝ the batch's tokens, never the corpus
      graft.queries.TokenizerQueries.tokenOcc(newDocs)
        .groupBy("tk", "doc_id").agg(count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/postings")
      newDocs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/doclens")
    }
    if (cfg.trackPositions) tier("positions") {
      // positional posting delta over the RAW batch: one (tk, doc, pos)
      // row per token occurrence; batch-disjoint docs → union-fold
      graft.queries.TokenizerQueries.tokenOccPos(newDocs)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/positions")
    }
    if (cfg.trackPack) tier("pack") {
      val counts = newDocs.select(col("doc_id"), col(cfg.packSrcCol),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      val baseTotals = state.gen match {
        case Some(g) => Tables.read(spark, s"$stateDir/gen=$g/packtotals")
        case None => counts.limit(0).select(col(cfg.packSrcCol),
          lit(0L).as("_base_toks"))
      }
      val (placements, newTotals) = graft.ops.Packing
        .packSequencesIncremental(counts, "doc_id", cfg.packSrcCol,
          "n_toks", cfg.packSeqLen, cfg.packShardRows, baseTotals)
      placements.write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/feed")
      // totals are a SNAPSHOT (one row per source), not a delta: readers
      // take the latest generation's file, no fold
      newTotals.write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/packtotals")
    }
    if (cfg.trackDrift) tier("drift") {
      // additive bucket-count deltas over the RAW batch: the monitor's
      // input contract is everything that arrived, pre-quality (a
      // quality-collapsed source IS drift worth seeing)
      driftBuckets(newDocs).groupBy("dim", "bucket")
        .agg(count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/driftcounts")
    }
    if (cfg.trackFingerprints) tier("fingerprints") {
      // distinct winnowing fingerprints over the RAW batch (q140's
      // selection; q143's input contract), stored as the 8-byte
      // xxhash64 re-key (winnowFpKeys — the md5 hex never reaches disk
      // or an Exchange): per-row selection + batch-disjoint docs →
      // union fold, write cost ∝ the batch
      graft.queries.ExtensionQueries.winnowFpKeys(newDocs)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/fingerprints")
    }
    if (cfg.trackMerges) tier("merges") {
      // word-dict delta over the RAW batch (q105's input contract):
      // additive, folds by sum — the dict is incremental even though
      // the merge LEARNING is not …
      graft.ops.Bpe.wordDict(newDocs, "text")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/worddict")
      // … so the merge table is a SNAPSHOT re-learned from the folded
      // dict each ingest (dict-scale driver-paced rounds, never a corpus
      // rescan; readers take the latest generation's file, no fold —
      // the packtotals discipline): the trained tokenizer stays in
      // lockstep with the corpus statistics that justify it
      val dict = TextDedup.maybeMaterialize(
        chain(spark, stateDir, "worddict", base, gen)
          .groupBy("word").agg(sum(col("n")).as("n")))
      graft.ops.Bpe.learnMerges(dict, "word", "n", cfg.bpeMerges)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/merges")
      // the unigram-LM piece table rides the same folded dict, same
      // snapshot discipline: re-learned per ingest at dict scale, served
      // by stateUnigramTokenize without any seed/EM work at query time
      graft.ops.UnigramLm.learn(dict)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/unigram")
    }
    if (cfg.trackClassifier) tier("classifier") {
      // classifier count deltas over the RAW batch's train split
      // (q174's input contract is the full documents relation,
      // pre-quality): additive, fold by sum — see Config.trackClassifier
      val train = graft.queries.ClassifierQueries.plantedTrain(newDocs)
      graft.ops.NaiveBayes.countDelta(train, "aug", "label")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/clfcounts")
      graft.ops.NaiveBayes.priorDelta(train, "label")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/clfpriors")
    }
    if (cfg.trackDsir) tier("dsir") {
      // DSIR bucket-count deltas over the RAW batch (q188's input
      // contract is the full documents relation; the train restriction
      // lives inside countDelta): additive, fold by sum
      graft.ops.Dsir.countDelta(
          graft.queries.ClassifierQueries.planted(newDocs))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/dsircounts")
    }
    if (cfg.trackBigramLm) tier("bigramlm") {
      // bigram-LM count deltas over the RAW batch's train split
      // (q187's input contract is the full documents relation) —
      // stored UNPRUNED, see Config.trackBigramLm
      graft.ops.BigramLm.bigramDelta(newDocs)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/lmbigrams")
      graft.ops.BigramLm.unigramDelta(newDocs)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/lmunigrams")
    }
    if (cfg.trackCdc) tier("cdc") {
      // eval-split CDC chunk index over the RAW batch (q194's input
      // contract is the full documents relation; eval = NOT the q84
      // train bucket): per-row chunking + batch-disjoint docs → union
      // fold, write cost ∝ the batch's eval share
      graft.queries.ExtensionQueries.cdcChunkKeys(
          newDocs.filter(graft.ops.Splits.bucket(col("doc_id")) >= 90))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/cdcevalchunks")
    }
    if (cfg.trackReleaseCc) tier("releasecc") {
      // release-card cluster labeling over the RAW batch (q74's input
      // contract is the full documents relation — no quality floor, no
      // exact-dedup collapse): the batch's TOUCHING exact-Jaccard pairs
      // (recall exactly 1 over the union rarity order —
      // [[graft.ops.TextDedup.ngramJaccardPairsTouching]]) fold into the
      // standing labels through the quotient-graph merge, and only the
      // CHANGED label rows are written (min-fold on read, the core-label
      // discipline). Per-batch candidate work is batch-touching only;
      // the rarity/prefix recompute is one linear scan over the stored
      // slim docs — never a pair-quadratic term in the standing corpus.
      val shNew = TextDedup.maybeMaterialize(TextDedup.shingleRelation(
        newDocs, "doc_id", "text", col("lang"), cfg.shingleN))
      val (ccStanding, shStand) = state.gen match {
        case Some(g) =>
          val standDocs = chain(spark, stateDir, "ccdocs", base, g)
          val standLabels = chain(spark, stateDir, "cclabels", base, g)
            .groupBy("id").agg(min(col("component")).as("component"))
          (standLabels, TextDedup.maybeMaterialize(TextDedup
            .shingleRelation(standDocs, "doc_id", "text", col("lang"),
              cfg.shingleN)))
        case None =>
          val emptyLabels = newDocs.select(col("doc_id").as("id"),
            col("doc_id").as("component")).limit(0)
          (emptyLabels, shNew.limit(0))
      }
      // materialized: the quotient merge references its edge input ~4x
      // (symmetrization + node derivation) — without this the whole
      // prefix-filter + verify pipeline re-executes per reference
      // (measured 152 s vs 36 s for the 3-batch sf0.1 build)
      val ccPairs = TextDedup.maybeMaterialize(
        TextDedup.ngramJaccardPairsTouching(
            shNew, shStand, cfg.jaccardThreshold)
          .select("id_a", "id_b"))
      val ccDelta = Components.mergeIncrementalDelta(ccStanding,
        newDocs.select(col("doc_id").as("id")), ccPairs, cfg.ccMaxIter)
      ccDelta.write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/cclabels")
      // the slim doc columns the NEXT ingest's pair tier needs (shingle
      // source + lang block) — written after the labels are derived so
      // this generation's pair pass never reads its own delta
      newDocs.select(col("doc_id"), col("lang"), col("text"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/ccdocs")
    }
    if (cfg.trackCentroids) tier("centroids") {
      ingestVecs(spark, stateDir, gen, base, newVecs, cfg)
    }
    commitGeneration(spark, stateDir, gen, newMaxId, base)
    stateManifest(spark, stateDir)
  }

  /** Folded release-card cluster labeling (cfg.trackReleaseCc): ("id",
    * "component") over EVERY ingested doc — q74's labeling exactly
    * (lang-blocked exact n-gram Jaccard, min-member component ids),
    * served with ZERO pair generation: one scan of the label deltas and
    * a map-side-combining min on the 8-byte id.
    */
  def stateReleaseCc(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "cclabels")
      .groupBy("id").agg(min(col("component")).as("component"))

  // ---------------------------------------------------------------------
  // Stored count tables (cfg.trackCounts): the corpus-wide statistics the
  // span audit (q101) and count-LM scoring (q107) shuffle the whole
  // corpus to build — maintained here at per-batch cost instead, folded
  // by sum over the generation chain.
  // ---------------------------------------------------------------------

  /** Folded k-shingle count table (shk, n) over every ingested doc. */
  def stateShingleCounts(spark: SparkSession, stateDir: String): DataFrame =
    foldCounts(spark, stateDir, "spancounts", "shk")

  /** Folded bigram count table (bk, n) over every ingested doc. */
  def stateBigramCounts(spark: SparkSession, stateDir: String): DataFrame =
    foldCounts(spark, stateDir, "bigramcounts", "bk")

  /** Folded first-seen table (shk, first_doc) — MIN over the generation
    * chain (the only count state whose fold is min, not sum; correct for
    * the same reason the label fold is: ids only enter once and never
    * re-claim a shingle).
    */
  def stateShingleFirst(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "spanfirst")
      .groupBy("shk").agg(min(col("n")).as("first_doc"))

  /** The q122 n-gram novelty of `docs` with first-seen attribution read
    * from the STORED table — novelty of an incoming batch against the
    * standing corpus without rescanning it: the batch shingles once,
    * joins the folded (shk, first_doc) relation, and aggregates per doc.
    */
  def stateNovelty(spark: SparkSession, stateDir: String,
      docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val occ = graft.queries.MixQueries.shingleOcc(docs, cfg.spanK)
      .select("doc_id", "shk").distinct()
    occ.join(stateShingleFirst(spark, stateDir), "shk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen_before"))
      .withColumn("novelty_ppm",
        expr("(1000000 * (n_shingles - n_seen_before)) DIV n_shingles"))
  }

  /** The q101 duplicated-span audit over `docs`, with the corpus-wide
    * duplicate set read from the STORED shingle counts instead of
    * re-shuffling the corpus by shingle — the stored-state form of the
    * audit: per batch, only the batch's occurrences were ever counted,
    * and the audit recomputes islands from the folded table
    * (DocStreamSpec pins streamed-counts ≡ q101's full recompute).
    */
  def stateSpanAudit(spark: SparkSession, stateDir: String,
      docs: DataFrame, cfg: Config = Config()): DataFrame = {
    import graft.queries.MixQueries
    val dup = stateShingleCounts(spark, stateDir)
      .filter(col("n") >= 2).select("shk")
    MixQueries.spanReadout(docs, MixQueries.spanAgg(
      MixQueries.shingleOcc(docs, cfg.spanK), dup, cfg.spanK))
  }

  /** The q107 count-statistics LM scoring of `docs` against the STORED
    * bigram count table — the trained "LM" is state, not an in-query
    * corpus shuffle.
    */
  def stateLmScore(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame = {
    import graft.queries.TokenizerQueries
    TokenizerQueries.lmReadout(docs, TokenizerQueries.bigramOcc(docs),
      stateBigramCounts(spark, stateDir))
  }

  /** The monitor dimensions as (dim, bucket) rows, one per doc per dim.
    * Every bucket function is STATIONARY — computable from the row alone,
    * no corpus-derived edges — so per-batch counts fold by sum across
    * generations: lang and source pass through; length buckets are
    * floor(log2(n_chars)) via the exact bit-length identity
    * `length(bin(x)) − 1` (integer on both engines; equi-width buckets on
    * a reference range, q126's layout, would NOT fold — the edges move).
    */
  private[graft] def driftBuckets(docs: DataFrame): DataFrame = {
    val lenBucket = when(col("n_chars") > 0L,
      (length(bin(col("n_chars"))) - 1).cast("long")).otherwise(0L)
    docs.select(lit("lang").as("dim"), col("lang").as("bucket"))
      .unionByName(docs.select(lit("source").as("dim"),
        col("source").as("bucket")))
      .unionByName(docs.select(lit("len_log2").as("dim"),
        lenBucket.cast("string").as("bucket")))
  }

  /** Folded (dim, bucket, n) distribution table over every ingested doc
    * (cfg.trackDrift).
    */
  def stateDriftCounts(spark: SparkSession, stateDir: String): DataFrame =
    foldCounts(spark, stateDir, "driftcounts", "dim", "bucket")

  /** The q126 drift monitor served from STORED state: total-variation
    * distance between the standing corpus (the folded generation chain —
    * reference) and an incoming batch (current), per monitor dimension,
    * in exact integer ppm via the same |n_ref·M − n_cur·N| cross products
    * — the standing corpus is never rescanned; the batch is bucketed once.
    * Per-bucket rows plus a TOTAL row per dim, q126's output shape.
    */
  def stateDrift(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame = {
    val ref = stateDriftCounts(spark, stateDir)
      .select(col("dim"), col("bucket"), col("n").as("n_ref"))
    val cur = driftBuckets(docs).groupBy("dim", "bucket")
      .agg(count(lit(1)).as("n_cur"))
    // full outer: mass present on one side only is exactly the drift a
    // vanished (or brand-new) bucket contributes
    graft.queries.AnalyticsQueries.tvdDrift(
      ref.join(cur, Seq("dim", "bucket"), "full_outer")
        .select(col("dim"), col("bucket"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur")))
  }

  // ---------------------------------------------------------------------
  // Stored classifier state (cfg.trackClassifier): the NB sufficient
  // statistic — per-(token, class) counts and doc priors — folded by sum
  // over the generation chain; the model derives from the fold with the
  // exact train() algebra, so state-served scores equal
  // train-on-the-folded-corpus scores with zero training at query time.
  // ---------------------------------------------------------------------

  /** Folded classifier count table (tk, c0, c1) over every ingested
    * batch's train split.
    */
  def stateClassifierCounts(spark: SparkSession,
      stateDir: String): DataFrame =
    storedChain(spark, stateDir, "clfcounts")
      .groupBy("tk").agg(sum(col("c0")).as("c0"), sum(col("c1")).as("c1"))

  /** Folded 1-row doc-prior table (n0, n1). */
  def stateClassifierPriors(spark: SparkSession,
      stateDir: String): DataFrame =
    storedChain(spark, stateDir, "clfpriors")
      .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"))

  /** The state-derived NB (model, scalars) pair —
    * [[graft.ops.NaiveBayes.modelFromCounts]] over the folded counts;
    * vocabulary-bounded, so the model broadcasts at any corpus scale.
    */
  def stateClassifierModel(spark: SparkSession,
      stateDir: String): (DataFrame, DataFrame) =
    graft.ops.NaiveBayes.modelFromCounts(
      stateClassifierCounts(spark, stateDir),
      stateClassifierPriors(spark, stateDir))

  /** q174's classification served from STORED STATE: score `docs`'
    * held-out split against the state-derived broadcast model — q174's
    * exact output shape (doc_id, predicted, actual, correct), zero
    * training at query time. This is also the ingest door's quality
    * screen: [[graft.streaming.DocStream.ingestToState]] `onQuality`
    * pushes each arriving batch through the same scoring path against
    * the STANDING state before the batch folds in.
    */
  def stateNbScores(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame = {
    import graft.queries.ClassifierQueries
    val (model, scal) = stateClassifierModel(spark, stateDir)
    ClassifierQueries.heldOutScores(ClassifierQueries.planted(docs))(
      graft.ops.NaiveBayes.predictByKey(_, "aug", "doc_id", model, scal))
  }

  /** The ingest DOOR's readout: every doc of an arriving batch scored
    * against the STANDING state model — no split restriction (the door
    * screens whatever arrives, before it folds in). (doc_id, predicted).
    */
  def stateNbScreen(spark: SparkSession, stateDir: String,
      batch: DataFrame): DataFrame = {
    val b = graft.queries.ClassifierQueries.planted(batch)
    val (model, scal) = stateClassifierModel(spark, stateDir)
    graft.ops.NaiveBayes.predictByKey(b, "aug", "doc_id", model, scal)
  }

  // ---------------------------------------------------------------------
  // Stored DSIR state (cfg.trackDsir): the hashed-bigram target/raw
  // bucket counts — folded by sum over the generation chain; scores
  // derive from the fold with q188's exact algebra, so the state-served
  // readout equals build-the-model-on-the-folded-corpus with zero model
  // work at query time.
  // ---------------------------------------------------------------------

  /** Folded DSIR bucket-count table (fb, ct, cr) over every ingested
    * batch's train split — ≤ [[graft.ops.Dsir.B]] rows, broadcast-sized
    * at any corpus scale.
    */
  def stateDsirCounts(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "dsircounts")
      .groupBy("fb").agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))

  /** q188's importance weights served from STORED STATE: score `docs`
    * against the folded bucket counts — q188's exact output shape
    * (doc_id, n_bigrams, dsir_sum, avg_shift_q6, selected), zero model
    * building at query time.
    */
  def stateDsirScores(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame =
    graft.ops.Dsir.scores(
      graft.ops.Dsir.pairs(graft.queries.ClassifierQueries.planted(docs)),
      stateDsirCounts(spark, stateDir))

  // ---------------------------------------------------------------------
  // Stored CDC chunk-index state (cfg.trackCdc): the eval split's
  // content-defined chunk keys — batch-disjoint docs, union fold over
  // the generation chain. Chunk-grained decontamination (q194) served
  // without re-chunking the eval side.
  // ---------------------------------------------------------------------

  /** The folded eval-split CDC chunk index: (doc_id, ck) rows. */
  def stateCdcEvalChunks(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "cdcevalchunks")

  /** q194's chunk-grained decontamination audit served from STORED
    * STATE: `docs`' train split is chunked at query time (the chunking
    * rides the scan — one rolling-hash pass per row), the EVAL side is
    * READ from the folded index — the eval split is never re-chunked.
    * q194's exact output shape (doc_id, n_chunks, n_eval_shared,
    * shared_ppm) over the train docs.
    */
  def stateCdcDecontam(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame =
    cdcAudit(docs.filter(graft.ops.Splits.bucket(col("doc_id")) < 90),
      stateCdcEvalChunks(spark, stateDir))

  /** The `onCdc` ingest DOOR's readout: EVERY doc of an arriving batch
    * audited against the STANDING eval chunk index (the door screens
    * whatever arrives, before it folds in — no split restriction).
    */
  def stateCdcScreen(spark: SparkSession, stateDir: String,
      batch: DataFrame): DataFrame =
    cdcAudit(batch, stateCdcEvalChunks(spark, stateDir))

  /** Chunk `docs` per row (a chunk-less doc keeps one null-ck row) and
    * audit the chunks against `evalChunks` with q194's rollup.
    */
  private def cdcAudit(docs: DataFrame, evalChunks: DataFrame): DataFrame = {
    import graft.queries.ExtensionQueries
    ExtensionQueries.cdcAudit(
      docs.select(col("doc_id"),
          explode_outer(ExtensionQueries.cdcChunks(col("text"))).as("c"))
        .select(col("doc_id"), col("c.ck").as("ck")),
      evalChunks)
  }

  // ---------------------------------------------------------------------
  // Stored bigram-LM state (cfg.trackBigramLm): UNPRUNED bigram/unigram
  // counts over the train split — folded by sum over the generation
  // chain; singleton pruning happens AT READ inside BigramLm.scores
  // (pruning does not commute with the fold), so the state-served
  // perplexity equals train-on-the-folded-corpus exactly.
  // ---------------------------------------------------------------------

  /** Folded UNPRUNED bigram count table (bk, c2). */
  def stateLmBigramCounts(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "lmbigrams")
      .groupBy("bk").agg(sum(col("c2")).as("c2"))

  /** Folded UNPRUNED unigram count table (w, c1) — vocab-bounded. */
  def stateLmUnigramCounts(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "lmunigrams")
      .groupBy("w").agg(sum(col("c1")).as("c1"))

  /** q187's perplexity readout served from STORED STATE: score `docs`
    * against the folded count tables — q187's exact output shape
    * (doc_id, n_pairs, pplx_sum, avg_q6), zero model-building at query
    * time. Also the `onPerplexity` ingest door's screen
    * ([[graft.streaming.DocStream.ingestToState]]): arriving batches
    * score against the STANDING model before they fold in.
    */
  def stateBigramScores(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame =
    graft.ops.BigramLm.scores(graft.ops.BigramLm.pairs(docs),
      stateLmBigramCounts(spark, stateDir),
      stateLmUnigramCounts(spark, stateDir))

  private def foldCounts(spark: SparkSession, stateDir: String,
      table: String, keys: String*): DataFrame =
    storedChain(spark, stateDir, table)
      .groupBy(keys.head, keys.tail: _*).agg(sum(col("n")).as("n"))

  // ---------------------------------------------------------------------
  // Stored posting state (cfg.trackPostings): the inverted-index
  // statistics keyword search (q110) and BM25 (q114) scan the corpus to
  // build — maintained here at per-batch cost. Postings fold by sum on
  // (tk, doc_id); doc lengths are batch-disjoint, sum-fold is identity.
  // ---------------------------------------------------------------------

  /** Folded posting table (tk = xxhash64(token), doc_id, n = tf). */
  def statePostings(spark: SparkSession, stateDir: String): DataFrame =
    foldCounts(spark, stateDir, "postings", "tk", "doc_id")

  /** Folded doc-length table (doc_id, n = token count). */
  def stateDocLens(spark: SparkSession, stateDir: String): DataFrame =
    foldCounts(spark, stateDir, "doclens", "doc_id")

  /** The folded positional posting table (cfg.trackPositions) — docs are
    * batch-disjoint so the union over generations IS the index; no
    * re-aggregation (unlike the count folds, a position row is never
    * split across batches).
    */
  def statePositions(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "positions")

  /** Phrase counts ("p1 immediately followed by p2") served ENTIRELY from
    * the stored positional index: each term filters the posting table by
    * its xxhash64 key — a FOLDABLE literal, so the predicate reaches the
    * parquet scan and only the two terms' posting lists are ever read —
    * and adjacency is the equi-join on (doc, position+1). At corpus scale
    * the cost is proportional to the two posting lists, not the corpus;
    * the exchange carries (doc_id, position) pairs only. Exact modulo
    * xxhash64 collisions with a query term (the [[stateKeywordCore]]
    * trade-off, accepted by the same argument).
    */
  def statePhraseCount(spark: SparkSession, stateDir: String,
      p1: String, p2: String): DataFrame = {
    val pos = statePositions(spark, stateDir)
    val a = pos.filter(col("tk") === xxhash64(lit(p1)))
      .select(col("doc_id"), (col("pos") + 1L).as("nxt"))
    val b = pos.filter(col("tk") === xxhash64(lit(p2)))
      .select(col("doc_id"), col("pos").cast("long").as("nxt"))
    a.join(b, Seq("doc_id", "nxt"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_phrase"))
  }

  /** q110's exact keyword match core — (doc_id, n_terms, total_tf) for
    * every doc matching any of `terms` — served from the STORED posting
    * table: the term set joins as a broadcast of xxhash64 keys, so the
    * lookup is a semi-join into the index, never a corpus scan. Exact
    * modulo xxhash64 collisions with a query term (the bigram-table
    * trade-off, accepted by the same argument).
    */
  def stateKeywordCore(spark: SparkSession, stateDir: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val termRel = broadcast(
      terms.toDF("tok").select(xxhash64(col("tok")).as("tk")))
    statePostings(spark, stateDir).join(termRel, "tk")
      .groupBy("doc_id")
      .agg(countDistinct(col("tk")).as("n_terms"),
        sum(col("n")).as("total_tf"))
  }

  /** The folded training-feed placements (cfg.trackPack): per-generation
    * placement deltas are batch-disjoint, so the union IS the feed — one
    * full [[graft.ops.Packing.packSequences]] over everything ingested,
    * materialized at per-batch cost (PackingSpec's equivalence property,
    * persisted).
    */
  def stateFeed(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "feed")

  /** BM25 top-k for `terms` served ENTIRELY from stored state: tf from
    * the posting table, df/N/avgdl from the folded postings + doc-length
    * tables — scoring a standing 100 TB corpus costs the index lookup,
    * not a corpus scan. Delegates to the same scoring definition as the
    * in-query q114 ([[graft.queries.TokenizerQueries.bm25FromStats]]),
    * so the two forms agree to float round-off and share the q115 gate
    * algebra.
    */
  def stateBm25TopK(spark: SparkSession, stateDir: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    import spark.implicits._
    val termRel = broadcast(
      terms.toDF("tok").select(xxhash64(col("tok")).as("tk")))
    val tf = statePostings(spark, stateDir).join(termRel, "tk")
      .select(col("doc_id"), col("tk").as("tok"),
        col("n").cast("double").as("tf"))
    val dl = stateDocLens(spark, stateDir)
      .select(col("doc_id"), col("n").cast("double").as("dl"))
    graft.queries.TokenizerQueries.bm25FromStats(tf, dl, k)
  }

  /** Corpus-LM surprisal (q136's integer-log2 unigram score) for every
    * ingested doc, served ENTIRELY from the stored posting state: the
    * per-term corpus counts and the corpus total fold out of the posting
    * table (vocab-sized aggregate), and each doc's score folds its own
    * posting rows — sum(tf · (floorLog2(T) − floorLog2(c_term))). Scoring
    * a standing 100 TB corpus costs index-sized work, never a corpus
    * rescan, and the maintenance algebra (sum-fold over generations) must
    * reproduce the from-raw recompute bit for bit — that is q138's
    * oracle. Exact modulo xxhash64 term-key collisions (the
    * [[stateKeywordCore]] trade-off: a collision would merge two terms'
    * counts and surface as an oracle hash mismatch — checked, not
    * assumed).
    */
  def stateSurprisal(spark: SparkSession, stateDir: String): DataFrame = {
    import graft.functions.TextAnalysis.{floorLog2, intDiv}
    val post = statePostings(spark, stateDir)
    val termTotals = post.groupBy("tk").agg(sum(col("n")).as("c"))
    val total = termTotals.agg(sum(col("c")).as("t"))
    val lq = termTotals.crossJoin(broadcast(total))
      .select(col("tk"), (floorLog2(col("t")) - floorLog2(col("c"))).as("q"))
    post.join(broadcast(lq), "tk")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("q")).as("surprisal_sum"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_sum"),
        intDiv(col("surprisal_sum") * 1000000L, col("n_tokens"))
          .as("avg_q6"))
  }

  /** The folded word-frequency dict (cfg.trackMerges) — sum over the
    * generation chain's additive deltas; equals one q105-contract dict
    * over everything ingested.
    */
  def stateWordDict(spark: SparkSession, stateDir: String): DataFrame =
    foldCounts(spark, stateDir, "worddict", "word")

  /** The stored BPE merge table (cfg.trackMerges): per-generation
    * SNAPSHOTS — the latest generation's table IS the artifact (no fold,
    * like packtotals), already trained on the full folded dict.
    */
  def stateBpeMerges(spark: SparkSession, stateDir: String): DataFrame = {
    val (gen, _, _) = readPointer(spark, stateDir).getOrElse(
      throw new IllegalArgumentException(s"no corpus state at $stateDir"))
    Tables.read(spark, s"$stateDir/gen=$gen/merges")
  }

  /** q108's BPE compression readout with the tokenizer LOADED from state
    * instead of re-learned: collect the stored merge table (an N-row
    * tokenizer artifact) and apply it to `docs` via the shared per-row
    * replace chain ([[graft.ops.Bpe.tokenizeDocs]]) — the corpus-scale
    * work drops from learn+apply (a dict aggregate plus N driver-paced
    * pair-count rounds) to ONE scan of `docs`. Serving must reproduce
    * the in-query learn+apply bit for bit — that is q139's oracle.
    */
  def stateBpeTokenize(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame = {
    val ms = stateBpeMerges(spark, stateDir).orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    graft.ops.Bpe.tokenizeDocs(docs, ms)
  }

  /** q236's unigram-LM tokenization served from the STORED piece table
    * (the trackMerges snapshot — re-learned per generation over the
    * folded dict, so it always equals learn-on-the-folded-corpus): the
    * table is LOADED (bounded model state), add-one-smoothed costs are
    * derived, and `docs` is segmented at dict scale + joined — the
    * seed/EM learning never runs at query time.
    */
  def stateUnigramTokenize(spark: SparkSession, stateDir: String,
      docs: DataFrame): DataFrame = {
    val (gen, _, _) = readPointer(spark, stateDir).getOrElse(
      throw new IllegalArgumentException(s"no corpus state at $stateDir"))
    val learned = Tables.read(spark, s"$stateDir/gen=$gen/unigram")
      .select("piece", "em_n").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    graft.ops.UnigramLm.tokenizeStats(docs,
      graft.ops.UnigramLm.wordFertility(
        docs.select(col("doc_id"), col("text"))
          .transform(d => graft.ops.Bpe.wordDict(d, "text")), learned))
  }

  /** The folded winnowing-fingerprint table (cfg.trackFingerprints) —
    * batch-disjoint docs, per-row selection → union over generations IS
    * the table (the positions contract). Rows are (doc_id, fpk) with
    * fpk the 8-byte xxhash64 re-key of the md5 selection
    * (ExtensionQueries.winnowFpKeys).
    */
  def stateFingerprints(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "fingerprints")

  /** q143's partial-overlap detection, batch vs STANDING CORPUS, served
    * from the stored fingerprint table: the incoming batch is
    * fingerprinted (per-row, batch-sized), the corpus side is READ from
    * state — the standing corpus is never re-fingerprinted. Same
    * algebra as q143: corpus fingerprints with df > maxDf are cut (the
    * MOSS boilerplate/fan-out bound, computed over the FOLDED table so
    * the cut is corpus-wide — and over the CORPUS SIDE ONLY: template-
    * hood is defined by the standing corpus, so a genuinely new batch's
    * own contribution to df is intentionally excluded; for an already-
    * ingested probe this matches q143's in-corpus algebra exactly),
    * pairs share ≥ minShared distinct fingerprints, self-pairs excluded
    * (an ingested probe doc always matches itself). Every join/group
    * key is the stored 8-byte re-key. Returns (id_a = corpus doc,
    * id_b = batch doc, n_shared).
    */
  def stateWinnowOverlap(spark: SparkSession, stateDir: String,
      batch: DataFrame, minShared: Long = 2L,
      maxDf: Long = 64L): DataFrame = {
    val corpusFps = stateFingerprints(spark, stateDir)
    val rare = corpusFps.groupBy("fpk").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fpk")
    val probeFps = graft.queries.ExtensionQueries.winnowFpKeys(batch)
      .select(col("doc_id").as("id_b"), col("fpk"))
    corpusFps.select(col("doc_id").as("id_a"), col("fpk"))
      .join(rare, "fpk")
      .join(probeFps, "fpk")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SPLIT-AWARE decontamination served from the stored fingerprint
    * state: [[stateWinnowOverlap]]'s batch-vs-standing-corpus screen
    * restricted to pairs that CROSS a train/val/test boundary — the
    * q159 composition served from state, so an incoming batch's eval
    * contamination surfaces at ingest time (per-batch cost, the corpus
    * side read from the folded fingerprint table) instead of in a
    * later corpus-wide audit. Returns (id_a corpus doc, id_b batch
    * doc, n_shared, split_a, split_b).
    */
  def stateSplitLeakage(spark: SparkSession, stateDir: String,
      batch: DataFrame, minShared: Long = 2L,
      maxDf: Long = 64L): DataFrame = {
    // Same algebra as stateWinnowOverlap plus a cross-split filter.
    // Split labels derive from the ids alone ([[graft.ops.Splits]]), so
    // labelling the pair stream looks free, but it is not: Catalyst
    // pushes the id-derived split filter below the groupBy into the
    // fp-equality join condition, re-evaluating 2×(md5+conv) per
    // CANDIDATE PAIR row — the pair stream is the fan-out of every rare
    // fingerprint, far larger than either input (measured r17: 2×md5 per
    // pair ≈ half the query's task time). So the labels are computed ON
    // THE JOIN INPUTS, once per fingerprint row, and the pushed-down
    // predicate compares two strings. Split is a pure function of the
    // id, so pre-computing it and grouping by the (functionally
    // dependent) label columns leaves the result bit-identical.
    val corpusFps = stateFingerprints(spark, stateDir)
    val rare = corpusFps.groupBy("fpk").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fpk")
    val probeFps = graft.queries.ExtensionQueries.winnowFpKeys(batch)
      .select(col("doc_id").as("id_b"), col("fpk"),
        graft.ops.Splits.split(col("doc_id")).as("split_b"))
    corpusFps.select(col("doc_id").as("id_a"), col("fpk"),
        graft.ops.Splits.split(col("doc_id")).as("split_a"))
      .join(rare, "fpk")
      .join(probeFps, "fpk")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "split_a", "split_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "n_shared", "split_a", "split_b")
  }

  /** The embedding-space tier of one generation (cfg.trackCentroids):
    * write the batch's vectors, decide retrain-vs-freeze by the
    * geometric-growth policy, and write the generation's assignment
    * rows plus the centroid/meta snapshots. The invariant this
    * maintains — and [[stateKmeansGate]] checks — is that the folded
    * assignments are ALWAYS the argmin under the latest stored
    * centroids: a frozen-model ingest assigns only the batch (its
    * delta is batch-sized and the standing rows stay valid because the
    * model did not move); a retrain ingest re-assigns EVERYTHING under
    * the new model as a full snapshot (corpus-sized, but so was the
    * training it rides with — latest-generation-wins at fold time
    * supersedes every older row).
    */
  private def ingestVecs(spark: SparkSession, stateDir: String, gen: Int,
      base: Int, newVecs: DataFrame, cfg: Config): Unit = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val batch =
      if (newVecs == null) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vecSchema)
      else newVecs.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
        .filter(size(col("v")) > 0)
    val prev: Option[org.apache.spark.sql.Row] =
      if (gen > base)
        Some(Tables.read(spark, s"$stateDir/gen=${gen - 1}/vecmeta").head())
      else None
    val (prevTrainedGen, prevNTrained, prevNTotal, prevMaxId) = prev
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .getOrElse((-1, 0L, 0L, -1L))
    val vb = batch.agg(min(col("id")), max(col("id")),
      count(lit(1))).head()
    val nBatch = vb.getLong(2)
    // the same append-only id contract as docs, checked against the
    // stored vec max (doc-side replay skips return before reaching here)
    if (nBatch > 0 && prevMaxId >= vb.getLong(0))
      throw new IllegalArgumentException(
        s"ingestBatch: vec batch min id ${vb.getLong(0)} <= stored vec " +
          s"max $prevMaxId; vec ids must be append-only")
    val newMaxId = if (nBatch > 0) vb.getLong(1) else prevMaxId
    val nTotal = prevNTotal + nBatch
    batch.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/gen=$gen/vecs")

    // geometric growth: retrain when the un-trained tail reaches
    // retrainGrowth x the trained count — iters-scan training amortizes
    // over proportional growth, never per batch
    val needTrain = nTotal > 0 && (prevNTrained == 0L ||
      nTotal - prevNTrained >=
        math.ceil(cfg.retrainGrowth * prevNTrained).toLong)
    val (trainedGen, nTrained, cents) =
      if (needTrain) {
        val folded = chain(spark, stateDir, "vecs", base, gen)
        val (assignedAll, cs) = graft.ops.Clustering.kMeans(
          folded, "id", "v", cfg.kmeansK, cfg.kmeansIters)
        assignedAll.withColumn("g", lit(gen))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/gen=$gen/assignments")
        (gen, nTotal, cs)
      } else {
        val cs = if (gen > base)
          readCentroidRows(spark, s"$stateDir/gen=${gen - 1}/centroids")
        else Nil
        val delta =
          if (cs.isEmpty) batch.select(col("id"), lit(0).as("cluster")).limit(0)
          else batch.select(col("id"),
            graft.ops.Clustering.assignTo(col("v"), cs).as("cluster"))
        delta.withColumn("g", lit(gen))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/gen=$gen/assignments")
        (prevTrainedGen, prevNTrained, cs)
      }
    // centroid + meta SNAPSHOTS (k*dim + 1 rows) — written every gen,
    // readers take the latest file (the packtotals discipline)
    cents.zipWithIndex.flatMap { case (c, j) =>
        c.zipWithIndex.map { case (x, p) => (j, p, x) } }
      .toDF("cluster", "pos", "x").coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/centroids")
    Seq((trainedGen, nTrained, nTotal, newMaxId))
      .toDF("trained_gen", "n_trained", "n_total", "max_vec_id")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/vecmeta")
  }

  /** Read a centroid snapshot file back to the driver-state shape
    * (k*dim rows — the adjudicated bounded collect, same budget as the
    * in-query Lloyd rounds).
    */
  private def readCentroidRows(spark: SparkSession,
      path: String): Seq[Array[Double]] = {
    val rows = Tables.read(spark, path)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    if (rows.isEmpty) return Nil
    val cents = Array.fill(rows.map(_._1).max + 1)(
      Array.fill(rows.map(_._2).max + 1)(0.0))
    rows.foreach { case (c, p, x) => cents(c)(p) = x }
    cents.toIndexedSeq
  }

  /** The folded embedding table (cfg.trackCentroids) — (id, v),
    * disjoint per-generation appends (the vecs contract).
    */
  def stateVecs(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "vecs")

  /** The stored centroid model — the latest generation's snapshot. */
  def stateCentroids(spark: SparkSession,
      stateDir: String): Seq[Array[Double]] = {
    val (gen, _, _) = readPointer(spark, stateDir).getOrElse(
      throw new IllegalArgumentException(s"no corpus state at $stateDir"))
    readCentroidRows(spark, s"$stateDir/gen=$gen/centroids")
  }

  /** State-served k-means assignments (id, cluster): fold the
    * assignment chain by LATEST-GENERATION-WINS per id — a retrain
    * generation's full snapshot supersedes every older row, a
    * frozen-model delta covers exactly its batch's new ids. One
    * id-keyed aggregate over the chain; the vectors themselves are
    * never touched (model serving without a corpus scan — the q142
    * vocabulary discipline for the embedding space).
    */
  def stateKmeans(spark: SparkSession, stateDir: String): DataFrame =
    storedChain(spark, stateDir, "assignments")
      .groupBy("id")
      .agg(max(struct(col("g"), col("cluster"))).as("m"))
      .select(col("id"), col("m.cluster").as("cluster"))

  /** The q124 argmin gate over the STORED model: every state-served
    * assignment must minimize the distance to the stored centroids,
    * recomputed through the independent HOF fold. Must be EMPTY — the
    * "assignments are argmin under the stored centroids" invariant is
    * oracle-checked, not asserted in prose.
    */
  def stateKmeansGate(spark: SparkSession, stateDir: String,
      eps: Double = 1e-9): DataFrame =
    graft.ops.Clustering.assignmentGate(
      stateKmeans(spark, stateDir), stateVecs(spark, stateDir),
      "id", "v", stateCentroids(spark, stateDir), eps)

  /** SemDeDup served from the stored model: cluster-blocked exact
    * cosine pairs with the STORED assignments as the blocking — no
    * retrain, no reassignment, quadratic work bounded at (n/k)² per
    * cluster exactly as q129, but the blocking model comes from state.
    */
  def stateSemDeDup(spark: SparkSession, stateDir: String,
      threshold: Double): DataFrame =
    graft.ops.Similarity.clusterNearDupPairsFromAssignments(
      stateVecs(spark, stateDir), "id", "v", threshold,
      stateKmeans(spark, stateDir))

  /** ANN top-k served from the STORED centroid state: the stored
    * centroids are the coarse quantizer, the folded assignments are the
    * inverted lists, the folded vectors are the data —
    * [[graft.ops.Similarity.ivfTopKFromModel]]'s search stage with ZERO
    * training or assignment work at query time. The q148 argmin gate is
    * what makes this sound: the folded assignments are always argmin
    * under the latest stored centroids, so the stored lists are exactly
    * the lists a fresh assignment pass would build.
    */
  def stateIvfTopK(spark: SparkSession, stateDir: String,
      k: Int = 1, nProbe: Int = 2): DataFrame =
    graft.ops.Similarity.ivfTopKFromModel(
      stateVecs(spark, stateDir), "id", "v",
      stateKmeans(spark, stateDir),
      stateCentroids(spark, stateDir), k, nProbe)

  /** The whole recall-vs-nProbe top-1 family from the stored model in
    * one candidate-generation pass
    * ([[graft.ops.Similarity.ivfTopKFromModelCurve]]) — per width
    * identical to [[stateIvfTopK]](k = 1, nProbe = width).
    */
  def stateIvfCurve(spark: SparkSession, stateDir: String,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame =
    graft.ops.Similarity.ivfTopKFromModelCurve(
      stateVecs(spark, stateDir), "id", "v",
      stateKmeans(spark, stateDir),
      stateCentroids(spark, stateDir), probes)

  /** The keep-list of the stored state: one survivor per component,
    * longest text first then smallest id — [[survivors]]'s rule applied
    * to the persisted docs+labels.
    */
  def stateSurvivors(spark: SparkSession, stateDir: String): DataFrame = {
    val s = readState(spark, stateDir, null)
    Dedupe.firstRowPerKey(
        s.labels.join(
          s.docs.select(col("doc_id").as("id"), col("text")), "id"),
        keys = Seq("component"),
        order = Seq(length(col("text")).desc, col("id")))
      .select(col("id").as("doc_id"))
  }

  /** Split-assigned corpus snapshot of the stored state — the same shape
    * [[run]] materializes (all original columns + split).
    */
  def stateCorpus(spark: SparkSession, stateDir: String): DataFrame = {
    val s = readState(spark, stateDir, null)
    s.docs.join(stateSurvivors(spark, stateDir), Seq("doc_id"), "left_semi")
      .withColumn("split", Splits.split(col("doc_id")))
  }

  /** Per-split manifest of the stored state (the [[run]] rollup shape). */
  def stateManifest(spark: SparkSession, stateDir: String): DataFrame =
    stateCorpus(spark, stateDir)
      .select(col("split"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("split")

  /** Compact the delta chain into one full generation and drop superseded
    * directories. Generations between the pointer's base and its current
    * gen are LIVE state (the chain [[readState]] folds), so GC must
    * compact before it can delete: when the chain spans more than `keep`
    * generations, the folded state is rewritten as a single full
    * generation (the new base — commit-pointer-flipped like any ingest)
    * and every directory below it is deleted. A chain within budget only
    * sheds directories a previous compaction already superseded. At lake
    * scale this is the scheduled job that bounds both state storage and
    * read-side chain length.
    *
    * @return the generation numbers deleted
    */
  def pruneGenerations(spark: SparkSession, stateDir: String,
      keep: Int = 2): Seq[Int] = {
    require(keep >= 1, "must keep at least the live generation")
    val (current, maxId, base) = readPointer(spark, stateDir).getOrElse(
      throw new IllegalArgumentException(s"no corpus state at $stateDir"))
    val f = fs(spark, stateDir)
    def listGens(): Seq[Int] = f.listStatus(
        new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("gen=") => s.drop(4).toInt }
      .toSeq.sorted
    val live = listGens().filter(g => g >= base && g <= current)
    val newBase = if (live.size > keep) compact(spark, stateDir)
      else base
    // in-flight gens above the pointer (a concurrent writer's) survive
    val doomed = listGens().filter(_ < newBase)
    doomed.foreach { g =>
      f.delete(new org.apache.hadoop.fs.Path(stateDir, s"gen=$g"), true)
    }
    doomed
  }

  /** Rewrite the folded state as a single FULL generation and flip the
    * pointer to it (base = gen). Read-side cost of a fold is one extra
    * union + a min-aggregate per label read; compaction trades one
    * O(corpus) write for resetting that chain to length 1.
    *
    * @return the new base generation number
    */
  def compact(spark: SparkSession, stateDir: String): Int = {
    val state = readState(spark, stateDir, null)
    if (state.base == state.gen) return state.gen.get // already one gen
    val gen = state.gen.get + 1
    state.docs.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/docs")
    state.labels.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/labels")
    state.digests.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/gen=$gen/digests")
    // count tables (cfg.trackCounts states) fold by sum into the new base
    val f = fs(spark, stateDir)
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/spancounts"))) {
      stateShingleCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/spancounts")
      stateBigramCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/bigramcounts")
      stateShingleFirst(spark, stateDir)
        .select(col("shk"), col("first_doc").as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/spanfirst")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/postings"))) {
      statePostings(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/postings")
      stateDocLens(spark, stateDir)
        .select(col("doc_id"), col("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/doclens")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/driftcounts"))) {
      stateDriftCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/driftcounts")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/positions"))) {
      statePositions(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/positions")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/feed"))) {
      stateFeed(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/feed")
      Tables.read(spark, s"$stateDir/gen=${state.gen.get}/packtotals")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/packtotals")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/fingerprints"))) {
      stateFingerprints(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/fingerprints")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/vecs"))) {
      // vecs fold by union; assignments collapse to the folded
      // latest-wins view re-stamped at the new base; centroids + meta
      // are snapshots — carry the latest forward (trained_gen then
      // names a pruned generation, which is informational only)
      stateVecs(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/vecs")
      stateKmeans(spark, stateDir).withColumn("g", lit(gen))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/assignments")
      Tables.read(spark, s"$stateDir/gen=${state.gen.get}/centroids")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/centroids")
      Tables.read(spark, s"$stateDir/gen=${state.gen.get}/vecmeta")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/vecmeta")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/worddict"))) {
      // dict deltas fold by sum into the new base; the merge table is a
      // snapshot — carry the latest one forward unchanged (it was
      // already trained on the full folded dict)
      stateWordDict(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/worddict")
      Tables.read(spark, s"$stateDir/gen=${state.gen.get}/merges")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/merges")
      // unigram piece table: snapshot — carry the latest forward (it
      // was already learned on the full folded dict)
      Tables.read(spark, s"$stateDir/gen=${state.gen.get}/unigram")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/unigram")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/clfcounts"))) {
      // classifier count + prior deltas fold by sum into the new base
      stateClassifierCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/clfcounts")
      stateClassifierPriors(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/clfpriors")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/dsircounts"))) {
      // DSIR bucket-count deltas fold by sum into the new base
      stateDsirCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/dsircounts")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/cdcevalchunks"))) {
      // the chunk index folds by union — rewrite as one table
      stateCdcEvalChunks(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/cdcevalchunks")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/ccdocs"))) {
      // slim docs fold by union (batch-disjoint appends); labels fold by
      // min per id — both rewritten as one table at the new base
      chain(spark, stateDir, "ccdocs", state.base.get, state.gen.get)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/ccdocs")
      stateReleaseCc(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/cclabels")
    }
    if (f.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/gen=${state.base.get}/lmbigrams"))) {
      // bigram-LM count deltas fold by sum into the new base (still
      // unpruned — compaction must not bake pruning into the chain)
      stateLmBigramCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/lmbigrams")
      stateLmUnigramCounts(spark, stateDir).write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/gen=$gen/lmunigrams")
    }
    commitGeneration(spark, stateDir, gen, state.maxId.get, base = gen)
    gen
  }

  /** One state table's generation chain `base..gen`, read as a single
    * relation through [[Tables.read]] (its schema resolved once per chain).
    */
  private def chain(spark: SparkSession, stateDir: String, table: String,
      base: Int, gen: Int): DataFrame =
    Tables.read(spark, (base to gen).map(g => s"$stateDir/gen=$g/$table"): _*)

  /** The committed chain of one state table. */
  private def storedChain(spark: SparkSession, stateDir: String,
      table: String): DataFrame = {
    val (gen, _, base) = readPointer(spark, stateDir).getOrElse(
      throw new IllegalArgumentException(s"no corpus state at $stateDir"))
    chain(spark, stateDir, table, base, gen)
  }

  private final case class State(gen: Option[Int], maxId: Option[Long],
      base: Option[Int], docs: DataFrame, labels: DataFrame,
      digests: DataFrame)

  /** Read the state by folding the generation chain `base..gen`, each
    * tier one [[chain]] read: docs and digests are disjoint appends
    * (union); labels take `min(component)` per id — exact last-writer
    * state because merge labels only decrease (see
    * [[Components.mergeIncrementalDelta]]). `docSchema` shapes the
    * empty bootstrap frames when no state exists yet (pass null only when
    * state is known to exist).
    */
  private def readState(spark: SparkSession, stateDir: String,
      docSchema: org.apache.spark.sql.types.StructType): State =
    readPointer(spark, stateDir) match {
      case Some((gen, maxId, base)) =>
        def tier(table: String) = chain(spark, stateDir, table, base, gen)
        State(Some(gen), Some(maxId), Some(base),
          tier("docs"),
          tier("labels").groupBy("id")
            .agg(min(col("component")).as("component")),
          tier("digests"))
      case None =>
        require(docSchema != null, s"no corpus state at $stateDir")
        import org.apache.spark.sql.types._
        def empty(schema: StructType) = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        State(None, None, None, empty(docSchema),
          empty(StructType(Seq(StructField("id", LongType),
            StructField("component", LongType)))),
          empty(StructType(Seq(StructField("text_hash", StringType),
            StructField("keep_id", LongType)))))
    }

  /** Whether a committed corpus state exists at `stateDir` (a readable
    * pointer or a recoverable `_COMMIT` chain).
    */
  def hasState(spark: SparkSession, stateDir: String): Boolean =
    readPointer(spark, stateDir).isDefined

  // The pointer file goes through the Hadoop FileSystem API, so the state
  // dir can live on any DFS the cluster's checkpoint/warehouse dirs use.
  private def pointerPath(stateDir: String) =
    new org.apache.hadoop.fs.Path(stateDir, "LATEST")

  private def fs(spark: SparkSession, stateDir: String) =
    new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parsePointer(line: String): Option[(Int, Long, Int)] =
    line.trim.split("\\s+") match {
      // legacy 2-field pointers predate delta chains: every generation
      // was full, so the chain is just the current gen
      case Array(g, m) => Some((g.toInt, m.toLong, g.toInt))
      case Array(g, m, b) => Some((g.toInt, m.toLong, b.toInt))
      case _ => None
    }

  private def readPointer(spark: SparkSession,
      stateDir: String): Option[(Int, Long, Int)] = {
    val f = fs(spark, stateDir)
    def readLine(p: org.apache.hadoop.fs.Path): Option[String] =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    val fromLatest = readLine(pointerPath(stateDir))
      .flatMap(l => scala.util.Try(parsePointer(l)).toOption.flatten)
    fromLatest.orElse {
      // torn/absent pointer (crash between create and rename): recover
      // from the highest generation whose _COMMIT marker — written
      // BEFORE the pointer flip — is present and parseable
      if (!f.exists(new org.apache.hadoop.fs.Path(stateDir))) None
      else f.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("gen=") => s.drop(4).toInt }
        .sorted(Ordering[Int].reverse)
        .iterator
        .flatMap { g =>
          readLine(new org.apache.hadoop.fs.Path(stateDir, s"gen=$g/_COMMIT"))
            .flatMap(l => scala.util.Try(parsePointer(l)).toOption.flatten)
        }
        .nextOption()
    }
  }

  /** Commit a written generation: a `_COMMIT` marker inside the gen dir
    * first (the recovery record), then the `LATEST` pointer written to a
    * temp file and RENAMED into place — rename is the closest-to-atomic
    * DFS primitive, so a crash never leaves a truncated pointer (a crash
    * between marker and rename recovers to this same generation via the
    * marker scan; both states are valid, deterministic commit points).
    */
  private def commitGeneration(spark: SparkSession, stateDir: String,
      gen: Int, maxId: Long, base: Int): Unit = {
    val f = fs(spark, stateDir)
    val line = s"$gen $maxId $base".getBytes("UTF-8")
    val marker = new org.apache.hadoop.fs.Path(stateDir, s"gen=$gen/_COMMIT")
    val mOut = f.create(marker, true)
    try mOut.write(line) finally mOut.close()
    val tmp = new org.apache.hadoop.fs.Path(stateDir, "LATEST.tmp")
    val out = f.create(tmp, true)
    try out.write(line) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, pointerPath(stateDir),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def trainFeed(corpus: DataFrame, targetDocs: Long,
      seqLen: Long = 2048L, shardRows: Long = 1L << 52,
      idBits: Int = 20): DataFrame = {
    val train = corpus.filter(col("split") === "train")
    val mixed = Mixing.sqrtTemperatureSample(
      train, "doc_id", "source", targetDocs)
    val keyed = mixed.select(
      col("doc_id"), col("source"),
      Packing.shuffleKey(col("doc_id"), idBits).as("skey"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
      lit("all").as("mix"))
    Packing.packSequences(keyed, "skey", "mix", "n_toks", seqLen, shardRows)
      .select("doc_id", "source", "skey", "n_toks", "seq_id", "seq_offset")
  }
}
