package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CorpusBuild
import graft.queries.Tables
import graft.streaming.DocStream

/** Streaming document ingest ≡ batch build: the file-source stream folds
  * micro-batches through CorpusBuild.ingestBatch, and the resulting
  * stored state must equal one full build over everything streamed —
  * across stream RESTARTS (checkpoint picks up only new files) and
  * redeliveries (replay-idempotent skip).
  */
class DocStreamSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("streamed ingest across restarts == one full batch build; " +
      "restart with no new files is a no-op; replayed batch skips") {
    val root = tempDir("docstream")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)

    // two id-monotone lake files, written BEFORE the first start so the
    // oldest-first file order matches the append-only id contract
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200) // distinct mtimes: the source orders files by time
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 400).coalesce(1)
      .write.mode("append").parquet(lake)

    def runOnce(): Unit = {
      val q = DocStream.ingestToState(
        DocStream.readDocumentStream(spark, lake), state, ckpt)
      q.awaitTermination(120000)
      assert(!q.isActive, "AvailableNow stream failed to drain")
      q.exception.foreach(e => fail(s"stream failed: $e"))
    }
    runOnce() // folds both files (one micro-batch each)

    // restart with a NEW file: the checkpoint must deliver only it
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(lake)
    runOnce()

    val streamedKeep = CorpusBuild.stateSurvivors(spark, state)
      .collect().map(_.getLong(0)).toSet
    val fullKeep = CorpusBuild.survivors(docs)
      .collect().map(_.getLong(0)).toSet
    assert(streamedKeep === fullKeep,
      s"streamed state diverged: only-stream=${streamedKeep -- fullKeep} " +
        s"only-batch=${fullKeep -- streamedKeep}")
    val manifestBefore = CorpusBuild.stateManifest(spark, state)
      .collect().toSeq
    assert(manifestBefore === CorpusBuild.run(docs, None).collect().toSeq)

    // restart with nothing new: no-op, state untouched
    runOnce()
    assert(CorpusBuild.stateManifest(spark, state).collect().toSeq
      === manifestBefore)

    // at-least-once redelivery: re-folding an already-folded id range
    // must SKIP (return the unchanged manifest), not throw or double-fold
    val replayed = CorpusBuild.ingestBatch(state,
      docs.filter(col("doc_id") < 250))
    assert(replayed.collect().toSeq === manifestBefore)
  }

  test("streamed cross-split decontamination: a planted test-split doc " +
      "quoting a standing train-split doc surfaces BEFORE it folds, " +
      "with its split labels — and the state-served readout agrees") {
    import spark.implicits._
    val root = tempDir("docstream_split")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val cfg = CorpusBuild.Config(trackFingerprints = true)
    // ids 0 (train) and 20 (test) — md5-bucket arithmetic, precomputed
    // (the CurationExtrasSpec planted pair); the quote is long enough
    // that its winnow selection shares >= 2 rare fingerprints
    val quote = "the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles stand quietly on the old stone wall"
    def docRows(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) =>
        (id, t, "en", "srcT", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docRows(Seq(
      (0L, quote),
      (1L, "completely unrelated filler text about something else " +
        "entirely with no shared passages whatsoever in it at all"),
      (2L, "a second filler document holding distinct vocabulary and " +
        "no quoted material from anywhere else in this tiny corpus")))
      .coalesce(1).write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docRows(Seq(
      (20L, "quail vortex craters surround a lifted passage " + quote +
        " jagged lunar pebbles drift sideways beyond the quoted span")))
      .coalesce(1).write.mode("append").parquet(lake)

    val crossSplit = new scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      onCrossSplit = df => crossSplit.synchronized {
        crossSplit ++= df.collect().map(r => (0 until r.length).map(r.get).toSeq)
      })
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the planted pair surfaced pre-fold, labeled train vs test, and
    // nothing else did (the fillers share no passage)
    val pairs = crossSplit.synchronized(crossSplit.toSeq)
      .map(r => (r(0), r(1), r(3), r(4)))
    assert(pairs === Seq((0L, 20L, "train", "test")),
      s"expected exactly the planted contamination, got $crossSplit")

    // the state-served q166 composition over the INGESTED corpus reads
    // the same pair from the folded fingerprint table
    val served = CorpusBuild.stateSplitLeakage(spark, state,
        spark.read.parquet(lake))
      .filter(org.apache.spark.sql.functions.col("id_a") <
        org.apache.spark.sql.functions.col("id_b"))
      .select("id_a", "id_b", "split_a", "split_b")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSeq
    assert(served === Seq((0L, 20L, "train", "test")),
      s"state-served split leakage diverged: $served")
  }

  test("streamed vec tier across a retrain boundary: the frozen-model " +
      "micro-batch folds a batch-sized delta under the UNMOVED stored " +
      "model, the retrain micro-batch re-trains over the whole fold, " +
      "and the served model passes the argmin + ANN rescoring gates " +
      "in BOTH regimes") {
    import graft.ops.Clustering
    val root = tempDir("docstream_vecs")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val cfg = CorpusBuild.Config(trackCentroids = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(r.get).toSeq).toSet
    def runOnce(): Unit = {
      val q = DocStream.ingestToState(
        DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
        vecsFor = b => emb.join(b.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"))
      q.awaitTermination(120000)
      assert(!q.isActive, "AvailableNow stream failed to drain")
      q.exception.foreach(e => fail(s"stream failed: $e"))
    }
    def gatesEmpty(regime: String): Unit = {
      assert(CorpusBuild.stateKmeansGate(spark, state).collect().isEmpty,
        s"argmin gate fired on the $regime state")
      val claimed = CorpusBuild.stateIvfTopK(spark, state, k = 1, nProbe = 2)
        .select(lit("streamed").as("tier"), col("query_id"),
          col("neighbor_id"), col("cos"))
      assert(graft.queries.CurationQueries.annGate(claimed,
          CorpusBuild.stateVecs(spark, state)
            .select(col("id").as("vec_id"), col("v"))).collect().isEmpty,
        s"ANN rescoring gate fired on the $regime state")
    }

    // batch sizes against retrainGrowth=0.5: 250 (initial train),
    // then 100 (tail 100 < ceil(0.5*250)=125 -> FROZEN),
    // then 150 (tail 250 >= 125 -> RETRAIN over the whole fold)
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 350).coalesce(1)
      .write.mode("append").parquet(lake)
    runOnce() // two micro-batches: gen0 trains on 250, gen1 freezes

    // the stored model must be EXACTLY the gen-0 train (it did not move)
    val (a250, c250) = Clustering.kMeans(
      emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      k = cfg.kmeansK, iters = cfg.kmeansIters)
    assert(CorpusBuild.stateCentroids(spark, state).map(_.toSeq)
      === c250.map(_.toSeq),
      "frozen-regime centroids are not the gen-0 model — the freeze " +
        "either retrained or lost the snapshot")
    // … and the fold = gen-0 assignments + a batch-sized delta assigned
    // under that unmoved model
    val frozenExpect = rows(a250) ++ rows(
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 350)
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
        .filter(size(col("v")) > 0)
        .select(col("id"), Clustering.assignTo(col("v"), c250).as("cluster")))
    assert(rows(CorpusBuild.stateKmeans(spark, state)) === frozenExpect,
      "frozen-regime fold diverged from gen-0 train + frozen delta")
    gatesEmpty("frozen")
    // ANN served from the frozen state == search under the stored model
    assert(rows(CorpusBuild.stateIvfTopK(spark, state, k = 1, nProbe = 2))
      === rows(graft.ops.Similarity.ivfTopKFromModel(
        emb.filter(col("vec_id") < 350)
          .select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("v")),
        "id", "v",
        CorpusBuild.stateKmeans(spark, state), c250, k = 1, nProbe = 2)),
      "frozen-regime ANN diverged from search under the stored model")

    // third file: the tail now trips the geometric retrain
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 350).coalesce(1)
      .write.mode("append").parquet(lake)
    runOnce()
    val (aAll, cAll) = Clustering.kMeans(
      emb, "vec_id", "embedding", k = cfg.kmeansK, iters = cfg.kmeansIters)
    assert(CorpusBuild.stateCentroids(spark, state).map(_.toSeq)
      === cAll.map(_.toSeq),
      "retrain-regime centroids diverged from a one-shot train")
    assert(rows(CorpusBuild.stateKmeans(spark, state)) === rows(aAll),
      "retrain-regime assignments diverged from a one-shot train")
    gatesEmpty("retrained")
    assert(rows(CorpusBuild.stateIvfTopK(spark, state, k = 1, nProbe = 2))
      === rows(graft.ops.Similarity.ivfTopKFromModel(
        emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v")),
        "id", "v", aAll.select(col("id"), col("cluster")), cAll,
        k = 1, nProbe = 2)),
      "retrain-regime ANN diverged from search under the one-shot model")
  }

  test("streamed count state == full q101/q107 recompute, and survives " +
      "compaction") {
    val root = tempDir("docstream_counts")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val cfg = CorpusBuild.Config(trackCounts = true, trackPostings = true,
      trackPack = true, trackDrift = true, trackMerges = true,
      trackFingerprints = true, trackCentroids = true)
    val emb = Tables.embeddings(spark, sf)

    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250).coalesce(1)
      .write.mode("append").parquet(lake)
    // the ingest-time contamination screen: per-batch overlap rows are
    // pushed here BEFORE the batch folds in (batch 1 sees no standing
    // corpus, so only batch 2 emits)
    val screened = new scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      vecsFor = b => emb.join(b.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"),
      onBatchOverlap = df => screened.synchronized {
        screened ++= df.collect().map(r => (0 until r.length).map(r.get).toSeq)
      })
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the stored-state span audit over everything streamed must equal
    // q101's full in-query recompute row-for-row …
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(r.get).toSeq).toSet
    val fullSpans = rows(
      graft.queries.MixQueries.q101_dup_spans(spark, sf))
    assert(rows(CorpusBuild.stateSpanAudit(spark, state, docs, cfg))
      === fullSpans, "stored-count span audit diverged from q101")
    // … and the stored-LM scoring must equal q107's
    val fullLm = rows(
      graft.queries.TokenizerQueries.q107_ngram_lm_score(spark, sf))
    assert(rows(CorpusBuild.stateLmScore(spark, state, docs)) === fullLm,
      "stored-count LM scoring diverged from q107")
    // … and stored first-seen attribution must reproduce q122's novelty
    val fullNov = rows(
      graft.queries.MixQueries.q122_ngram_novelty(spark, sf))
    def checkNovelty(): Unit =
      assert(rows(CorpusBuild.stateNovelty(spark, state, docs, cfg))
        === fullNov, "stored first-seen novelty diverged from q122")
    checkNovelty()

    // … and the posting state must serve q110's exact match statistics
    // and a BM25 consistent with the in-query scorer
    import graft.queries.TokenizerQueries
    val terms = TokenizerQueries.SearchTerms
    val fullCore = rows(TokenizerQueries.keywordMatchCore(spark, sf))
    def checkPostings(): Unit = {
      assert(rows(CorpusBuild.stateKeywordCore(spark, state, terms))
        === fullCore, "stored-posting keyword core diverged from a " +
          "full corpus recompute")
      val stateBm = CorpusBuild.stateBm25TopK(spark, state, terms)
      assert(rows(TokenizerQueries.bm25Gate(stateBm,
          CorpusBuild.stateKeywordCore(spark, state, terms))).isEmpty,
        "state BM25 emitted candidates outside the state count core")
      // same docs, same integer stats, scores equal to float round-off
      // (sum order over a doc's ≤4 term weights may differ)
      val inQuery = TokenizerQueries.bm25TopK(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val served = stateBm.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(served.keySet === inQuery.keySet,
        "state BM25 top-k docs diverged from the in-query scorer")
      served.foreach { case (id, sc) =>
        assert(math.abs(sc - inQuery(id)) < 1e-9,
          s"state BM25 score for doc $id drifted: $sc vs ${inQuery(id)}")
      }
    }
    checkPostings()

    // … and the folded feed placements must equal one full pack over
    // everything streamed (the persisted PackingSpec property)
    val fullFeed = rows(graft.ops.Packing.packSequences(
      docs.select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_toks")),
      "doc_id", "source", "n_toks", seqLen = 2048L, shardRows = 1L << 20))
    def checkFeed(): Unit =
      assert(rows(CorpusBuild.stateFeed(spark, state)
        .select("doc_id", "source", "n_toks", "seq_id", "seq_offset"))
        === fullFeed, "stored feed placements diverged from a full pack")
    checkFeed()

    // … and the folded drift counts must equal one direct bucketing of
    // everything streamed (the sum-fold property the stationary bucket
    // functions exist to make true), with the calibration point that
    // probing the state with exactly what it ingested reads ZERO drift
    val fullDrift = rows(CorpusBuild.driftBuckets(docs)
      .groupBy("dim", "bucket").agg(count(lit(1)).as("n")))
    def checkDrift(): Unit = {
      assert(rows(CorpusBuild.stateDriftCounts(spark, state)) === fullDrift,
        "folded drift counts diverged from a direct full bucketing")
      val self = CorpusBuild.stateDrift(spark, state, docs).collect()
      assert(self.nonEmpty && self.forall(_.getLong(4) == 0L),
        "self-drift must be 0 ppm on every bucket and TOTAL")
    }
    checkDrift()

    // … and the stored merge table must equal a one-shot learn over
    // everything streamed (dict deltas fold by sum; the snapshot was
    // trained on the fold), with tokenization served from it equal to
    // q108's in-query learn+apply
    val fullMerges = rows(graft.ops.Bpe.learnMerges(
      graft.ops.Bpe.wordDict(docs, "text"), "word", "n", cfg.bpeMerges))
    val fullTok = rows(
      graft.queries.TokenizerQueries.q108_bpe_tokenize(spark, sf))
    def checkMerges(): Unit = {
      assert(rows(CorpusBuild.stateBpeMerges(spark, state)) === fullMerges,
        "stored merge-table snapshot diverged from a one-shot learn " +
          "over everything streamed")
      assert(rows(CorpusBuild.stateBpeTokenize(spark, state, docs))
        === fullTok,
        "state-served BPE tokenization diverged from q108's learn+apply")
    }
    checkMerges()

    // … and the folded fingerprint table must equal a direct selection
    // over everything streamed, with batch-vs-corpus overlap equal to
    // the same join recomputed from raw — deliberately via the md5
    // STRING algebra here, so the stored 8-byte re-key is cross-checked
    // against an independent keying of the same selection
    val fullFps = rows(
      graft.queries.ExtensionQueries.winnowFpKeys(docs))
    val probe = docs.filter(col("doc_id") >= 250)
    val fullOverlap = {
      val fps = graft.queries.ExtensionQueries.winnowSel(docs)
        .select(col("doc_id"), explode(array_distinct(col("sel"))).as("fp"))
      val rare = fps.groupBy("fp")
        .agg(count(lit(1)).as("df")).filter(col("df") <= 64).select("fp")
      val probeFps = graft.queries.ExtensionQueries.winnowSel(probe)
        .select(col("doc_id").as("id_b"),
          explode(array_distinct(col("sel"))).as("fp"))
      rows(fps.select(col("doc_id").as("id_a"), col("fp"))
        .join(rare, "fp").join(probeFps, "fp")
        .filter(col("id_a") =!= col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2))
    }
    def checkFps(): Unit = {
      assert(rows(CorpusBuild.stateFingerprints(spark, state)) === fullFps,
        "folded fingerprint state diverged from a direct selection")
      assert(rows(CorpusBuild.stateWinnowOverlap(spark, state, probe))
        === fullOverlap,
        "state-served winnow overlap diverged from the raw recompute")
    }
    checkFps()

    // … the streamed ingest-time screen (batch 2 vs the standing first
    // batch) must equal the same overlap recomputed from raw — via the
    // md5 STRING algebra, independent of the stored 8-byte re-key
    val expectedScreen = {
      val cf = graft.queries.ExtensionQueries.winnowSel(
          docs.filter(col("doc_id") < 250))
        .select(col("doc_id"), explode(array_distinct(col("sel"))).as("fp"))
      val rare = cf.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 64).select("fp")
      val pf = graft.queries.ExtensionQueries.winnowSel(
          docs.filter(col("doc_id") >= 250))
        .select(col("doc_id").as("id_b"),
          explode(array_distinct(col("sel"))).as("fp"))
      rows(cf.select(col("doc_id").as("id_a"), col("fp"))
        .join(rare, "fp").join(pf, "fp")
        .filter(col("id_a") =!= col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2))
    }
    assert(screened.synchronized(screened.toSet) === expectedScreen,
      "streamed per-batch winnow screen diverged from the raw recompute")

    // … and the embedding-space state: vectors fold to everything
    // streamed, the stored assignments are argmin under the stored
    // centroids (the q148 gate), and — because the second batch's 250
    // new vectors tripped the geometric retrain over the full fold —
    // the served model equals a one-shot train over all of it
    val fullVecRows = rows(emb.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))
      .filter(size(col("v")) > 0))
    val fullAssign = rows(graft.ops.Clustering.kMeans(
      emb, "vec_id", "embedding", k = cfg.kmeansK, iters = cfg.kmeansIters)._1)
    def checkVecs(): Unit = {
      assert(rows(CorpusBuild.stateVecs(spark, state)) === fullVecRows,
        "folded vec state diverged from everything streamed")
      assert(CorpusBuild.stateKmeansGate(spark, state).collect().isEmpty,
        "state-served assignment violated the argmin gate")
      assert(rows(CorpusBuild.stateKmeans(spark, state)) === fullAssign,
        "state-served assignments diverged from a one-shot train over " +
          "everything streamed")
      // state-served ANN == IVF search under a FRESH one-shot model over
      // everything streamed (sound here because the retrain-tripped
      // stored model equals that one-shot model, asserted above)
      val (oneShotAssign, oneShotCents) = graft.ops.Clustering.kMeans(
        emb, "vec_id", "embedding", k = cfg.kmeansK, iters = cfg.kmeansIters)
      assert(rows(CorpusBuild.stateIvfTopK(spark, state, k = 1, nProbe = 2))
        === rows(graft.ops.Similarity.ivfTopKFromModel(
          emb.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("v")),
          "id", "v", oneShotAssign.select(col("id"), col("cluster")),
          oneShotCents, k = 1, nProbe = 2)),
        "state-served ANN diverged from search under the one-shot model")
    }
    checkVecs()

    // compaction folds the count deltas into the new base unchanged
    CorpusBuild.compact(spark, state)
    CorpusBuild.pruneGenerations(spark, state, keep = 1)
    assert(rows(CorpusBuild.stateSpanAudit(spark, state, docs, cfg))
      === fullSpans, "compaction altered the span-count state")
    assert(rows(CorpusBuild.stateLmScore(spark, state, docs)) === fullLm,
      "compaction altered the bigram-count state")
    checkPostings()
    checkFeed()
    checkNovelty()
    checkDrift()
    checkMerges()
    checkFps()
    checkVecs()
  }

  test("streamed classifier state: the folded count deltas serve " +
      "EXACTLY q174's one-shot-train classification, and the onQuality " +
      "door screens each post-first batch against the standing model") {
    import graft.ops.NaiveBayes
    import graft.queries.ClassifierQueries
    val root = tempDir("docstream_clf")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val cfg = CorpusBuild.Config(trackClassifier = true)
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 400).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(lake)

    val screens =
      new scala.collection.mutable.ArrayBuffer[Set[(Long, Long)]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      onQuality = df => screens.synchronized {
        screens += df.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      })
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the door fired for batches 2 and 3 only (batch 1 had no standing
    // model to screen against)
    assert(screens.synchronized(screens.size) === 2,
      s"expected 2 door screens, got ${screens.size}")
    // batch 2's screen == scoring batch 2 against the model folded from
    // batch 1 ALONE (the standing state at that moment)
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    val t1 = ClassifierQueries.plantedTrain(b1)
    val (m1, s1) = NaiveBayes.modelFromCounts(
      NaiveBayes.countDelta(t1, "aug", "label")
        .groupBy("tk").agg(sum("c0").as("c0"), sum("c1").as("c1")),
      NaiveBayes.priorDelta(t1, "label"))
    val expected = NaiveBayes.predictByKey(
        ClassifierQueries.planted(b2), "aug", "doc_id", m1, s1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(screens.synchronized(screens.head) === expected,
      "door screen diverged from scoring against the standing model")

    // streamed-fold ≡ one-shot-train: the state-served classification
    // equals q174's exact output over the same corpus
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getAs[Long]("doc_id")) // results are unordered
      .map(r => (0 until r.length).map(r.get).toSeq)
    val served = rows(CorpusBuild.stateNbScores(spark, state, docs))
    val oneShot = rows(ClassifierQueries.q174_nb_classifier(spark, sf))
    assert(served === oneShot,
      "state-served NB classification diverged from the one-shot train")

    // … and compaction folds the classifier deltas unchanged
    CorpusBuild.compact(spark, state)
    CorpusBuild.pruneGenerations(spark, state, keep = 1)
    assert(rows(CorpusBuild.stateNbScores(spark, state, docs)) === oneShot,
      "compaction altered the classifier state")
  }

  test("streamed DSIR state: the folded bucket-count deltas serve " +
      "EXACTLY q188's one-shot weights, and the onDsir door scores " +
      "each post-first batch against the standing counts") {
    import graft.ops.Dsir
    import graft.queries.ClassifierQueries
    val root = tempDir("docstream_dsir")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val cfg = CorpusBuild.Config(trackDsir = true)
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 400).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(lake)

    val screens =
      new scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long)]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      onDsir = df => screens.synchronized {
        screens += df.select("doc_id", "dsir_sum", "selected").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      })
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the door fired for batches 2 and 3 only (batch 1 had no standing
    // counts to score against)
    assert(screens.synchronized(screens.size) === 2,
      s"expected 2 door screens, got ${screens.size}")
    // batch 2's screen == scoring batch 2 against the counts folded
    // from batch 1 ALONE (the standing state at that moment)
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    val expected = Dsir.scores(
        Dsir.pairs(ClassifierQueries.planted(b2)),
        Dsir.countDelta(ClassifierQueries.planted(b1)))
      .select("doc_id", "dsir_sum", "selected").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(screens.synchronized(screens.head) === expected,
      "door screen diverged from scoring against the standing counts")

    // streamed-fold ≡ one-shot: the state-served weights equal q188's
    // exact output over the same corpus
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getAs[Long]("doc_id")) // results are unordered
      .map(r => (0 until r.length).map(r.get).toSeq)
    val served = rows(CorpusBuild.stateDsirScores(spark, state, docs))
    val oneShot = rows(
      graft.queries.FilterQueries.q188_dsir_weights(spark, sf))
    assert(served === oneShot,
      "state-served DSIR weights diverged from the one-shot model")

    // … and compaction folds the bucket counts unchanged
    CorpusBuild.compact(spark, state)
    CorpusBuild.pruneGenerations(spark, state, keep = 1)
    assert(rows(CorpusBuild.stateDsirScores(spark, state, docs)) === oneShot,
      "compaction altered the DSIR state")
  }

  test("streamed bigram-LM state: the folded UNPRUNED count deltas " +
      "serve EXACTLY q187's one-shot perplexity (singleton pruning at " +
      "read), and the onPerplexity door scores each post-first batch " +
      "against the standing model") {
    import graft.ops.BigramLm
    val root = tempDir("docstream_lm")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val cfg = CorpusBuild.Config(trackBigramLm = true)
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 400).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(lake)

    val screens =
      new scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long)]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      onPerplexity = df => screens.synchronized {
        screens += df.select("doc_id", "pplx_sum", "avg_q6").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      })
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the door fired for batches 2 and 3 only (batch 1 had no standing
    // model to score against)
    assert(screens.synchronized(screens.size) === 2,
      s"expected 2 door screens, got ${screens.size}")
    // batch 2's screen == scoring batch 2 against the counts folded
    // from batch 1 ALONE (the standing state at that moment)
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    val b3 = docs.filter(col("doc_id") >= 400)
    val expected = BigramLm.scores(BigramLm.pairs(b2),
        BigramLm.bigramDelta(b1), BigramLm.unigramDelta(b1))
      .select("doc_id", "pplx_sum", "avg_q6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(screens.synchronized(screens.head) === expected,
      "door screen diverged from scoring against the standing model")

    // streamed-fold ≡ one-shot: the state-served perplexity equals
    // q187's exact output over the same corpus
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getAs[Long]("doc_id")) // results are unordered
      .map(r => (0 until r.length).map(r.get).toSeq)
    val oneShot = rows(
      graft.queries.FilterQueries.q187_bigram_perplexity(spark, sf))
    assert(rows(CorpusBuild.stateBigramScores(spark, state, docs))
        === oneShot,
      "state-served perplexity diverged from the one-shot model")

    // THE reason the deltas store unpruned counts: singleton pruning
    // does not commute with the fold. Exhibit the straddlers — bigrams
    // whose occurrences split across generations (per-batch singletons,
    // keepers overall) — and show a prune-per-batch fold actually
    // changes the served scores.
    val atRead = CorpusBuild.stateLmBigramCounts(spark, state)
      .filter(col("c2") >= 2L)
    val perBatchPruned = Seq(b1, b2, b3)
      .map(b => BigramLm.bigramDelta(b).filter(col("c2") >= 2L))
      .reduce(_ union _)
      .groupBy("bk").agg(sum(col("c2")).as("c2"))
    val straddlers = atRead.join(perBatchPruned, Seq("bk"), "left_anti")
    assert(straddlers.count() > 0,
      "corpus has no generation-straddling bigrams — the pruning pin " +
        "is vacuous at this split")
    val wrong = rows(BigramLm.scores(BigramLm.pairs(docs),
      perBatchPruned, CorpusBuild.stateLmUnigramCounts(spark, state)))
    assert(wrong !== oneShot,
      "prune-per-batch fold scored identically — the pin lost its teeth")

    // … and compaction folds the count tables unchanged (still unpruned)
    CorpusBuild.compact(spark, state)
    CorpusBuild.pruneGenerations(spark, state, keep = 1)
    assert(rows(CorpusBuild.stateBigramScores(spark, state, docs))
        === oneShot,
      "compaction altered the bigram-LM state")
  }

  test("streamed CDC chunk-index state: the folded eval chunk index " +
      "serves EXACTLY q194's one-shot decontamination audit, and the " +
      "onCdc door surfaces each post-first batch's eval-shared chunks " +
      "against the standing index") {
    import graft.queries.ExtensionQueries
    val root = tempDir("docstream_cdc")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val cfg = CorpusBuild.Config(trackCdc = true)
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 400).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(lake)

    val screens =
      new scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long)]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      onCdc = df => screens.synchronized {
        screens += df.select("doc_id", "n_chunks", "n_eval_shared")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      })
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the door fired for batches 2 and 3 only (batch 1 had no standing
    // index to audit against)
    assert(screens.synchronized(screens.size) === 2,
      s"expected 2 door screens, got ${screens.size}")
    // batch 2's screen == auditing ALL of batch 2 against the chunk
    // index of batch 1's eval docs ALONE (the standing state), kept to
    // the rows with any shared chunk
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    val standingEval = ExtensionQueries.cdcChunkKeys(
        b1.filter(graft.ops.Splits.bucket(col("doc_id")) >= 90))
      .select("ck").distinct().withColumn("in_eval", lit(1L))
    val expected = b2
      .select(col("doc_id"),
        explode_outer(ExtensionQueries.cdcChunks(col("text"))).as("c"))
      .select(col("doc_id"), col("c.ck").as("ck"))
      .join(standingEval, Seq("ck"), "left_outer")
      .groupBy("doc_id")
      .agg(count(col("ck")).as("n_chunks"),
        coalesce(sum(coalesce(col("in_eval"), lit(0L))), lit(0L))
          .as("n_eval_shared"))
      .filter(col("n_eval_shared") > 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(expected.nonEmpty,
      "corpus has no batch-2-vs-batch-1-eval shared chunks — the door " +
        "assertion is vacuous at this split")
    assert(screens.synchronized(screens.head) === expected,
      "door screen diverged from auditing against the standing index")

    // streamed-fold ≡ one-shot: the state-served audit equals q194's
    // exact output over the same corpus
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getAs[Long]("doc_id")) // results are unordered
      .map(r => (0 until r.length).map(r.get).toSeq)
    val oneShot = rows(ExtensionQueries.q194_cdc_decontam(spark, sf))
    assert(rows(CorpusBuild.stateCdcDecontam(spark, state, docs))
        === oneShot,
      "state-served CDC decontamination diverged from the one-shot audit")

    // … and compaction folds the chunk index unchanged
    CorpusBuild.compact(spark, state)
    CorpusBuild.pruneGenerations(spark, state, keep = 1)
    assert(rows(CorpusBuild.stateCdcDecontam(spark, state, docs))
        === oneShot,
      "compaction altered the CDC chunk index")
  }

  test("streamed PII screen at the door: arriving PII is detected and " +
      "typed into the callback, and with redactPii the corpus state " +
      "folds ONLY redacted text (clean docs byte-identical)") {
    import spark.implicits._
    val root = tempDir("docstream_pii")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    def docRows(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "srcP", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // texts must clear the ingest quality floor (minTokens = 20)
    docRows(Seq(
      (1L, "mail me a1@b2.com or call 555-000-1234 soon because the " +
        "quarterly report needs their contact information before the " +
        "deadline arrives next monday morning"),
      (2L, "perfectly clean text body with no sensitive material at all " +
        "just ordinary words stretched out far enough to clear the " +
        "twenty token quality floor easily")))
      .coalesce(1).write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docRows(Seq(
      (3L, "node 10.1.2.3 rebooted overnight and the monitoring system " +
        "recorded the outage window while engineers traced the failing " +
        "switch port across both redundant paths")))
      .coalesce(1).write.mode("append").parquet(lake)

    val hits = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt,
      onPii = df => hits.synchronized {
        hits ++= df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      },
      redactPii = true)
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // the callback saw exactly the two dirty docs, typed correctly
    assert(hits.synchronized(hits.sortBy(_._1).toSeq) ===
      Seq((1L, 1L, 0L, 1L), (3L, 0L, 1L, 0L)),
      s"expected exactly the planted hits, got $hits")

    // the folded state never held raw PII: redacted markers present,
    // raw patterns absent, clean text untouched
    val docs = CorpusBuild.stateCorpus(spark, state)
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.keySet === Set(1L, 2L, 3L))
    assert(docs(1L).startsWith("mail me <EMAIL> or call <PHONE> soon"))
    assert(docs(2L).startsWith("perfectly clean text body"),
      "clean text must fold byte-identical")
    assert(docs(3L).startsWith("node <IP> rebooted"))
    assert(!docs.values.exists(t => t.contains("@") ||
      t.contains("555-000") || t.contains("10.1.2.3")),
      "raw PII leaked into the corpus state")
  }

  test("all seven ingest doors compose on ONE stream: declared per-batch " +
      "order, correct fire counts (PII every batch, state-gated doors " +
      "from batch 2), and pre-fold screening semantics survive the " +
      "composition") {
    import graft.ops.BigramLm
    val root = tempDir("docstream_alldoors")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val cfg = CorpusBuild.Config(trackFingerprints = true,
      trackClassifier = true, trackDsir = true, trackBigramLm = true,
      trackCdc = true, trackReleaseCc = true)
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 400).coalesce(1)
      .write.mode("append").parquet(lake)
    Thread.sleep(1200)
    docs.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(lake)

    // one shared event log: every door appends its name when invoked —
    // the likeliest regression as doors accumulate is an ordering or
    // gating slip that no single-door test can see
    val log = new scala.collection.mutable.ArrayBuffer[String]()
    def door(name: String): org.apache.spark.sql.DataFrame => Unit =
      df => log.synchronized {
        df.collect() // force the screen to actually run at door time
        log += name
      }
    val pplxScreens =
      new scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long)]]()
    val q = DocStream.ingestToState(
      DocStream.readDocumentStream(spark, lake), state, ckpt, cfg,
      onBatchOverlap = door("overlap"),
      onCrossSplit = door("crossSplit"),
      onPii = door("pii"),
      onQuality = door("quality"),
      onDsir = door("dsir"),
      onPerplexity = df => log.synchronized {
        pplxScreens += df.select("doc_id", "pplx_sum", "avg_q6").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        log += "pplx"
      },
      onCdc = door("cdc"))
    q.awaitTermination(180000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // batch 1: only the PII door (no standing state to screen against);
    // batches 2 and 3: every door, in the ingest's declared order
    val perBatch = Seq("pii", "overlap", "crossSplit", "quality", "dsir",
      "pplx", "cdc")
    assert(log.synchronized(log.toSeq) ===
      Seq("pii") ++ perBatch ++ perBatch,
      s"door order/gating drifted: ${log.synchronized(log.toSeq)}")

    // pre-fold semantics under composition: batch 2's perplexity screen
    // still equals scoring batch 2 against batch 1's standing model —
    // no other door (nor the fold itself) leaked batch 2 into the
    // model it is screened against
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    val expected = BigramLm.scores(BigramLm.pairs(b2),
        BigramLm.bigramDelta(b1), BigramLm.unigramDelta(b1))
      .select("doc_id", "pplx_sum", "avg_q6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pplxScreens.synchronized(pplxScreens.head) === expected,
      "composed doors changed the pre-fold perplexity screen")

    // and the fold underneath produced the same state a door-less
    // ingest would: the served card tiers read identical models
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getAs[Long]("doc_id")) // results are unordered
      .map(r => (0 until r.length).map(r.get).toSeq)
    assert(rows(CorpusBuild.stateBigramScores(spark, state, docs)) ===
      rows(graft.queries.FilterQueries.q187_bigram_perplexity(spark, sf)),
      "fold under full door composition diverged from the one-shot model")
    // the release-card CC fold streamed in micro-batches equals the
    // full exact-Jaccard recompute (q206's kept tier arriving through
    // the streaming door instead of three manual ingests)
    def labelSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelSet(CorpusBuild.stateReleaseCc(spark, state)) ===
      labelSet(graft.ops.TextDedup.dedupClusterRelation(
        docs, "doc_id", "text", "lang", 3, 0.5)),
      "streamed release-CC labeling diverged from the full recompute")
  }

  test("the web-archive tier is a STREAMING front door: .warc.gz " +
      "segments arriving as micro-batches fold to the same state as a " +
      "one-shot build over the recovered documents") {
    val root = tempDir("warcstream")
    val lake = root.resolve("lake").toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)

    // two crawl segments, id-monotone (dated crawl segments in arrival
    // order — the append-only contract the doc stream already pins)
    graft.web.WebLake.warcHttpFromDocs(spark, docs.filter(col("doc_id") < 250))
      .toDF().coalesce(1).write.mode("append").parquet(lake)
    Thread.sleep(1200)
    graft.web.WebLake.warcHttpFromDocs(spark,
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 400))
      .toDF().coalesce(1).write.mode("append").parquet(lake)

    // archive stream → warcToDocs (map-only, lifts to streaming
    // unchanged) → the SAME ingestToState as the document stream
    val q = DocStream.ingestToState(
      graft.web.WebLake.warcToDocs(spark,
        graft.web.WebLake.readArchiveStream(spark, lake)),
      state, ckpt)
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow stream failed to drain")
    q.exception.foreach(e => fail(s"stream failed: $e"))

    // reference: one-shot build over the docs recovered from ONE
    // archive fleet spanning the same corpus (recovery is
    // bucket-independent — same records either way)
    val recovered = graft.web.WebLake.warcToDocs(spark,
      graft.web.WebLake.warcHttpFromDocs(spark,
        docs.filter(col("doc_id") < 400)))
    val streamedKeep = CorpusBuild.stateSurvivors(spark, state)
      .collect().map(_.getLong(0)).toSet
    val fullKeep = CorpusBuild.survivors(recovered)
      .collect().map(_.getLong(0)).toSet
    assert(streamedKeep === fullKeep,
      s"archive-streamed state diverged: " +
        s"only-stream=${streamedKeep -- fullKeep} " +
        s"only-batch=${fullKeep -- streamedKeep}")
  }
}
