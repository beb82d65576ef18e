package graft

import org.apache.spark.sql.execution.{CoalesceExec, CollectLimitExec,
  ColumnarToRowExec, DeserializeToObjectExec, FilterExec, GlobalLimitExec,
  InputAdapter, LocalLimitExec, MapElementsExec, ProjectExec,
  SerializeFromObjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CompletenessQueries, CoreQueries, ExpansionQueries}

/** Physical-plan regression checks: the plan properties SCALE.md claims
  * are asserted here so a refactor can't silently regress them —
  * predicate pushdown reaching the scan, dimension broadcasts, hash (not
  * nested-loop) range joins, and the single-sort SCD2 window stack.
  */
class PlanSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // AQE finalizes the plan only after execution
    df.queryExecution.executedPlan.toString
  }

  /** Every registered query, built once with eager materialization off
    * so the dedup queries don't run their pipelines just to be
    * plan-inspected (iterative CC queries still execute by nature — a
    * driver loop has no single lazy plan). The suite audits below only
    * plan these, never execute them.
    */
  private lazy val suite: Seq[(String, org.apache.spark.sql.DataFrame)] =
    withConf("spark.graft.eagerMaterialize" -> "false") {
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .map { case (name, q) => name -> q(spark, sf) }
    }

  /** The ordering operator `plan` ends in, if any: a global SortExec or a
    * TakeOrderedAndProjectExec, found by looking through the AQE wrapper
    * and its query stages, a write or limit node, and projections,
    * filters, coalesces and codegen wrappers, none of which reorder rows.
    */
  private def terminalOrdering(plan: SparkPlan): Option[SparkPlan] =
    plan match {
      case s: SortExec => Some(s).filter(_.global)
      case t: TakeOrderedAndProjectExec => Some(t)
      case a: AdaptiveSparkPlanExec => terminalOrdering(a.executedPlan)
      case q: QueryStageExec => terminalOrdering(q.plan)
      case p @ (_: V2TableWriteExec | _: DataWritingCommandExec |
          _: WriteFilesExec | _: GlobalLimitExec | _: LocalLimitExec |
          _: CollectLimitExec | _: ProjectExec | _: FilterExec |
          _: CoalesceExec | _: WholeStageCodegenExec | _: InputAdapter |
          _: ColumnarToRowExec | _: AQEShuffleReadExec |
          _: DeserializeToObjectExec | _: SerializeFromObjectExec |
          _: MapElementsExec) => terminalOrdering(p.children.head)
      case _ => None
    }

  test("q35: the returnflag predicate is pushed to the parquet scan") {
    val plan = CompletenessQueries.q35_top_customers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
      || plan.contains("EqualTo(l_returnflag,R)"),
      s"lineitem scan must carry the pushed returnflag filter:\n$plan")
  }

  test("q133: both phrase-term key filters are PUSHED to the positions " +
      "scan — the index lookup reads posting lists, never the table") {
    val plan = graft.queries.TokenizerQueries.q133_state_phrase(spark, sf)
      .queryExecution.executedPlan.toString
    // xxhash64(lit(term)) folds to a literal, so each branch's scan must
    // carry an EqualTo on tk (two branches, two pushed term keys)
    assert("EqualTo\\(tk,-?\\d+\\)".r.findAllIn(plan).size >= 2,
      s"positions scans must carry the folded term-key filters:\n$plan")
  }

  test("q13: star-join dimensions broadcast; fact side is never broadcast") {
    val plan = executedPlan(CoreQueries.q13_star_join(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "equi star joins must never degrade to nested loops")
  }

  test("q47: the range join plans as a HASH join on the bin, not a nested loop") {
    val plan = executedPlan(ExpansionQueries.q47_range_join(spark, sf))
    assert(plan.contains("HashJoin"), s"expected a hash join on the bin key")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "bin bucketing exists precisely to avoid the nested-loop plan")
  }

  test("q49: vocab top-k runs as TakeOrdered; the rank window sees <=500 rows") {
    // the survivor stage (hidden behind topK's checkpoint in the full
    // query) must plan as parallel TakeOrdered, not a global sort
    val survivorPlan = executedPlan(graft.ops.Vocab.survivors(
      graft.queries.Tables.documents(spark, sf)
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.col("text")), "\\s+"))
          .as("token")), 500))
    assert(survivorPlan.contains("TakeOrderedAndProject"),
      s"top-k must plan as parallel TakeOrdered, not a global sort:\n$survivorPlan")
  }

  test("q49: the vocab rank is two-level — no unpartitioned WindowExec") {
    val plan = executedPlan(ExpansionQueries.q49_vocab(spark, sf))
    // every Window in the plan must be partitioned (the two-level rank
    // partitions by the range shard); a global row_number would print a
    // Window with an EMPTY partition spec and funnel the vocab into one task
    val unpartitioned = plan.linesIterator
      .filter(l => l.contains("Window ") && !l.contains("_shard"))
      .toList
    assert(unpartitioned.isEmpty,
      s"found Window not partitioned by the range shard:\n" +
        s"${unpartitioned.mkString("\n")}\nfull plan:\n$plan")
  }

  test("q72: the vocab joins map-side (broadcast); corpus never shuffles by token") {
    val plan = executedPlan(
      graft.queries.PrepQueries.q72_oov_stats(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"top-500 vocab must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus token stream must not shuffle for the vocab join:\n$plan")
  }

  test("state-served readouts never rescan the corpus table") {
    // THE point of stored state: serving a standing 100 TB corpus costs
    // index/state-sized reads. These queries' executed plans must read
    // only state-dir parquet (postings, positions, worddict, feed) — a
    // documents.parquet scan sneaking in means the serve path silently
    // degraded to the corpus-scan form. (q139 is exempt by design: it
    // loads the MODEL from state but tokenizes the corpus, which is one
    // scan of its input relation.)
    for (name <- Seq("q118_state_keyword_index", "q133_state_phrase",
        "q138_state_surprisal", "q142_state_vocab", "q121_state_feed")) {
      val plan = executedPlan(graft.SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("documents.parquet"),
        s"$name's serve plan scans the corpus:\n$plan")
    }
  }

  test("whole suite: every query plans, and no UNDECLARED nested-loop join") {
    // These queries cross tiny-by-construction sides on purpose (SCALE.md):
    // q21's broadcast all-pairs scorer, q31's 1-row corpus-size scalar,
    // q59's statuses×date-spine, q93's 1-row total-count scalar against
    // ≤30 vocab rows, q99's 1-row Σ√n scalar against per-source counts,
    // q114/q115's 1-row (N, avgdl) BM25 corpus-stats scalar,
    // q126/q127's 1-row min/max bucket-edge scalar broadcasts,
    // q167's exact-recall baseline (q21's scorer embedded verbatim —
    // the brute-force tier IS the ruler the curve is measured with).
    // Everything else must hash/broadcast-join — an accidental nested
    // loop is the classic silent 100×-scale killer.
    val declaredCross = Set("q21_cosine_top1", "q167_ivf_recall_curve",
      "q31_tfidf", "q59_gap_fill",
      "q93_vocab_coverage", "q99_temperature_mix",
      "q114_bm25_rank", "q115_bm25_gate",
      "q119_state_bm25_rank", "q120_state_bm25_gate",
      "q126_snapshot_drift", "q127_zorder_layout", "q132_collocations",
      "q136_surprisal", "q138_state_surprisal",
      // q174: NB scalar relation (totals/vocab/priors — 1-row) crossed
      // onto the vocabulary-sized model and the per-doc tf relation;
      // both are broadcast scalar joins, never a data-scale product
      "q174_nb_classifier",
      // q180: the same NB scalar crossJoins, state-served (the folded
      // count state derives the identical 1-row scalar relation)
      "q180_state_nb_classifier",
      // q179: the release card's quality tier embeds q174's NB scoring,
      // inheriting its declared 1-row scalar crossJoins
      "q179_release_card",
      // q187: q136's 1-row token-total scalar broadcast, reused for the
      // bigram model's backoff term
      "q187_bigram_perplexity",
      // q188: the DSIR model's 1-row smoothing-total scalar broadcast
      "q188_dsir_weights",
      // q189: the fixed 1-row query vector broadcast onto the corpus scan
      "q189_rrf_hybrid",
      // q190: embeds q187's perplexity tier, inheriting its declared
      // 1-row model-total scalar crossJoin
      "q190_curation_matrix",
      // q191: q188's scoring algebra over the folded state — the same
      // declared 1-row smoothing-total scalar broadcast
      "q191_state_dsir",
      // q196: q187's scoring algebra over the folded state — the same
      // declared 1-row token-total scalar broadcast
      "q196_state_perplexity",
      // q201: q187's scalar inherited, plus two of its own — the 1-row
      // easiest-source floor and the 1-row excess total, both over the
      // |sources|-bounded rollup
      "q201_source_reweight",
      // q203: q201's rollup over the folded state — the same declared
      // scalars (token total, floor, excess total)
      "q203_state_reweight",
      // q206: the state-served card inherits q180's NB-scalar and
      // q191's DSIR-smoothing-total 1-row broadcasts (both over
      // bounded fold relations; nothing corpus-scale is crossed)
      "q206_state_release_card",
      // q163: the card's weight_ppm column joins q201's rollup, which
      // carries its two declared 1-row scalars (easiest-source floor,
      // excess total) over the |sources|-bounded relation
      "q163_dataset_card")
    // sparkPlan (pre-AQE) compiles without executing the query
    val offenders = suite.flatMap { case (name, df) =>
      val plan = df.queryExecution.sparkPlan.toString
      val nested = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      if (nested && !declaredCross.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"undeclared nested-loop/cartesian joins in: $offenders")
  }

  test("whole suite: a query result ends in a global sort or top-k only " +
      "if SparkEntry.orderedResults declares it") {
    // a presentation sort costs two jobs per query (the range-bound
    // sampling job and the sort stage) and a range shuffle of the whole
    // result at scale; no sink reads query rows in order
    val declared = graft.SparkEntry.orderedResults.keySet
    val ordered = suite.collect { case (name, df)
        if terminalOrdering(df.queryExecution.executedPlan).isDefined => name }
    assert((ordered.toSet -- declared).isEmpty,
      s"undeclared terminal sorts in: ${ordered.toSet -- declared}")
    assert((declared -- ordered).isEmpty,
      s"declared ordered queries whose plan ends in no sort: " +
        (declared -- ordered))
  }

  test("the materialize-then-sort output helper stays deleted") {
    // results are unordered, so a helper that checkpoints a result to
    // make its presentation sort cheaper has nothing left to pay for
    import scala.jdk.CollectionConverters._
    val banned = Seq("sortedOut", "Materialize.ordered", "OrderedSyntax")
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}"
        }
      }.toSeq
    assert(hits.isEmpty, s"presentation-sort helper is back: $hits")
  }

  test("stored parquet in the queries and the corpus state is read only " +
      "through the schema resolver") {
    // a bare parquet read infers its schema with a Spark job on every call;
    // Tables.read resolves it once per (paths, stamp, confs)
    import scala.jdk.CollectionConverters._
    val bare = """read\s*\.\s*parquet\(""".r
    val dir = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(dir.resolve("queries"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Tables.scala").toSeq :+
      dir.resolve("pipeline/CorpusBuild.scala")
    val hits = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      bare.findAllMatchIn(text).map(m =>
        s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(files.size > 10, s"the guard scanned too few files: $files")
    assert(hits.isEmpty, s"bare parquet read outside Tables.read: $hits")
  }

  test("the terminal-ordering walk sees a sort through the AQE wrapper " +
      "and the write node") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val written = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        written.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val q01 = CoreQueries.q01_impute_minmax(spark, sf)
    def writePlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      written.clear()
      // the listener bus delivers asynchronously: wait for the event
      // before unregistering
      spark.listenerManager.register(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        written.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      } finally spark.listenerManager.unregister(listener)
    }
    val sorted = writePlan(q01.orderBy("l_orderkey"))
    assert(terminalOrdering(sorted).isDefined,
      s"a sorted write must be seen as ordered:\n$sorted")
    val unsorted = writePlan(q01)
    assert(unsorted != null && terminalOrdering(unsorted).isEmpty,
      s"q01 must write unsorted:\n$unsorted")
  }

  test("round-10 governance tier plans: the PII screen is MAP-ONLY " +
      "(no hash exchange — only the output sort's range partitioning), " +
      "and NB scoring reaches the model via BROADCAST hash join, never " +
      "shuffling corpus tokens against the vocabulary") {
    // (the results are unsorted, so no range exchange is expected either)
    val pii = graft.queries.PiiQueries.q172_pii_redact(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!pii.contains("hashpartitioning") &&
      !pii.contains("rangepartitioning"),
      s"q172 must ride the scan — detection/redaction shuffle nothing:\n$pii")
    val nb = graft.queries.ClassifierQueries
      .q174_nb_classifier(spark, sf).queryExecution.sparkPlan.toString
    assert(nb.contains("BroadcastHashJoin"),
      s"q174's model join must broadcast the vocabulary relation:\n$nb")
    val url = graft.queries.UrlQueries.q175_url_normalize(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!url.contains("hashpartitioning") &&
      !url.contains("rangepartitioning"),
      s"q175 must ride the scan — extraction/normalization shuffle " +
        s"nothing:\n$url")
  }

  test("q54: SCD2's two window passes share one exchange per window key") {
    val plan = executedPlan(ExpansionQueries.q54_scd2(spark, sf))
    val exchanges = "Exchange".r.findAllIn(plan).length
    // one hashpartitioning exchange for the windows + one range exchange
    // for the final presentation sort (+ AQE wrappers reuse, not add)
    assert(exchanges <= 4, s"window stack grew extra shuffles:\n$plan")
    assert(!plan.contains("Join"), "SCD2 must not plan any self-join")
  }

  test("q87: the bloom probe filters fact rows BEFORE the closing join") {
    val plan = executedPlan(
      graft.queries.CurationQueries.q87_bloom_semijoin(spark, sf))
    val probeAt = plan.indexOf("bloommightcontain")
    val joinAt = "(?i)join".r.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(probeAt >= 0, s"bloom probe missing from plan:\n$plan")
    assert(joinAt >= 0, s"closing semi-join missing from plan:\n$plan")
    // executedPlan prints top-down: the probe Filter must sit BELOW the
    // join (appear after it in the string), i.e. on the scan side
    assert(probeAt > joinAt,
      s"bloom probe is not below the closing join:\n$plan")
  }

  test("q94: the corpus token stream maps against a BROADCAST vocab " +
      "(no shuffle of the corpus by token)") {
    val plan = executedPlan(
      graft.queries.CurationQueries.q94_tokenize(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n$plan")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"corpus tokens must not shuffle for the vocab join:\n$plan")
  }

  test("q95: no doc-scale window partitions by bare source (pack skew contract)") {
    // force multiple shards even on the tiny test corpus so the plan under
    // inspection is the real hierarchical one
    spark.conf.set("spark.graft.packShardRows", "100")
    try {
      val plan = executedPlan(
        graft.queries.CurationQueries.q95_pack(spark, sf))
      val finalPlan = plan.split("== Initial Plan ==")(0)
      // the skewed shape: Window [...], [source#N], [doc_id#M ...] — a
      // per-source running sum whose sort sees every doc of a source
      val bare = """\[source#\d+\], \[doc_id#""".r
      assert(bare.findFirstIn(finalPlan).isEmpty,
        s"a doc-ordered window partitions by bare source — one dominant " +
          s"source serializes through a single task:\n$plan")
      // and the doc-scale window really partitions by (source, shard)
      assert(finalPlan.contains("_shard"),
        s"expected the hierarchical (source, _shard) pack windows:\n$plan")
    } finally spark.conf.unset("spark.graft.packShardRows")
  }

  test("q100: the globally-shuffled pack never runs a doc-scale global " +
      "window — unpartitioned windows may consume only the per-shard " +
      "aggregate") {
    // a global epoch order is the classic place an implementation slips
    // in `row_number() over (order by key)` — one task sorts the corpus.
    // In the global pack the constant mix column folds out of the rebase
    // window's partition spec, so that window IS unpartitioned — which is
    // fine exactly when its input is the per-shard aggregate (one row per
    // shard, bounded by keyspace/shardRows), never the doc relation.
    import org.apache.spark.sql.catalyst.plans.logical
    val windows = graft.queries.MixQueries.q100_shuffle_pack(spark, sf)
      .queryExecution.optimizedPlan.collect { case w: logical.Window => w }
    assert(windows.nonEmpty, "expected the hierarchical pack windows")
    val (global, sharded) = windows.partition(_.partitionSpec.isEmpty)
    assert(sharded.nonEmpty &&
      sharded.forall(_.partitionSpec.exists(_.toString.contains("_shard"))),
      s"the doc-scale window must partition by the range shard:\n$windows")
    global.foreach { w =>
      val agg = w.child.collectFirst { case a: logical.Aggregate => a }
      assert(agg.isDefined,
        s"unpartitioned window consumes non-aggregated (doc-scale) input:\n$w")
      assert(agg.get.groupingExpressions.exists(_.toString.contains("_shard")),
        s"unpartitioned window's aggregate is not per-shard:\n${agg.get}")
    }
  }

  test("q101/q102: no shingle STRING ever reaches an Exchange — windows " +
      "shuffle as 8-byte xxhash64 keys") {
    // a k-token shingle string is ~10x the row's payload; shuffling it as
    // a join/group key is the constant-factor the xxhash64 key removes.
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    // read-spread repartitions of the raw scan (RoundRobin, from
    // Tables.documents) legitimately carry `text`; the contract is about
    // KEY shuffles — hash/range exchanges that group, join, or sort.
    // sparkPlan predates EnsureRequirements (no key exchanges yet) and
    // AQE wraps executedPlan in a leaf node, so: AQE off, executedPlan —
    // fully planned, never executed.
    def keyExchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
        .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
    spark.conf.set("spark.graft.eagerMaterialize", "false")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // q101 is pure positional arithmetic: every key shuffle must be
      // string-free end to end
      val ex101 = keyExchanges(
        graft.queries.MixQueries.q101_dup_spans(spark, sf))
      assert(ex101.nonEmpty, "expected key shuffles in the span audit")
      val strings101 = ex101.flatMap(_.output.filter(_.dataType == StringType))
      assert(strings101.isEmpty,
        s"q101 shuffles string columns: ${strings101.map(_.name)}")
      // q102 reassembles text, so its per-doc aggregate legitimately
      // shuffles `tok` (proportional to OUTPUT); the shingle relation
      // itself must still shuffle hashed — no `sh` attribute anywhere
      val ex102 = keyExchanges(
        graft.queries.MixQueries.q102_dup_span_removal(spark, sf))
      val stringNames102 =
        ex102.flatMap(_.output.filter(_.dataType == StringType)).map(_.name)
      assert(!stringNames102.contains("sh"),
        s"q102 shuffles the raw shingle string")
      assert(stringNames102.toSet.subsetOf(Set("tok", "ct", "clean_text")),
        s"q102 shuffles unexpected strings: $stringNames102")
      // q107's bigram LM statistics follow the same discipline: the count
      // table and per-doc join key on xxhash64, all-numeric end to end
      val ex107 = keyExchanges(
        graft.queries.TokenizerQueries.q107_ngram_lm_score(spark, sf))
      assert(ex107.nonEmpty, "expected key shuffles in the LM scorer")
      val strings107 = ex107.flatMap(_.output.filter(_.dataType == StringType))
      assert(strings107.isEmpty,
        s"q107 shuffles string columns: ${strings107.map(_.name)}")
      // the stored-posting SERVE path (q118): the generation fold and the
      // term lookup key on xxhash64 — no token string in any Exchange
      // (the ingest side necessarily shuffles text once, to store docs)
      val ex118 = keyExchanges(graft.pipeline.CorpusBuild.stateKeywordCore(
        spark, graft.queries.TokenizerQueries.ensurePostingState(spark, sf),
        graft.queries.TokenizerQueries.SearchTerms))
      assert(ex118.nonEmpty, "expected key shuffles in the posting fold")
      val strings118 = ex118.flatMap(_.output.filter(_.dataType == StringType))
      assert(strings118.isEmpty,
        s"q118 serve path shuffles string columns: ${strings118.map(_.name)}")
      // the winnow path (q143 + the q144 state serve): fingerprints are
      // md5 hex WITHIN the row (oracle-portable window-min) but every
      // Exchange keys on the 8-byte xxhash64 re-key — no hex string in
      // any key shuffle. q143's plan before the final sort:
      val ex143 = keyExchanges(graft.queries.ExtensionQueries
        .winnowOverlapPairs(graft.queries.ExtensionQueries
          .winnowFpKeys(graft.queries.Tables.documents(spark, sf))))
      assert(ex143.nonEmpty, "expected key shuffles in the winnow overlap")
      val strings143 = ex143.flatMap(_.output.filter(_.dataType == StringType))
      assert(strings143.isEmpty,
        s"q143 shuffles string columns: ${strings143.map(_.name)}")
      // the state serve path — stored fpk + batch re-key, joined on fpk
      val stateDir = graft.queries.TokenizerQueries.ensurePostingState(spark, sf)
      val ex144 = keyExchanges(graft.pipeline.CorpusBuild.stateWinnowOverlap(
        spark, stateDir, graft.queries.Tables.documents(spark, sf).limit(50)))
      assert(ex144.nonEmpty, "expected key shuffles in the state winnow serve")
      val strings144 = ex144.flatMap(_.output.filter(_.dataType == StringType))
      assert(strings144.isEmpty,
        s"q144 serve path shuffles string columns: ${strings144.map(_.name)}")
    } finally {
      spark.conf.unset("spark.graft.eagerMaterialize")
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q91: the five-column profile runs as ONE scan of the table") {
    val plan = executedPlan(
      graft.queries.CurationQueries.q91_profile(spark, sf))
    // AQE toString repeats the plan under "== Initial Plan ==" — count
    // scans only in the final section
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val scans = "FileScan".r.findAllIn(finalPlan).length
    assert(scans == 1, s"profile re-scanned the table ($scans scans):\n$plan")
  }

  test("q198: the state-served fertility path carries NO dict-scale " +
      "aggregate — the merge table is a stored-artifact scan, while " +
      "q192's in-query learn does aggregate the word dict") {
    val dir = graft.queries.TokenizerQueries.ensurePostingState(spark, sf)
    // the tokenizer LOAD: a parquet scan of the stored merge snapshot,
    // no aggregate keyed on the corpus word dict
    val loadPlan = graft.pipeline.CorpusBuild.stateBpeMerges(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!loadPlan.contains("Aggregate"),
      s"stored-merge load aggregates:\n$loadPlan")
    // the served report: tokenize + metadata join + ONE per-language
    // rollup — no aggregate keyed on `word` anywhere in the plan
    val served = graft.queries.TokenizerQueries
      .q198_state_fertility(spark, sf)
    val servedPlan = served.queryExecution.sparkPlan.toString
    assert(!servedPlan.contains("keys=[word"),
      s"served fertility still aggregates the word dict:\n$servedPlan")
    // contrast: the in-query tier's dict build DOES (the cost q198 sheds)
    val dictPlan = graft.ops.Bpe.wordDict(
        graft.queries.Tables.documents(spark, sf), "text")
      .queryExecution.sparkPlan.toString
    assert(dictPlan.contains("keys=[word"),
      s"contrast lost its teeth — wordDict no longer groups by word:\n" +
        dictPlan)
  }

  test("q206: the state-served release card carries NO corpus-rescan " +
      "model tier — no NB train aggregate keyed on (label, tok) and no " +
      "media-decode object pipeline; the in-query card q179 has both") {
    // materialize the memos/state first so the served plan is the
    // steady-state one (not a first-demand build)
    graft.queries.TokenizerQueries.ensurePostingState(spark, sf)
    graft.queries.ReleaseQueries.q179_release_card(spark, sf).collect()
    val served = graft.queries.ReleaseQueries
      .q206_state_release_card(spark, sf)
    val servedPlan = served.queryExecution.sparkPlan.toString
    // NB TRAIN's visible in-plan signature (r16 single-pass shape: the
    // vocab aggregate is checkpointed out of the plan, so what remains
    // in-query is the label-conditional class-count scalar pass over
    // the corpus); the served model derives from the folded
    // (tk, c0, c1) delta table and stored scalars instead
    assert(!servedPlan.contains("keys=[label"),
      s"served card still trains the NB model:\n$servedPlan")
    assert(!servedPlan.contains("CASE WHEN (label"),
      s"served card still scans the corpus for NB class counts:\n$servedPlan")
    // the media tier is a memo scan, not an encode->corrupt->decode
    // object pipeline (MediaRow mapPartitions shows up as obj_to_row
    // serialization in the physical plan)
    assert(!servedPlan.contains("SerializeFromObject"),
      s"served card still decodes the media lake:\n$servedPlan")
    // the kept tier serves the STORED incremental-CC fold (r14 verdict
    // item: the last cold-session recompute) — no exact-Jaccard verify
    // (and hence no pair-generation candidate join) in the served plan,
    // which instead scans the cclabels delta chain
    assert(!servedPlan.contains("sortedoverlapcount"),
      s"served card still generates dedup pairs:\n$servedPlan")
    assert(servedPlan.contains("cclabels"),
      s"served card does not scan the stored CC labels:\n$servedPlan")
    // contrast: the in-query card's plan DOES train and decode — the
    // r16 train's in-plan signature is the label-conditional class
    // count pass (the vocab aggregate itself is checkpointed while the
    // DataFrame is built, so `keys=[label` left the plan with the
    // single-pass pivot; NaiveBayesSpec pins the model values)
    val inQueryPlan = graft.queries.ReleaseQueries
      .q179_release_card(spark, sf).queryExecution.sparkPlan.toString
    assert(inQueryPlan.contains("CASE WHEN (label"),
      "contrast lost its teeth — q179 no longer trains NB in-query:\n" +
        inQueryPlan)
    assert(inQueryPlan.contains("SerializeFromObject"),
      "contrast lost its teeth — q179 no longer decodes the lake:\n" +
        inQueryPlan)
    // and the two cards agree row for row (the oracle also enforces
    // this cross-engine; here it is pinned engine-side)
    // (both are unordered: compare in `source` order)
    def bySource(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getAs[String]("source")).map(_.toSeq)
    val a = bySource(graft.queries.ReleaseQueries.q179_release_card(spark, sf))
    val b = bySource(served)
    assert(a.toSeq === b.toSeq,
      "state-served card diverged from the in-query card")
  }

  test("q208: the matrix with its CDC tier served from stored state " +
      "equals the in-query matrix q190, row for row") {
    // both are unordered per-document relations: compare in doc_id order
    def byDoc(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getAs[Long]("doc_id")).map(_.toSeq).toSeq
    val inQuery = byDoc(
      graft.queries.CurationQueries.q190_curation_matrix(spark, sf))
    val served = byDoc(
      graft.queries.CurationQueries.q208_state_curation_matrix(spark, sf))
    assert(inQuery.nonEmpty)
    assert(served === inQuery,
      "state-served curation matrix diverged from the in-query matrix")
  }

  test("web-archive tier plans: every walk is map-only past the ONE " +
      "long-keyed synthesis exchange; robots audit and boilerplate " +
      "extract are pure map; no string-keyed shuffle anywhere") {
    // At 100 TB the synthesis exchange is replaced by binaryFile scans
    // of real archives — the walks must add NO shuffle of their own, and
    // their results are unsorted, so no range exchange either.
    val oneExchange = Seq("q212_gzip_member_census",
      "q213_warc_record_census", "q214_cdx_index", "q215_gzip_quarantine",
      "q216_web_extract", "q219_http_census", "q220_http_quarantine",
      "q221_http_extract",
      // q227/q228: the warc.zst tier has the same one-synthesis shape
      "q227_warczst_index", "q228_warczst_quarantine",
      // q229: jsonl.zst synthesis groups once; from_json is map-side
      "q229_jsonl_roundtrip",
      // q218: no synthesis, but the schedule's window partitions per
      // host queue — its one exchange. The per-host window keys on the
      // SOURCE STRING deliberately: hosts are low-cardinality dimension
      // keys (the 8-byte discipline is for corpus-scale keys), and a
      // hash-derived key would let two colliding hosts silently
      // interleave their politeness numbering.
      "q218_fetch_schedule")
    val stringKeyedWindows = Set("q218_fetch_schedule")
    // executedPlan prints the AQE final plan AND the initial plan —
    // count exchanges in the final section only
    def finalSection(plan: String): String =
      plan.split("== Initial Plan ==").head
    for (name <- oneExchange) {
      val plan = finalSection(
        executedPlan(graft.SparkEntry.queries(name)(spark, sf)))
      val hashEx = plan.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(hashEx === 1,
        s"$name: expected exactly one hash exchange, found $hashEx:\n$plan")
      assert(!plan.contains("rangepartitioning"),
        s"$name sorts its result:\n$plan")
      if (!stringKeyedWindows(name))
        assert(!plan.contains("hashpartitioning(src") &&
          !plan.contains("hashpartitioning(source"),
          s"$name shuffles on a string key:\n$plan")
    }
    // the per-doc tiers (no archive grouping at all): pure map — the
    // r16 container queries (brotli, PDF-1.5, MP3 side info, H.264
    // macroblocks) join the pin: every walk must ride the scan
    for (name <- Seq("q217_robots_audit", "q222_boilerplate_extract",
        "q225_zstd_frame_census", "q226_zstd_quarantine",
        "q230_compression_sniff", "q232_zstd_entropy_census",
        "q246_brotli_census", "q247_brotli_quarantine",
        "q255_brotli_entropy_census", "q248_pdf15_census",
        "q249_pdf15_quarantine", "q250_pdf15_extract",
        "q251_mp3_sideinfo", "q252_mp3_si_quarantine",
        "q253_h264_mb_census", "q254_h264_mb_quarantine")) {
      val plan = finalSection(
        executedPlan(graft.SparkEntry.queries(name)(spark, sf)))
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("rangepartitioning"),
        s"$name must be map-only:\n$plan")
    }
  }
}
