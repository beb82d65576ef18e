package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.ops.Bpe

/** Round-6 tokenizer-training surface: the q49/q93/q94/q95 tokenizer-prep
  * spine (vocab, coverage, tokenize, pack) learns an actual trained
  * artifact — a BPE merge table. The merge sequence is integer/string
  * exact (counts + binary string tie-breaks), so a second engine replays
  * it bit-for-bit: the oracle below is the SAME eight merge rounds
  * unrolled in SQL, both engines applying merges with literal
  * left-to-right string replace over ␟-wrapped symbol strings (see
  * [[Bpe]]).
  */
object TokenizerQueries {

  type Q = (SparkSession, String) => DataFrame

  private[graft] val NumMerges = 8

  /** q105 — BPE merge learning over the documents word dict: top-8 merges
    * with (count DESC, pair lexicographic) tie-breaks. The corpus is
    * touched ONCE (the word-frequency aggregate); every round after that
    * is dict-scale — a pair-count partial/final aggregate and a 1-row
    * argmax collect, driver-paced like the CC fixpoint.
    */
  val q105_bpe_merges: Q = (s, d) =>
    Bpe.learnMerges(Bpe.wordDict(Tables.documents(s, d), "text"),
      "word", "n", NumMerges)

  private def lhsOf(p: String) = s"string_split($p, chr(31))[1]"
  private def rhsOf(p: String) = s"string_split($p, chr(31))[2]"

  /** q105's merge learning as oracle CTEs, the NumMerges rounds
    * unrolled: d0 = the ␟-wrapped word dict, dN = the dict after N
    * merges, bN = round N's winning pair. DuckDB's replace is
    * left-to-right non-overlapping like Spark's, and chr(31) sits below
    * every printable codepoint, so `ORDER BY n DESC, p`
    * (p = lhs||chr(31)||rhs) is exactly the (count DESC, lhs, rhs)
    * tie-break. q105Sql reads b1..bN; q108Sql also applies them.
    */
  private val bpeLearnSql: String = {
    val rounds = (1 to NumMerges).map { r =>
      val dPrev = s"d${r - 1}"
      val dNext =
        if (r == NumMerges) "" // the final dict is never read
        else s""",
          |d$r AS (
          |  SELECT cnt, replace(s,
          |      chr(31) || ${lhsOf("p")} || chr(31) || chr(31) ||
          |        ${rhsOf("p")} || chr(31),
          |      chr(31) || ${lhsOf("p")} || ${rhsOf("p")} || chr(31)) AS s
          |  FROM $dPrev, b$r)""".stripMargin
      s"""p$r AS (
         |  SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest([l[i] || chr(31) || l[i+1]
         |                        for i in generate_series(1, len(l)-1)]) AS p
         |    FROM (SELECT cnt,
         |            string_split(s[2:len(s)-1], chr(31) || chr(31)) AS l
         |          FROM $dPrev))
         |  GROUP BY p),
         |b$r AS (SELECT p, n FROM p$r ORDER BY n DESC, p LIMIT 1)$dNext"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH d0 AS (
       |  SELECT cnt,
       |    chr(31) || array_to_string(
       |      [word[i] for i in generate_series(1, len(word))],
       |      chr(31) || chr(31)) || chr(31) AS s
       |  FROM (
       |    SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |      FROM documents)
       |    WHERE len(word) > 0 GROUP BY word)),
       |$rounds""".stripMargin
  }

  val q105Sql: String = {
    val readout = (1 to NumMerges).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, ${lhsOf("p")} AS lhs,
         |  ${rhsOf("p")} AS rhs, n FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$bpeLearnSql
       |SELECT * FROM (
       |$readout)
       |ORDER BY merge_rank""".stripMargin
  }

  /** q107 — count-statistics LM scoring: the data-quality signal a KenLM
    * perplexity filter approximates, restated in INTEGER statistics so it
    * is oracle-exact (log-probabilities are not correctly-rounded
    * cross-engine; counts are): per doc, over its adjacent token bigrams
    * — how many, their summed corpus-wide frequency, how many are
    * corpus-hapax (frequency 1 = seen nowhere else), and an integer-ppm
    * mean frequency. Low mean frequency + high hapax share = the
    * improbable-text tail a perplexity filter would drop; the counts
    * table is the trained "LM".
    *
    * Scale shape: one shuffle builds the bigram count table (map-side
    * combined, 8-byte xxhash64 keys — the q101 discipline; the oracle
    * groups the bigram STRINGS and hash-collisions are the same
    * negligible risk adjudicated there); the per-doc join carries
    * (doc_id, key) pairs; per-doc aggregation is partial+final. A doc's
    * own occurrences count toward its bigrams' frequencies (no
    * leave-one-out — documented, matches the oracle).
    */
  /** The per-doc bigram key relation (doc_id, bk), bk = xxhash64 of the
    * adjacent token pair — shared by q107 and the stored-state LM count
    * table ([[graft.pipeline.CorpusBuild]]).
    */
  private[graft] def bigramOcc(docs: DataFrame): DataFrame = {
    val ws = TextAnalysis.tokens(col("text"))
    docs.filter(size(ws) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(ws) - 1),
          i => xxhash64(concat_ws(" ", slice(ws, i, lit(2)))))).as("bk"))
  }

  val q107_ngram_lm_score: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bigrams = graft.ops.TextDedup.maybeMaterialize(bigramOcc(docs))
    lmReadout(docs, bigrams, bigrams.groupBy("bk").agg(count(lit(1)).as("n")))
  }

  /** The per-doc LM readout: `bigrams` (doc_id, bk) scored against the
    * bigram count table `counts` (bk, n), one row per doc of `docs`
    * (docs without bigrams read 0). Shared by q107 (counts built
    * in-query) and [[graft.pipeline.CorpusBuild.stateLmScore]] (counts
    * folded from state).
    */
  private[graft] def lmReadout(docs: DataFrame, bigrams: DataFrame,
      counts: DataFrame): DataFrame = {
    val perDoc = bigrams.join(counts, "bk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("n")).as("sum_freq"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        expr("(1000000 * coalesce(sum_freq, 0L)) " +
          "DIV greatest(coalesce(n_bigrams, 0L), 1L)").as("mean_freq_ppm"))
  }

  val q107Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest([array_to_string(ws[i:i+1], ' ')
      |            for i in generate_series(1, len(ws) - 1)]) AS b
      |  FROM t WHERE len(ws) >= 2),
      |c AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY b),
      |pd AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(n) AS BIGINT) AS sum_freq,
      |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM bg JOIN c USING (b) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(pd.sum_freq, 0) AS BIGINT) AS sum_freq,
      |  CAST(COALESCE(pd.n_hapax, 0) AS BIGINT) AS n_hapax,
      |  CAST((1000000 * COALESCE(pd.sum_freq, 0))
      |    // greatest(COALESCE(pd.n_bigrams, 0), 1) AS BIGINT)
      |    AS mean_freq_ppm
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q108 — BPE corpus tokenization: apply q105's learned merge table to
    * every document and read out per-doc whitespace-token vs BPE-symbol
    * counts (the compression curve that justifies a vocab size). The doc
    * is represented as its ␟-wrapped words joined by spaces, so the
    * SAME literal replace chain that trained the merges applies them —
    * merges cannot cross word boundaries (a pattern needs ␟␟ between
    * symbols; the boundary is "␟ ␟") and symbol counting is
    * separator-count/2. After the dict-scale merge learning, this is a
    * PER-ROW projection: the corpus is scanned once, nothing shuffles,
    * no token-dict join at all.
    */
  val q108_bpe_tokenize: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = Bpe.learnMerges(Bpe.wordDict(docs, "text"),
        "word", "n", NumMerges)
      .orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    Bpe.tokenizeDocs(docs, merges.toIndexedSeq)
  }

  /** q105's learn chain (b1..bN) + an apply chain: per doc, the same
    * ␟-wrapped representation threads through the N replaces in rank
    * order, then symbols = separator-count/2.
    */
  val q108Sql: String = {
    val applyChain = (1 to NumMerges).map { r =>
      s"""t$r AS (
         |  SELECT doc_id, n_tokens, replace(s,
         |      chr(31) || ${lhsOf("p")} || chr(31) || chr(31) ||
         |        ${rhsOf("p")} || chr(31),
         |      chr(31) || ${lhsOf("p")} || ${rhsOf("p")} || chr(31)) AS s
         |  FROM t${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""$bpeLearnSql,
       |t0 AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    array_to_string(
       |      [chr(31) || array_to_string(
       |         [w[i] for i in generate_series(1, len(w))],
       |         chr(31) || chr(31)) || chr(31)
       |       for w in list_filter(string_split_regex(trim(text), '\\s+'),
       |                            w -> len(w) > 0)],
       |      ' ') AS s
       |  FROM documents),
       |$applyChain
       |SELECT doc_id, n_tokens,
       |  CAST((len(s) - len(replace(s, chr(31), ''))) // 2 AS BIGINT)
       |    AS n_bpe_symbols,
       |  CAST((1000000 * ((len(s) - len(replace(s, chr(31), ''))) // 2))
       |    // greatest(n_tokens, 1) AS BIGINT) AS expansion_ppm
       |FROM t$NumMerges
       |ORDER BY doc_id""".stripMargin
  }

  /** q110 — inverted-index keyword search with INTEGER ranking: docs
    * ranked by (distinct query terms matched DESC, summed term frequency
    * DESC, doc_id) for a fixed query-term set, top 20. The integer rank
    * triple is the oracle-exact core of keyword retrieval — float BM25
    * layers an `ln` idf on top of exactly these (tf, df) statistics, and
    * `ln` is not correctly-rounded cross-engine, so the scoring the
    * oracle CAN check is the count layer (the BM25 float layer is a
    * per-row projection over it at the caller's choice of engine).
    *
    * Scale shape: the token explode filters to the query terms FIRST
    * (a broadcast-sized literal set — the filter reaches the generator
    * side), so the per-doc aggregate sees only matching occurrences;
    * top-20 is TakeOrdered, never a global sort.
    */
  /** The keyword-search query terms shared by q110/q114/q115. */
  private[graft] val SearchTerms = Seq("spark", "data", "query", "join")

  /** The UNLIMITED per-doc match statistics of [[SearchTerms]] — q110's
    * count core without the top-20: (doc_id, n_terms, total_tf) for every
    * matching doc. The exact integer layer the BM25 float layer (q114)
    * is audited against (q115).
    */
  private[graft] def keywordMatchCore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(SearchTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("total_tf"))

  // The match core shared between its own tier query (q110 publishes)
  // and its readers, the q115 gate and the q116 population audit, which
  // serve it instead of re-exploding the corpus. At most one 3-long row
  // per matching doc.
  private val matchCore = new graft.ops.Materialize.Shared[
    (SparkSession, String)]({ case (s, d) =>
      graft.ops.Materialize(keywordMatchCore(s, d)) })

  private[graft] def publishMatchCore(s: SparkSession, d: String): DataFrame =
    matchCore.publish((s, d))

  private[graft] def serveMatchCore(s: SparkSession, d: String): DataFrame =
    matchCore.serve((s, d))

  val q110_keyword_search: Q = (s, d) =>
    publishMatchCore(s, d)
      .orderBy(col("n_terms").desc, col("total_tf").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"), col("total_tf"))

  /** BM25 top-k over [[SearchTerms]] — the float ranking layer. Kept as a
    * separate helper so q114 (the readout) and q115 (the gate) share one
    * definition: per (doc, term) tf from the filtered explode, df per
    * term (broadcast — the term list is literal-sized), doc length and
    * corpus avgdl from one stats pass, then the Robertson/Lucene scoring
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    *   w(d,t) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * summed per doc. Everything except the final ln/division is the
    * integer statistics q110 oracle-checks; the float layer reorders but
    * never invents candidates — the q115 gate pins exactly that.
    *
    * Scale shape: the term filter reaches the token generator (only
    * matching occurrences survive the explode), df and the corpus stats
    * are broadcast scalars, and top-k is TakeOrdered — no global sort,
    * no corpus-keyed shuffle beyond the per-doc aggregate.
    */
  private[graft] def bm25TopK(s: SparkSession, d: String,
      k: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val dl = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("double").as("dl"))
    val tf = docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(SearchTerms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25FromStats(tf, dl, k)
  }

  /** The BM25 scoring definition itself, over already-extracted
    * statistics — shared by the in-query form (q114, stats from a corpus
    * scan) and the stored-state form (q119, stats from the posting/
    * doc-length state tables), so the two can only diverge in where the
    * statistics COME FROM, never in how they are scored.
    *
    * @param tf (doc_id, tok, tf: double) — term frequency per matching
    *           (doc, term); `tok` may be any equatable key (string or
    *           xxhash64)
    * @param dl (doc_id, dl: double) — token count per CORPUS doc (all
    *           docs, not just matches: N and avgdl come from here)
    */
  private[graft] def bm25FromStats(tf: DataFrame, dl: DataFrame,
      k: Int): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dfreq = tf.groupBy("tok")
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
          * (col("tf") * (k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score"),
        count(lit(1)).as("n_terms"),
        sum(col("tf")).cast("long").as("total_tf"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** q114 — BM25 keyword ranking, FULLY oracle-checked (r16: the
    * rows-only era is over): the DuckDB oracle recomputes the whole
    * Robertson scoring — idf, per-term weight, per-doc sum — from the
    * same integer statistics with the same operation order, and the
    * 6-decimal quantization both sides emit absorbs the ≤ a-few-ulp
    * `ln`/summation-order wiggle between engines (every input to every
    * division is integer-exact in double, so the only non-identical
    * steps are `ln` itself, 1-ulp-bounded per engine, and the ≤ 4-term
    * per-doc sum). Its integer core stays q110's oracle row and its
    * candidate/statistics consistency q115's gate.
    */
  val q114_bm25_rank: Q = (s, d) =>
    bm25TopK(s, d)
      .select(col("doc_id"), round(col("score"), 6).as("bm25"),
        col("n_terms"), col("total_tf"))

  /** The full-scoring BM25 oracle shared by q114 (stats from the corpus
    * scan) and q119 (stats from the stored posting state — the state
    * must reproduce the scan's scoring bit-for-bit at 6 decimals, which
    * also oracle-checks the fold).
    */
  val q114Sql: String =
    """WITH dl AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
      |  FROM dl),
      |tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok IN ('spark', 'data', 'query', 'join')
      |  GROUP BY doc_id, tok),
      |dfreq AS (
      |  SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |  FROM tf GROUP BY tok),
      |w AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS w,
      |    tf.tf AS tf
      |  FROM tf JOIN dfreq d USING (tok)
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN stats s),
      |sc AS (
      |  SELECT doc_id, sum(w) AS score, count(*) AS n_terms,
      |    CAST(sum(tf) AS BIGINT) AS total_tf
      |  FROM w GROUP BY doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS bm25,
      |  CAST(n_terms AS BIGINT) AS n_terms, total_tf
      |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** The q115 violation relation, factored so CurationGateSpec can poison
    * a top-k row and prove the gate fires: every BM25 top-k row must
    * appear in the exact match core with IDENTICAL integer statistics —
    * the float layer may only reorder the exact layer's candidate set.
    */
  private[graft] def bm25Gate(topk: DataFrame, core: DataFrame): DataFrame =
    topk
      .join(core.select(col("doc_id"), col("n_terms").as("core_n_terms"),
        col("total_tf").as("core_total_tf")), Seq("doc_id"), "left")
      .filter(col("core_n_terms").isNull ||
        col("core_n_terms") =!= col("n_terms") ||
        col("core_total_tf") =!= col("total_tf"))
      .select(col("doc_id"), col("n_terms"), col("total_tf"),
        col("core_n_terms"), col("core_total_tf"))

  /** q115 — BM25/count-core consistency gate, driver-visible (the q88
    * pattern: the float layer audited by the exact layer): result must
    * be EMPTY. A scoring refactor that invents candidates, loses a
    * term's occurrences, or drifts the integer statistics surfaces here.
    */
  val q115_bm25_gate: Q = (s, d) =>
    bm25Gate(bm25TopK(s, d), serveMatchCore(s, d))

  val q115Sql: String =
    """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_terms,
      |  CAST(NULL AS BIGINT) AS total_tf,
      |  CAST(NULL AS BIGINT) AS core_n_terms,
      |  CAST(NULL AS BIGINT) AS core_total_tf
      |WHERE false""".stripMargin

  /** (doc_id, tk = xxhash64(token)), one row per token occurrence — the
    * posting-delta generator for `CorpusBuild.trackPostings`. Tokens ride
    * as 8-byte hashes from the start, so no token string ever reaches an
    * Exchange (the PlanSpec shingle/bigram contract, applied to the
    * inverted index).
    */
  private[graft] def tokenOcc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("tk"))

  /** POSITIONAL token occurrences — (doc_id, pos, tk), one row per token,
    * 1-based positions (the oracle's generate_series convention) — the
    * positions-delta generator for `CorpusBuild.trackPositions`. Same
    * hash-from-the-start discipline as [[tokenOcc]].
    */
  private[graft] def tokenOccPos(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        xxhash64(col("tok")).as("tk"))

  /** Run-scoped posting-state directory (q104's pid discipline, keyed by
    * sf dir so different scales in one process cannot mix states).
    */
  private def postingStateDir(d: String): String =
    s"/tmp/graft_q118_state_${ProcessHandle.current().pid()}_" +
      math.abs(d.hashCode.toLong)

  /** Posting-state dirs this process has built; each gets one shutdown
    * hook that deletes it, since the pid key means no later process can
    * reuse it.
    */
  private val builtStateDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The two id cuts that split `df`'s `idCol` range [lo, hi] into the
    * posting state's three id-monotone ingest generations: ids ≤ cut1,
    * (cut1, cut2], and > cut2. Queries that replay the last generation
    * as their probe batch (q128, q144) filter on the same cut2.
    */
  private[graft] def generationCuts(df: DataFrame, idCol: String): (Long, Long) = {
    val b = df.agg(min(col(idCol)), max(col(idCol))).first()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
  }

  /** Build the posting+pack state once per (process, sf dir): three
    * id-monotone `ingestBatch` generations with the posting and pack
    * trackers on and the near-dup tier off — the index-maintenance
    * configuration (q118/q119/q120 serve from the postings, q121 from
    * the feed placements). Idempotent: an existing pointer means a prior
    * call in this process built it, so bench re-runs measure the SERVE
    * path — which is the point of stored state (the build cost is
    * per-batch and amortized; q103/q117 already price the ingest
    * machinery).
    */
  private[graft] def ensurePostingState(s: SparkSession, d: String): String = {
    val dir = postingStateDir(d)
    if (!new java.io.File(s"$dir/LATEST").exists()) {
      if (builtStateDirs.add(dir)) sys.addShutdownHook(
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)))
      val cfg = graft.pipeline.CorpusBuild.Config(
        trackPostings = true, trackPack = true, trackDrift = true,
        trackPositions = true, trackMerges = true,
        trackFingerprints = true, trackCentroids = true,
        trackClassifier = true, trackDsir = true, trackBigramLm = true,
        trackCdc = true, trackReleaseCc = true, nearDupTier = false)
      val docs = Tables.documents(s, d)
      val (cut1, cut2) = generationCuts(docs, "doc_id")
      // the embedding side-input follows the same id-monotone thirds on
      // its own id space (vec batches commit with their doc generation)
      val emb = Tables.embeddings(s, d)
      val (vcut1, vcut2) = generationCuts(emb, "vec_id")
      graft.pipeline.CorpusBuild.ingestBatch(dir,
        docs.filter(col("doc_id") <= cut1), cfg,
        emb.filter(col("vec_id") <= vcut1))
      graft.pipeline.CorpusBuild.ingestBatch(dir,
        docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2), cfg,
        emb.filter(col("vec_id") > vcut1 && col("vec_id") <= vcut2))
      graft.pipeline.CorpusBuild.ingestBatch(dir,
        docs.filter(col("doc_id") > cut2), cfg,
        emb.filter(col("vec_id") > vcut2))
    }
    dir
  }

  /** q118 — keyword match statistics served from the STORED posting
    * state: three real `ingestBatch` generations write posting/doc-length
    * deltas to disk, and the readout folds them back — while the oracle
    * recomputes the same statistics from the raw corpus in a second
    * engine. A lost posting row, a mis-folded generation, or a
    * double-counted replay shows up as a hash mismatch. This is the
    * unlimited form of q110's count core (every matching doc, not
    * top-20), so the maintenance algebra is checked over the whole match
    * set.
    */
  val q118_state_keyword_index: Q = (s, d) =>
    graft.pipeline.CorpusBuild
      .stateKeywordCore(s, ensurePostingState(s, d), SearchTerms)

  val q118Sql: String =
    """SELECT doc_id,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
      |  CAST(count(*) AS BIGINT) AS total_tf
      |FROM (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents)
      |WHERE tok IN ('spark', 'data', 'query', 'join')
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** q119 — BM25 served from the posting state, oracle-checked with
    * q114's full-scoring SQL (r16): the scoring definition is shared
    * via [[bm25FromStats]]; only the statistics source differs (stored
    * index vs corpus scan), so the shared oracle also pins the fold —
    * a posting generation that loses or duplicates an occurrence shifts
    * the 6-decimal score. Its integer layer is q118's oracle row; its
    * candidate/statistics consistency is q120's gate.
    */
  val q119_state_bm25_rank: Q = (s, d) =>
    graft.pipeline.CorpusBuild
      .stateBm25TopK(s, ensurePostingState(s, d), SearchTerms)
      .select(col("doc_id"), round(col("score"), 6).as("bm25"),
        col("n_terms"), col("total_tf"))

  /** q120 — the q115 gate applied to the state-served pair: every
    * state-BM25 top-k row must appear in the state count core with
    * identical integer statistics. Must be EMPTY.
    */
  val q120_state_bm25_gate: Q = (s, d) => {
    val dir = ensurePostingState(s, d)
    bm25Gate(graft.pipeline.CorpusBuild.stateBm25TopK(s, dir, SearchTerms),
        graft.pipeline.CorpusBuild.stateKeywordCore(s, dir, SearchTerms))
  }

  /** q138 — corpus-LM surprisal served from the STORED posting state:
    * q136's integer-log2 unigram score recomputed purely from the folded
    * inverted index (term counts, corpus total, and per-doc tf all fold
    * out of posting rows — no corpus rescan). The oracle is q136's
    * from-raw SQL verbatim, so a lost posting row, a mis-folded
    * generation, or a term-key collision shows up as a hash mismatch.
    */
  val q138_state_surprisal: Q = (s, d) =>
    graft.pipeline.CorpusBuild.stateSurprisal(s, ensurePostingState(s, d))

  val q110Sql: String =
    """SELECT doc_id,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
      |  CAST(count(*) AS BIGINT) AS total_tf
      |FROM (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents)
      |WHERE tok IN ('spark', 'data', 'query', 'join')
      |GROUP BY doc_id
      |ORDER BY n_terms DESC, total_tf DESC, doc_id
      |LIMIT 20""".stripMargin

  /** The phrase queried by q131/q133 — two DISTINCT adjacent tokens (so
    * occurrences can never overlap) both present in the corpus.
    */
  private[graft] val PhraseTerms = ("window", "join")

  /** q131 — exact phrase search ("window" immediately followed by "join"),
    * corpus-scan form: per-doc adjacent-pair counting over the token
    * array with one zip_with + filter HOF — a SINGLE scan with ZERO
    * data-sized shuffle (the only exchange is the matching docs' final
    * sort), because adjacency is a per-row property of the array. The
    * index-served form of the same query is q133; chained occurrences
    * ("a b a b") count once per adjacent pair, which is why the oracle
    * counts positions rather than substring-replacing.
    */
  val q131_phrase_search: Q = (s, d) => {
    val t = TextAnalysis.tokens(col("text"))
    val n = greatest(size(t) - 1, lit(0))
    val hits = zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
      (x, y) => x === lit(PhraseTerms._1) && y === lit(PhraseTerms._2))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(filter(hits, b => b)).cast("long").as("n_phrase"))
      .filter(col("n_phrase") > 0L)
  }

  val q131Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws
      |  FROM t)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_phrase
      |FROM e WHERE ws[i] = 'window' AND ws[i+1] = 'join'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q132 — collocation mining: bigrams scored by LIFT = P(w1w2) /
    * (P(w1)·P(w2)) in EXACT integer ppm via the cross-multiplied form
    * 10⁶·c_xy·N DIV (c_x·c_y) (DECIMAL(38,0) numerator — no float ln, no
    * rounding divergence; PMI = ln(lift) is monotone in it, so the
    * ranking IS the PMI ranking). The tokenizer-adjacent use: high-lift
    * adjacent pairs are merge/phrase-vocab candidates. Shape: bigrams
    * come from the same per-row zip_with (no window shuffle over the
    * token stream), both aggregates are partial+final with vocab-bounded
    * exchanges, the unigram sides broadcast, the corpus total rides a
    * declared 1-row broadcast cross join, and top-100 is TakeOrdered on
    * a total (lift, w1, w2) order.
    */
  val q132_collocations: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val t = TextAnalysis.tokens(col("text"))
    val n = greatest(size(t) - 1, lit(0))
    val pairs = docs.select(explode(zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // materialized: three consumers (both broadcast unigram sides + the
    // corpus total) would each re-run the corpus tokenize+aggregate;
    // the relation is vocabulary-sized — bounded model state
    val uni = graft.ops.TextDedup.maybeMaterialize(
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")))
    val total = uni.agg(sum("c").cast("decimal(38,0)").as("n_total"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))),
        "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))),
        "w2")
      .crossJoin(broadcast(total))
      .filter(col("c_xy") >= 3L && col("c_x") >= 5L && col("c_y") >= 5L)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * c_xy * n_total" +
          " DIV (c_x * c_y)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(100)
  }

  val q132Sql: String =
    """WITH t AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
      |tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS n_total FROM uni),
      |e AS (
      |  SELECT unnest(generate_series(1, len(ws) - 1)) AS i, ws FROM t),
      |big AS (
      |  SELECT ws[i] AS w1, ws[i+1] AS w2, CAST(count(*) AS BIGINT) AS c_xy
      |  FROM e GROUP BY 1, 2)
      |SELECT w1, w2, c_xy, x.c AS c_x, y.c AS c_y,
      |  CAST(1000000 * CAST(c_xy AS HUGEINT) * n_total
      |    // (CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS lift_ppm
      |FROM big JOIN uni x ON big.w1 = x.w JOIN uni y ON big.w2 = y.w
      |CROSS JOIN tot
      |WHERE c_xy >= 3 AND x.c >= 5 AND y.c >= 5
      |ORDER BY lift_ppm DESC, w1, w2 LIMIT 100""".stripMargin

  /** q133 — q131's phrase search served from the STORED positional index
    * (`CorpusBuild.trackPositions`): two pushed-down term-key filters over
    * the posting table joined on (doc, position+1) — posting-list cost,
    * never a corpus scan. Shares q131's oracle: the standing state covers
    * exactly the documents relation, so the index-served counts must equal
    * the corpus-scan counts row for row.
    */
  val q133_state_phrase: Q = (s, d) =>
    graft.pipeline.CorpusBuild.statePhraseCount(s, ensurePostingState(s, d),
        PhraseTerms._1, PhraseTerms._2)

  /** q139 — q108's BPE compression readout served from the STORED merge
    * table (`CorpusBuild.trackMerges`): the ingest generations store
    * additive word-dict deltas plus a merge-table snapshot learned from
    * the folded dict, and the readout LOADS that stored tokenizer and
    * applies it in one corpus scan — no re-learning, no dict aggregate.
    * The oracle is q108's learn+apply SQL verbatim: a stale snapshot, a
    * mis-folded dict delta, or a drifted apply chain all show up as a
    * hash mismatch.
    */
  val q139_state_bpe_tokenize: Q = (s, d) =>
    graft.pipeline.CorpusBuild
      .stateBpeTokenize(s, ensurePostingState(s, d), Tables.documents(s, d))

  /** q142 — q49's top-500 vocabulary served from the STORED word dict
    * (`CorpusBuild.trackMerges`' additive deltas, folded by sum): the
    * rank runs over dict-scale state — the corpus token explode +
    * aggregate never re-executes — through the same two-level
    * [[graft.ops.Vocab]] arithmetic as the in-query build. The oracle is
    * q49's SQL verbatim: a lost dict delta or a double-folded replay
    * shows up as a frequency (and usually rank) mismatch.
    */
  /** q145 — vocabulary-growth curve (the Heap's-law audit every corpus
    * scaling analysis starts from): cumulative docs / tokens / distinct
    * types at doubling corpus prefixes (prefix = docs with id ≤ 2^k −
    * 1, the append-only ingest order). The distributed trick: cumulative
    * DISTINCT is not directly foldable, but "types in prefix k" = count
    * of words whose FIRST-SEEN doc lands at or before the prefix — one
    * min-aggregate over the token stream (map-side combined, vocab-sized
    * exchange), bucketed by floorLog2(first_doc + 1), then a prefix sum
    * over ≤ 64 bucket rows (declared tiny unpartitioned window — the
    * q100 per-shard-aggregate rule). No quadratic re-scans per prefix,
    * no distinct-per-prefix jobs: at 100 TB the curve costs one corpus
    * scan + one vocab aggregate.
    */
  val q145_vocab_growth: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextAnalysis.floorLog2
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val vocabByBucket = tok.groupBy("w").agg(min("doc_id").as("first_doc"))
      .groupBy(floorLog2(col("first_doc") + 1L).as("k"))
      .agg(count(lit(1)).as("new_types"))
    val docsByBucket = docs
      .select(floorLog2(col("doc_id") + 1L).as("k"),
        size(filter(TextAnalysis.tokens(col("text")),
          t => length(t) > 0)).cast("long").as("n"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"))
    val cum = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsByBucket.join(vocabByBucket, Seq("k"), "full")
      .select(col("k"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("k"),
        sum("n_docs").over(cum).as("docs_cum"),
        sum("n_toks").over(cum).as("tokens_cum"),
        sum("new_types").over(cum).as("vocab_cum"))
  }

  val q145Sql: String =
    """WITH e AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |e2 AS (SELECT doc_id, w FROM e WHERE len(w) > 0),
      |vb AS (
      |  SELECT length(bin(first_doc + 1)) - 1 AS k,
      |    CAST(count(*) AS BIGINT) AS new_types
      |  FROM (SELECT w, min(doc_id) AS first_doc FROM e2 GROUP BY w)
      |  GROUP BY k),
      |db AS (
      |  SELECT length(bin(doc_id + 1)) - 1 AS k,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> len(x) > 0))) AS BIGINT) AS n_toks
      |  FROM documents GROUP BY k),
      |j AS (
      |  SELECT COALESCE(db.k, vb.k) AS k,
      |    COALESCE(n_docs, 0) AS n_docs, COALESCE(n_toks, 0) AS n_toks,
      |    COALESCE(new_types, 0) AS new_types
      |  FROM db FULL JOIN vb ON db.k = vb.k)
      |SELECT CAST(k AS BIGINT) AS k,
      |  CAST(SUM(n_docs) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS docs_cum,
      |  CAST(SUM(n_toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS tokens_cum,
      |  CAST(SUM(new_types) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS vocab_cum
      |FROM j ORDER BY k""".stripMargin

  val q142_state_vocab: Q = (s, d) =>
    graft.ops.Vocab.topKFromCounts(
        graft.pipeline.CorpusBuild
          .stateWordDict(s, ensurePostingState(s, d))
          .select(col("word").as("token"), col("n")),
        500)
      .select("vocab_id", "token", "n")

  /** q189 — reciprocal-rank-fusion hybrid retrieval (Cormack, Clarke &
    * Buettcher, "Reciprocal Rank Fusion outperforms Condorcet and
    * individual rank learning methods", SIGIR 2009 — public
    * literature): fuse the lexical ranking (q110's exact integer triple
    * over [[SearchTerms]]) with a semantic ranking (cosine against a
    * fixed query vector — vec 0, the q21 contract: round to 6 decimals,
    * id tie-break) by RRF(d) = Σ_lists 1/(60 + rank_d), quantized to
    * exact integers as 1000000 // (60 + rank) so no float crosses the
    * oracle boundary. The hybrid-search shape every RAG stack runs —
    * BM25 ∪ ANN candidates, one fused order — with both input ranks and
    * the fused score oracle-checkable because each layer is already
    * integer-exact.
    *
    * Scale shape: both candidate lists are top-50 via TakeOrdered
    * (orderBy.limit — never a global sort), so the rank windows and the
    * fusion join run over two 50-row relations — constant-bounded,
    * broadcast-sized — while the corpus-scale work (the term-filtered
    * explode; the 1×N broadcast cosine scan) stays distributed. The
    * lexical core is REBUILT here (not served from q110's memo) so the
    * bench bills this query its own explode.
    */
  val q189_rrf_hybrid: Q = (s, d) => {
    val K = 50
    val lexTop = keywordMatchCore(s, d)
      .orderBy(col("n_terms").desc, col("total_tf").desc, col("doc_id"))
      .limit(K)
    // rank windows run over the 50-row TakeOrdered output: bounded.
    val wLex = Window.orderBy(col("n_terms").desc, col("total_tf").desc,
      col("doc_id"))
    val lex = lexTop.withColumn("rank_lex",
      row_number().over(wLex).cast("long"))
    val emb = Tables.embeddings(s, d)
    val qv = broadcast(emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("q_emb")))
    val scored = emb.filter(col("vec_id") =!= 0L)
      .crossJoin(qv) // 1-row scalar: the fixed query vector
      .select(col("vec_id").as("doc_id"),
        round(round(
          graft.ops.Similarity.dot(col("embedding").cast("array<double>"),
            col("q_emb").cast("array<double>")) /
          (graft.ops.Similarity.l2norm(col("embedding").cast("array<double>")) *
            graft.ops.Similarity.l2norm(col("q_emb").cast("array<double>"))),
          9), 6).as("cos"))
    val semTop = scored.orderBy(col("cos").desc, col("doc_id")).limit(K)
    val wSem = Window.orderBy(col("cos").desc, col("doc_id"))
    val sem = semTop.withColumn("rank_sem",
      row_number().over(wSem).cast("long"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_sem"), lit(0L)).as("rank_sem"),
        (coalesce(TextAnalysis.intDiv(lit(1000000L),
            lit(60L) + col("rank_lex")), lit(0L)) +
          coalesce(TextAnalysis.intDiv(lit(1000000L),
            lit(60L) + col("rank_sem")), lit(0L))).as("rrf_q6"))
      .orderBy(col("rrf_q6").desc, col("doc_id"))
      .limit(20)
  }

  val q189Sql: String =
    """WITH lex0 AS (
      |  SELECT doc_id,
      |    CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
      |    CAST(count(*) AS BIGINT) AS total_tf
      |  FROM (SELECT doc_id,
      |      unnest(string_split_regex(trim(text), '\s+')) AS tok
      |    FROM documents)
      |  WHERE tok IN ('spark', 'data', 'query', 'join')
      |  GROUP BY doc_id
      |  ORDER BY n_terms DESC, total_tf DESC, doc_id LIMIT 50),
      |lex AS (SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY n_terms DESC, total_tf DESC, doc_id) AS BIGINT)
      |    AS rank_lex FROM lex0),
      |sem0 AS (
      |  SELECT b.vec_id AS doc_id,
      |    round(round(
      |      list_sum(list_transform(generate_series(1, 64),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(generate_series(1, 64),
      |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(generate_series(1, 64),
      |           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
      |      9), 6) AS cos
      |  FROM embeddings a JOIN embeddings b ON b.vec_id != 0
      |  WHERE a.vec_id = 0
      |  ORDER BY cos DESC, doc_id LIMIT 50),
      |sem AS (SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_sem FROM sem0)
      |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
      |  CAST(coalesce(rank_lex, 0) AS BIGINT) AS rank_lex,
      |  CAST(coalesce(rank_sem, 0) AS BIGINT) AS rank_sem,
      |  CAST(coalesce(1000000 // (60 + rank_lex), 0)
      |    + coalesce(1000000 // (60 + rank_sem), 0) AS BIGINT) AS rrf_q6
      |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
      |ORDER BY rrf_q6 DESC, doc_id LIMIT 20""".stripMargin

  /** q192 — per-language tokenizer fertility: the multilingual-equity
    * readout (Petrov et al., "Language Model Tokenizers Introduce
    * Unfairness Between Languages", NeurIPS 2023 — public literature):
    * apply q108's learned BPE to every document and roll the
    * compression statistics up per language — BPE symbols per
    * whitespace word (fertility) and characters per BPE symbol — the
    * table a tokenizer review reads to see which languages pay more
    * tokens for the same text. Both ratios are exact integer ppm-style
    * quotients of corpus sums, so the oracle re-derives the ENTIRE
    * learn+apply chain (q108's SQL nested verbatim) plus the rollup.
    *
    * Scale shape: after the dict-scale merge learning (q105's cost,
    * shared), tokenization is a per-row replace chain riding the scan;
    * the rollup is ONE map-side-combined shuffle with |langs| rows out.
    */
  val q192_tokenizer_fertility: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = Bpe.learnMerges(Bpe.wordDict(docs, "text"),
        "word", "n", NumMerges)
      .orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    fertilityRollup(Bpe.tokenizeDocs(docs, merges.toIndexedSeq), docs)
  }

  /** The per-language fertility rollup shared by q192 (in-query learn)
    * and q198 (stored merge table): join the tokenized readout back to
    * the language/char metadata, aggregate corpus sums per language,
    * report the two exact ppm quotients.
    */
  private def fertilityRollup(tokenized: DataFrame,
      docs: DataFrame): DataFrame =
    tokenized
      .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_words"),
        sum(col("n_bpe_symbols")).as("n_bpe"),
        sum(col("n_chars")).as("n_chars_total"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        col("n_chars_total"),
        TextAnalysis.intDiv(col("n_bpe") * 1000000L,
          greatest(col("n_words"), lit(1L))).as("fertility_q6"),
        TextAnalysis.intDiv(col("n_chars_total") * 1000000L,
          greatest(col("n_bpe"), lit(1L))).as("chars_per_bpe_q6"))

  /** q198 — q192's fertility table served from the STORED merge table
    * (`CorpusBuild.trackMerges`): the tokenizer is LOADED (q139's
    * serving shape — the stored table is retrained per generation over
    * the folded dict, so it always equals learn-on-the-folded-corpus),
    * applied in one scan, and rolled up per language — the dict-scale
    * aggregate and the N driver-paced merge-learning rounds drop out
    * of the report entirely (PlanSpec pins their absence from the
    * served plan). Oracle: q192's SQL verbatim — the nested learn+apply
    * chain — so a stale or mis-folded merge table hash-mismatches.
    */
  val q198_state_fertility: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    fertilityRollup(graft.pipeline.CorpusBuild
      .stateBpeTokenize(s, ensurePostingState(s, d), docs), docs)
  }

  val q192Sql: String = {
    val q108Inner = q108Sql
    s"""WITH b AS ( $q108Inner )
       |SELECT d.lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(b.n_tokens) AS BIGINT) AS n_words,
       |  CAST(sum(b.n_bpe_symbols) AS BIGINT) AS n_bpe,
       |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(sum(b.n_bpe_symbols) AS BIGINT) * 1000000
       |    // greatest(CAST(sum(b.n_tokens) AS BIGINT), 1)
       |    AS fertility_q6,
       |  CAST(sum(d.n_chars) AS BIGINT) * 1000000
       |    // greatest(CAST(sum(b.n_bpe_symbols) AS BIGINT), 1)
       |    AS chars_per_bpe_q6
       |FROM b JOIN documents d ON b.doc_id = d.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Unigram-LM (SentencePiece-shape) tokenizer tier — q235/q236/q237/q238.
  // The oracle replays the ENTIRE pipeline in SQL: substring seeding,
  // deterministic pruning, the exact fixed-point log2 (the same 16-step
  // integer squaring recurrence graft.ops.UnigramLm.log2Fix runs — the
  // truncation behavior IS the definition, so equality is structural),
  // the Viterbi DP as an unrolled position chain with the identical
  // (cost, piece-count, last-piece-length) tie-break, the hard-EM
  // recount from the reconstructed piece paths, and the add-one-smoothed
  // final segmentation. MATERIALIZED CTEs keep the DP chain's double
  // self-reference from inlining exponentially.
  // ---------------------------------------------------------------------

  private def l2fChain(xsCte: String, pfx: String): String = {
    val head = s"${pfx}0 AS MATERIALIZED (SELECT x, " +
      s"(x * (1::BIGINT << 30)) >> (length(bin(x)) - 1) AS y, " +
      s"0::BIGINT AS b FROM $xsCte)"
    val steps = (1 to graft.ops.UnigramLm.LogFracBits).map { i =>
      s"""$pfx$i AS (SELECT x,
         |  CASE WHEN ((y*y) >> 30) >= (1::BIGINT << 31)
         |    THEN (y*y) >> 31 ELSE (y*y) >> 30 END AS y,
         |  CASE WHEN ((y*y) >> 30) >= (1::BIGINT << 31)
         |    THEN b*2 + 1 ELSE b*2 END AS b
         | FROM $pfx${i - 1})""".stripMargin
    }
    val out = s"${pfx}v AS (SELECT x, ((length(bin(x)) - 1)::BIGINT " +
      s"<< ${graft.ops.UnigramLm.LogFracBits}) + b AS v " +
      s"FROM $pfx${graft.ops.UnigramLm.LogFracBits})"
    (head +: steps :+ out).mkString(",\n")
  }

  private def dpChain(costCte: String, wordsCte: String, pfx: String,
      withCuts: Boolean): String = {
    val cuts0 = if (withCuts) ", CAST([] AS INTEGER[]) AS cuts" else ""
    val head = s"${pfx}0 AS MATERIALIZED (SELECT word, n, 0 AS j, " +
      s"0::BIGINT AS cost, 0::BIGINT AS k$cuts0 FROM $wordsCte)"
    val steps = (1 to graft.ops.UnigramLm.MaxWordLen).map { j =>
      val cutsSel = if (withCuts) ", cuts" else ""
      val cutsIn =
        if (withCuts) ",\n      list_append(d.cuts, ls.l) AS cuts" else ""
      s"""$pfx$j AS MATERIALIZED (
         |  SELECT * FROM $pfx${j - 1}
         |  UNION ALL
         |  SELECT word, n, j, cost, k$cutsSel FROM (
         |    SELECT d.word AS word, d.n AS n, $j AS j,
         |      d.cost + c.cost AS cost, d.k + 1 AS k$cutsIn,
         |      row_number() OVER (PARTITION BY d.word
         |        ORDER BY d.cost + c.cost, d.k + 1, ls.l DESC) AS rn
         |    FROM $pfx${j - 1} d
         |    JOIN (SELECT unnest([1,2,3,4]) AS l) ls ON d.j = $j - ls.l
         |    JOIN $costCte c ON c.piece = d.word[$j - ls.l + 1 : $j]
         |    WHERE len(d.word) >= $j
         |  ) WHERE rn = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Shared train pipeline (dict → seed → prune → fixed-point costs →
    * Viterbi DP with cut lists → hard-EM recount) as a WITH body.
    */
  private lazy val unigramTrainHead: String = {
    val maxP = graft.ops.UnigramLm.MaxPieceLen
    val vocab = graft.ops.UnigramLm.VocabMulti
    val maxW = graft.ops.UnigramLm.MaxWordLen
    s"""WITH ugdict AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE len(word) > 0 GROUP BY word),
       |ugsub AS (
       |  SELECT piece, CAST(SUM(n) AS BIGINT) AS n FROM (
       |    SELECT n, unnest(flatten([[word[i:i+l-1]
       |        for l in generate_series(1, least($maxP, len(word) - i + 1))]
       |        for i in generate_series(1, len(word))])) AS piece
       |    FROM ugdict)
       |  GROUP BY piece),
       |ugkept AS MATERIALIZED (
       |  SELECT piece, n FROM (
       |    SELECT piece, n FROM ugsub WHERE len(piece) > 1
       |    ORDER BY n DESC, piece LIMIT $vocab)
       |  UNION ALL
       |  SELECT piece, n FROM ugsub WHERE len(piece) = 1),
       |ugtot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM ugkept),
       |ugxs AS (SELECT DISTINCT x FROM
       |  (SELECT n AS x FROM ugkept UNION ALL SELECT nn AS x FROM ugtot)),
       |${l2fChain("ugxs", "ugf")},
       |ugcost AS MATERIALIZED (
       |  SELECT k.piece, (SELECT v FROM ugfv JOIN ugtot ON ugfv.x = ugtot.nn)
       |    - l.v AS cost
       |  FROM ugkept k JOIN ugfv l ON l.x = k.n),
       |${dpChain("ugcost", "ugdict", "ugd", withCuts = true)},
       |ugseg AS (SELECT word, n, cuts FROM ugd$maxW WHERE j = len(word)),
       |ugep AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(n) AS BIGINT) AS em_n FROM (
       |    SELECT n,
       |      unnest([word[CAST(coalesce(list_sum(cuts[1:i-1]), 0)
       |                     AS INTEGER) + 1
       |                   : CAST(list_sum(cuts[1:i]) AS INTEGER)]
       |              for i in generate_series(1, len(cuts))]) AS piece
       |    FROM ugseg)
       |  GROUP BY piece)""".stripMargin
  }

  /** The tokenize tail: add-one-smoothed final table, second cost
    * derivation and DP (score-only), per-word piece counts, per-doc
    * rollup.
    */
  private lazy val unigramTokenizeBody: String = {
    val maxW = graft.ops.UnigramLm.MaxWordLen
    s"""$unigramTrainHead,
       |ugkept2 AS MATERIALIZED (
       |  SELECT k.piece, CAST(coalesce(e.em_n, 0) + 1 AS BIGINT) AS n
       |  FROM ugkept k LEFT JOIN ugep e ON e.piece = k.piece),
       |ugtot2 AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM ugkept2),
       |ugxs2 AS (SELECT DISTINCT x FROM
       |  (SELECT n AS x FROM ugkept2 UNION ALL SELECT nn AS x FROM ugtot2)),
       |${l2fChain("ugxs2", "ugg")},
       |ugcost2 AS MATERIALIZED (
       |  SELECT k.piece, (SELECT v FROM uggv JOIN ugtot2 ON uggv.x = ugtot2.nn)
       |    - l.v AS cost
       |  FROM ugkept2 k JOIN uggv l ON l.x = k.n),
       |${dpChain("ugcost2", "ugdict", "uge", withCuts = false)},
       |ugwordk AS MATERIALIZED (
       |  SELECT word, k FROM uge$maxW WHERE j = len(word)),
       |ugdocw AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents),
       |ugpd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(SUM(k) AS BIGINT) AS n_pieces
       |  FROM (SELECT doc_id, word FROM ugdocw WHERE len(word) > 0) w
       |  JOIN ugwordk USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** q235 — UNIGRAM-LM TOKENIZER TRAINING: the other trained tokenizer
    * family at pretraining scale next to BPE (q105) — SentencePiece's
    * shape: seed a candidate vocabulary from occurrence-weighted
    * substring counts over the word dict, prune to a budget under a
    * deterministic (count desc, piece asc) order plus the single-char
    * coverage floor, then ONE hard-EM round — Viterbi E-step over the
    * dict under exact FIXED-POINT integer −log2 costs
    * ([[graft.ops.UnigramLm.log2Fix]] — a 16-step integer squaring
    * recurrence both engines run bit-for-bit, so no float ever crosses
    * the oracle boundary), count M-step weighted by word frequency.
    * Output: the learned piece table (piece, seed_n, em_n). The oracle
    * replays seeding, pruning, the log recurrence, the DP (unrolled to
    * MaxWordLen positions with the identical tie-break), and the path
    * reconstruction — a one-bit disagreement anywhere in the EM shifts
    * a count and hash-mismatches.
    *
    * 100 TB: trains on the word DICT (one corpus aggregate — the BPE
    * discipline), everything after is dict-scale; the learned table is
    * bounded model state (VocabMulti + alphabet rows).
    */
  val q235_unigram_train: Q = (s, d) =>
    graft.ops.UnigramLm.learn(graft.ops.TextDedup.maybeMaterialize(
        Bpe.wordDict(Tables.documents(s, d), "text")))

  val q235Sql: String =
    s"""$unigramTrainHead
       |SELECT k.piece, k.n AS seed_n,
       |  CAST(coalesce(e.em_n, 0) AS BIGINT) AS em_n
       |FROM ugkept k LEFT JOIN ugep e ON e.piece = k.piece
       |ORDER BY k.piece""".stripMargin

  /** q236 — UNIGRAM-LM CORPUS TOKENIZATION: Viterbi-segment every
    * document under the q235-learned table with add-one smoothing (EM
    * zeros stay reachable; the cost domain stays ≥ 1) and read out
    * per-doc word/piece counts and the exact integer fertility ppm.
    *
    * 100 TB: the DP runs per word TYPE (dict-scale, broadcast cost
    * map); the corpus is touched once to explode words and joins the
    * per-word counts back — never re-segmented row by row.
    */
  val q236_unigram_tokenize: Q = (s, d) =>
    graft.ops.UnigramLm.tokenizeCorpus(Tables.documents(s, d))

  val q236Sql: String =
    s"""$unigramTokenizeBody
       |SELECT d.doc_id,
       |  CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(n_pieces, 0) AS BIGINT) AS n_pieces,
       |  CAST((1000000 * coalesce(n_pieces, 0))
       |    // greatest(coalesce(n_words, 0), 1) AS BIGINT)
       |    AS fertility_ppm
       |FROM documents d LEFT JOIN ugpd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q237 — q236 SERVED FROM THE STORED PIECE TABLE
    * (`CorpusBuild.trackMerges` now snapshots the unigram table next to
    * the BPE merges — re-learned per generation over the folded dict,
    * the packtotals snapshot discipline): the tokenizer is LOADED, the
    * seed/EM learning drops out of the query entirely. Oracle: q236's
    * SQL verbatim — a stale or mis-folded stored table hash-mismatches
    * against the from-scratch retrain.
    */
  val q237_state_unigram_tokenize: Q = (s, d) =>
    graft.pipeline.CorpusBuild.stateUnigramTokenize(
        s, ensurePostingState(s, d), Tables.documents(s, d))

  /** q238 — TOKENIZER FERTILITY COMPARISON, BPE vs unigram-LM on the
    * SAME corpus and the SAME word denominator — the dataset-card
    * readout that justifies a tokenizer choice (fertility = pieces per
    * word; lower is cheaper to train on). Both tokenizers are learned
    * in-query from the same dict; the per-language rollup reports both
    * exact ppm quotients side by side.
    */
  val q238_fertility_compare: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = Bpe.learnMerges(Bpe.wordDict(docs, "text"),
        "word", "n", NumMerges)
      .orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bpe = fertilityRollup(
        Bpe.tokenizeDocs(docs, merges.toIndexedSeq), docs)
      .select(coalesce(col("lang"), lit("")).as("lang"),
        col("n_words"), col("n_bpe"), col("fertility_q6")
          .as("bpe_fertility_q6"))
    val ug = graft.ops.UnigramLm.tokenizeCorpus(docs)
      .join(docs.select(col("doc_id"),
        coalesce(col("lang"), lit("")).as("lang")), "doc_id")
      .groupBy("lang").agg(sum(col("n_pieces")).as("n_unigram"))
    bpe.join(ug, "lang")
      .select(col("lang"), col("n_words"), col("n_bpe"), col("n_unigram"),
        col("bpe_fertility_q6"),
        TextAnalysis.intDiv(col("n_unigram") * 1000000L,
          greatest(col("n_words"), lit(1L))).as("unigram_fertility_q6"))
  }

  val q238Sql: String =
    s"""$unigramTokenizeBody,
       |uglang AS (
       |  SELECT coalesce(d.lang, '') AS lang,
       |    CAST(SUM(coalesce(ugpd.n_pieces, 0)) AS BIGINT) AS n_unigram
       |  FROM documents d LEFT JOIN ugpd USING (doc_id)
       |  GROUP BY coalesce(d.lang, '')),
       |bpe AS ( $q192Sql )
       |SELECT coalesce(b.lang, '') AS lang, b.n_words, b.n_bpe,
       |  u.n_unigram,
       |  b.fertility_q6 AS bpe_fertility_q6,
       |  CAST((u.n_unigram * 1000000)
       |    // greatest(b.n_words, 1) AS BIGINT) AS unigram_fertility_q6
       |FROM bpe b JOIN uglang u ON coalesce(b.lang, '') = u.lang
       |ORDER BY lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "q105_bpe_merges" -> q105_bpe_merges,
    "q107_ngram_lm_score" -> q107_ngram_lm_score,
    "q108_bpe_tokenize" -> q108_bpe_tokenize,
    "q110_keyword_search" -> q110_keyword_search,
    "q114_bm25_rank" -> q114_bm25_rank,
    "q115_bm25_gate" -> q115_bm25_gate,
    "q118_state_keyword_index" -> q118_state_keyword_index,
    "q119_state_bm25_rank" -> q119_state_bm25_rank,
    "q120_state_bm25_gate" -> q120_state_bm25_gate,
    "q131_phrase_search" -> q131_phrase_search,
    "q132_collocations" -> q132_collocations,
    "q133_state_phrase" -> q133_state_phrase,
    "q138_state_surprisal" -> q138_state_surprisal,
    "q139_state_bpe_tokenize" -> q139_state_bpe_tokenize,
    "q142_state_vocab" -> q142_state_vocab,
    "q145_vocab_growth" -> q145_vocab_growth,
    "q189_rrf_hybrid" -> q189_rrf_hybrid,
    "q192_tokenizer_fertility" -> q192_tokenizer_fertility,
    "q198_state_fertility" -> q198_state_fertility,
    "q235_unigram_train" -> q235_unigram_train,
    "q236_unigram_tokenize" -> q236_unigram_tokenize,
    "q237_state_unigram_tokenize" -> q237_state_unigram_tokenize,
    "q238_fertility_compare" -> q238_fertility_compare)

  val oracleSql: Map[String, String] = Map(
    "q105_bpe_merges" -> q105Sql,
    "q107_ngram_lm_score" -> q107Sql,
    "q108_bpe_tokenize" -> q108Sql,
    "q110_keyword_search" -> q110Sql,
    "q114_bm25_rank" -> q114Sql,
    "q115_bm25_gate" -> q115Sql,
    "q119_state_bm25_rank" -> q114Sql,
    "q118_state_keyword_index" -> q118Sql,
    "q120_state_bm25_gate" -> q115Sql,
    "q131_phrase_search" -> q131Sql,
    "q132_collocations" -> q132Sql,
    "q133_state_phrase" -> q131Sql,
    // the state-served LM must reproduce q136's from-raw scores exactly
    "q138_state_surprisal" -> FilterQueries.q136Sql,
    // the state-served tokenizer must reproduce q108's learn+apply exactly
    "q139_state_bpe_tokenize" -> q108Sql,
    // the state-served vocab must reproduce q49's corpus-scan build exactly
    "q142_state_vocab" -> ExpansionQueries.q49Sql,
    "q145_vocab_growth" -> q145Sql,
    "q189_rrf_hybrid" -> q189Sql,
    "q192_tokenizer_fertility" -> q192Sql,
    // the state-served fertility must reproduce q192's learn+apply
    // rollup exactly — same oracle, so the driver hash-checks the
    // stored merge table against a from-scratch retrain
    "q198_state_fertility" -> q192Sql,
    "q235_unigram_train" -> q235Sql,
    "q236_unigram_tokenize" -> q236Sql,
    // the state-served unigram tokenizer must reproduce q236's
    // learn+apply exactly — same oracle, so the driver hash-checks the
    // stored piece table against a from-scratch retrain
    "q237_state_unigram_tokenize" -> q236Sql,
    "q238_fertility_compare" -> q238Sql)
}
