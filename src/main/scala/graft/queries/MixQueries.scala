package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.ops.{Mixing, Packing}

/** Round-5 surface (q99–q101): the steps between a curated corpus and a
  * training run — choosing HOW MUCH of each source to take (deterministic
  * temperature-scaled mixing), WHAT ORDER to feed it in (deterministic
  * global shuffle, packed into fixed-length sequences), and WHICH TOKEN
  * SPANS are corpus-level duplicates (exact substring-duplication audit).
  * All are pure functions of (doc_id, corpus aggregates), so results are
  * reproducible on any engine and stable under re-runs — the property
  * that makes a 100 TB training corpus auditable.
  */
object MixQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q99 — temperature-scaled source mixing (τ = 0.5): sampling weight
    * ∝ √n_s upweights small sources, per-source acceptance rate
    * min(1, target·√n_s/Σ√n/n_s), and each doc's md5-uniform decides
    * acceptance — the standard multilingual/multi-source LM mix recipe,
    * made deterministic and partition-invariant (ops.Mixing). One count
    * aggregate + one broadcast join + a codegen'd filter: the corpus is
    * scanned once and never shuffled. √ (not pow) because IEEE sqrt is
    * correctly rounded — both engines compute bit-identical rates, and
    * the one cross-row float sum (Σ√n) runs as an exact DECIMAL sum.
    */
  val q99_temperature_mix: Q = (s, d) => {
    Mixing.sqrtTemperatureSample(
        Tables.documents(s, d).select("doc_id", "source"),
        "doc_id", "source", targetDocs = 300L)
      .select(col("doc_id"), col("source"),
        col("n_docs").cast("long").as("n_source_docs"), col("rate"))
  }

  val q99Sql: String =
    """WITH c AS (
      |  SELECT source, CAST(count(*) AS DOUBLE) AS n_docs
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(28,10))) AS DOUBLE)
      |    AS sum_w FROM c),
      |r AS (
      |  SELECT source, n_docs,
      |    least(1.0, 300.0 * sqrt(n_docs) / sum_w / n_docs) AS rate
      |  FROM c, t)
      |SELECT d.doc_id, d.source, CAST(r.n_docs AS BIGINT) AS n_source_docs,
      |  r.rate
      |FROM documents d JOIN r USING (source)
      |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
      |    AS UBIGINT) AS DOUBLE) / 4294967296.0 < r.rate
      |ORDER BY d.doc_id""".stripMargin

  /** q100 — deterministic global shuffle + pack: the training-order step.
    * Every doc gets a unique shuffle key from [[Packing.shuffleKey]] —
    * md5 prefix high, own id in the low `idBits` (width-configurable via
    * `spark.graft.shuffleIdBits`, default 20 = a 60-bit key; out-of-range
    * ids raise per-row rather than silently colliding), the corpus is
    * packed into 2048-token sequences in KEY order, and the placement is
    * ops.Packing's hierarchical pack over the key space (range shards of
    * the hash domain; a constant mix column — packing is global here) —
    * so the "globally shuffled epoch" never runs a global window: the
    * per-shard prefix sums parallelize and the rebase window sees only
    * shard-count rows.
    */
  val q100_shuffle_pack: Q = (s, d) => {
    val idBits = s.conf.get("spark.graft.shuffleIdBits", "20").toInt
    val counts = Tables.documents(s, d)
      .select(col("doc_id"),
        Packing.shuffleKey(col("doc_id"), idBits).as("skey"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        lit("all").as("mix"))
    Packing.packSequences(counts, "skey", "mix", "n_toks",
        seqLen = 2048L, shardRows = 1L << 52)
      .select("doc_id", "skey", "n_toks", "seq_id", "seq_offset")
  }

  val q100Sql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))
      |      AS UBIGINT) AS BIGINT) * 1048576 + doc_id AS skey,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, skey, n_toks,
      |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY skey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum_before
      |  FROM c)
      |SELECT doc_id, skey, n_toks,
      |  cum_before // 2048 AS seq_id,
      |  cum_before % 2048 AS seq_offset
      |FROM s ORDER BY doc_id""".stripMargin

  /** q101 — duplicated-substring spans (the exact-substring dedup audit of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" — public literature): every k-token window occurring ≥ 2
    * times ANYWHERE in the corpus marks its positions as duplicated;
    * per doc, overlapping/adjacent marked windows merge into maximal
    * spans (gaps-and-islands over positions), yielding span count,
    * duplicated-token count, and an integer-ppm duplication fraction —
    * the readout that decides whether substring-level (not just
    * doc-level) dedup is worth running.
    *
    * Scale shape: one shuffle groups shingle occurrences by content key
    * (map-side combine), a semi-join marks duplicated positions, and the
    * island windows partition per doc — bounded by document length,
    * never corpus size. The shingle string is hashed to an 8-byte
    * xxhash64 key BEFORE any shuffle (same discipline as TextDedup's
    * prefix keys), so an Exchange never carries k-token strings; the
    * emitted columns are positional only, so the oracle is unaffected.
    * All arithmetic is integer (hash-exact across engines).
    */
  /** The positional k-shingle occurrence relation (doc_id, p, shk) shared
    * by q101/q102, where shk = xxhash64 of the k-token window —
    * materialized once (checkpointMode tier) because both consumers
    * reference it twice (the duplicate count and the position join-back).
    * The size(ws) >= k guard comes BEFORE sequence(): Spark's
    * sequence(1, stop) runs DESCENDING for stop < 1, which would
    * fabricate positions on short docs.
    */
  private[graft] def shingleOcc(docs: DataFrame, k: Int): DataFrame = {
    val ws = TextAnalysis.tokens(col("text"))
    graft.ops.TextDedup.maybeMaterialize(docs
      .filter(size(ws) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(ws) - (k - 1)),
          i => xxhash64(concat_ws(" ", slice(ws, i, lit(k))))))
          .as(Seq("i0", "shk")))
      .select(col("doc_id"), (col("i0") + 1).as("p"), col("shk")))
  }

  /** Corpus-wide duplicated k-shingle keys over [[shingleOcc]]. */
  private def dupShingles(occ: DataFrame): DataFrame =
    occ.groupBy("shk").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("shk")

  /** Per-doc maximal-span aggregate over a positional occurrence relation:
    * positions whose key is in `dup` merge into maximal islands
    * (overlap/adjacency), yielding (doc_id, spans, dup_toks). The windows
    * partition per doc — bounded by document length, never corpus size.
    * Shared by q101 (full audit) and q106 (incremental audit).
    */
  private[graft] def spanAgg(occ: DataFrame, dup: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, 0)
    occ.join(dup, Seq("shk"), "left_semi")
      .withColumn("prev_end", max(col("p") + (k - 1)).over(wPrev))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("p") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(wRun))
      .groupBy("doc_id", "island")
      .agg(min(col("p")).as("s0"), max(col("p") + (k - 1)).as("e0"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("spans"),
        sum(col("e0") - col("s0") + lit(1)).as("dup_toks"))
  }

  /** The per-doc span-audit readout: every doc of `docs` with its token
    * count, joined to its [[spanAgg]] row (docs without duplicated spans
    * read 0), and the duplicated-token share in integer ppm. Shared by
    * q101, q106 and [[graft.pipeline.CorpusBuild.stateSpanAudit]].
    */
  private[graft] def spanReadout(docs: DataFrame, perDoc: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_toks"), lit(0L)).as("n_dup_tokens"),
        expr("(1000000 * coalesce(dup_toks, 0L)) DIV greatest(n_toks, 1L)")
          .as("dup_ppm"))

  val q101_dup_spans: Q = (s, d) => {
    val k = 5
    val docs = Tables.documents(s, d)
    val occ = shingleOcc(docs, k)
    spanReadout(docs, spanAgg(occ, dupShingles(occ), k))
  }

  val q101Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, i AS p, array_to_string(ws[i:i+4], ' ') AS sh
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 4)) AS i
      |        FROM t WHERE len(ws) >= 5)),
      |dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= 2),
      |cov AS (
      |  SELECT doc_id, p,
      |    MAX(p + 4) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM occ WHERE sh IN (SELECT sh FROM dup)),
      |isl AS (
      |  SELECT doc_id, p,
      |    SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING)
      |      AS island
      |  FROM cov),
      |sp AS (
      |  SELECT doc_id, island, min(p) AS s0, max(p + 4) AS e0
      |  FROM isl GROUP BY doc_id, island),
      |pd AS (
      |  SELECT doc_id, count(*) AS spans, SUM(e0 - s0 + 1) AS dup_toks
      |  FROM sp GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
      |    AS n_toks,
      |  CAST(COALESCE(pd.spans, 0) AS BIGINT) AS n_dup_spans,
      |  CAST(COALESCE(pd.dup_toks, 0) AS BIGINT) AS n_dup_tokens,
      |  CAST((1000000 * COALESCE(pd.dup_toks, 0))
      |    // greatest(CAST(len(string_split_regex(trim(d.text), '\s+'))
      |                AS BIGINT), 1) AS BIGINT) AS dup_ppm
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q102 — duplicated-span REMOVAL: the transform q101 audits. Every
    * token position covered by a corpus-duplicated k-window is excised;
    * surviving tokens reassemble position-sorted into the cleaned text
    * (the q94 reassembly pattern — the one corpus-keyed shuffle is the
    * per-doc aggregate, proportional to output). A fully-duplicated doc
    * comes back empty rather than disappearing, so the drop decision
    * stays with the caller. A doc's duplicated windows merge into
    * disjoint covered ranges — bounded by its duplicated windows, never
    * the corpus.
    */
  val q102_dup_span_removal: Q = (s, d) => {
    val k = 5
    val docs = Tables.documents(s, d)
    val occ = shingleOcc(docs, k)
    // Reassembly is MAP-SIDE: ship each doc the starts of its duplicated
    // windows (sized by duplicated windows only), merge them into
    // disjoint covered ranges and keep the token runs between the ranges.
    // Each token is visited once: no per-token search of a covered set,
    // and no corpus-token-sized shuffle carrying the text to the excision.
    val startsPerDoc = occ.join(dupShingles(occ), Seq("shk"), "left_semi")
      .groupBy("doc_id").agg(array_sort(collect_list(col("p"))).as("starts"))
    // covered [s, e) ranges: a window starting inside or right after the
    // last range extends it (starts ascend, so p + k is its new end)
    val noRanges = array().cast("array<struct<s:int,e:int>>")
    // (`get` reads past either end of an array as null)
    val ranges = coalesce(aggregate(col("starts"), noRanges, (acc, p) => {
      val last = get(acc, size(acc) - 1)
      when(p <= last.getField("e"),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("s").as("s"), (p + k).as("e")))))
        .otherwise(concat(acc, array(struct(p.as("s"), (p + k).as("e")))))
    }), noRanges)
    // kept run j (0..m) spans [end of range j - 1, start of range j):
    // from the first token before range 0, to past the last token after
    // range m - 1
    val ws = TextAnalysis.tokens(col("text"))
    val keptRuns = transform(sequence(lit(0), size(col("ranges"))), j => {
      val from = coalesce(get(col("ranges"), j - 1).getField("e"), lit(1))
      val until = coalesce(get(col("ranges"), j).getField("s"),
        size(col("ws")) + 1)
      slice(col("ws"), from, until - from)
    })
    docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        ws.as("ws"))
      .join(startsPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), col("ws"), ranges.as("ranges"))
      .select(col("doc_id"), col("n_toks"),
        // null text has no token array: it keeps no tokens and cleans to
        // "", as the oracle's COALESCEs define
        coalesce(filter(flatten(keptRuns), tok => length(tok) > 0),
          array().cast("array<string>")).as("kept_ws"))
      .select(col("doc_id"), col("n_toks"),
        size(col("kept_ws")).cast("long").as("n_kept_tokens"),
        array_join(col("kept_ws"), " ").as("clean_text"))
  }

  val q102Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, i AS p, array_to_string(ws[i:i+4], ' ') AS sh
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 4)) AS i
      |        FROM t WHERE len(ws) >= 5)),
      |dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, tp FROM (
      |    SELECT doc_id, unnest(generate_series(p, p + 4)) AS tp
      |    FROM occ WHERE sh IN (SELECT sh FROM dup))),
      |tok AS (
      |  SELECT doc_id, i AS tp, ws[i] AS tok
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
      |        FROM t)
      |  WHERE len(ws[i]) > 0),
      |kept AS (
      |  SELECT k.doc_id, k.tp, k.tok
      |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.tp = c.tp
      |  WHERE c.tp IS NULL),
      |pd AS (
      |  SELECT doc_id, count(*) AS kept,
      |    array_to_string(list(tok ORDER BY tp), ' ') AS ct
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
      |    AS n_toks,
      |  CAST(COALESCE(pd.kept, 0) AS BIGINT) AS n_kept_tokens,
      |  COALESCE(pd.ct, '') AS clean_text
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q103 — INCREMENTAL dedup-group maintenance: a 5% "new batch" folds
    * into the STANDING corpus's component labels via
    * Components.mergeIncremental — standing endpoints collapse to their
    * component ids and CC iterates only the QUOTIENT graph (new docs +
    * touched components), sized by the day's pairs, never the corpus.
    * The oracle is the FULL recursive-CTE recompute over all docs, so
    * the driver hash-checks the incremental algebra ≡ batch recompute —
    * the invariant that lets a 100 TB deployment keep dedup groups as a
    * stored table and pay per-batch cost daily. (In-query the standing
    * labels are derived too — a standalone query has no stored state —
    * but only the quotient CC touches the new edges.) Pairs are
    * MinHash-LSH with exact verification (q19/q96's tiers: precision
    * exact by construction, recall deterministically 1 on this corpus).
    */
  val q103_incremental_cc: Q = (s, d) => {
    import graft.ops.TextDedup
    val docs = Tables.documents(s, d)
    val isNew = col("doc_id") % 20 === 0
    val newDocs = docs.filter(isNew)
    val standingDocs = docs.filter(!isNew)
    // one materialized shingle relation per corpus side serves BOTH pair
    // tiers (standing×standing and the incremental candidates)
    val shStand = TextDedup.maybeMaterialize(
      TextDedup.shingleRelation(standingDocs, "doc_id", "text", lit(""), 3))
    val shNew = TextDedup.maybeMaterialize(
      TextDedup.shingleRelation(newDocs, "doc_id", "text", lit(""), 3))
    val standingPairs = TextDedup.minhashLshPairsFromShingles(
        shStand, numHashes = 48, bands = 8, threshold = 0.5)
      .select("id_a", "id_b")
    val standing = graft.ops.Components.connectedComponents(
      standingDocs.select(col("doc_id").as("id")), standingPairs)
    val newPairs = TextDedup.minhashLshPairsIncrementalFromShingles(
        shNew, shStand, numHashes = 48, bands = 8, threshold = 0.5)
      .select("id_a", "id_b")
    graft.ops.Components.mergeIncremental(
        standing, newDocs.select(col("doc_id").as("id")), newPairs)
      .select(col("id").as("doc_id"), col("component"))
  }

  val q103Sql: String =
    """WITH RECURSIVE s AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |                   for i in generate_series(1, len(ws)-2)]) AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |  WHERE len(ws) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(a.sh || b.sh)) >= 0.5),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
      |SELECT src AS doc_id, min(dst) AS component
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** q106 — INCREMENTAL duplicated-span maintenance (q103's pattern
    * applied to q101): a 5% "new batch" folds into the STANDING corpus's
    * span audit through a stored shingle-count table. Counts update
    * ADDITIVELY (standing counts + batch counts — the standing TEXTS are
    * never re-shingled at ingest time; in-query the standing relations
    * are derived too, a standalone query having no stored state), and
    * only three slices recompute islands: the new docs, and the standing
    * docs TOUCHED by a key whose count crossed the ≥2 threshold because
    * of the batch (standing count 1 + batch occurrence). Untouched
    * standing docs keep their stored audit rows unchanged — sound
    * because a standing doc contains no new-only key (its own occurrence
    * would make the standing count ≥1) and crossed keys only live in
    * touched docs, so the old and updated duplicate sets agree on every
    * key the doc contains. The oracle is q101's FULL recompute over all
    * documents, so the driver hash-checks incremental ≡ batch — the
    * invariant that lets a daily ingest maintain the span audit at
    * per-batch cost.
    */
  val q106_incremental_dup_spans: Q = (s, d) => {
    import graft.ops.TextDedup
    val k = 5
    val docs = Tables.documents(s, d)
    val isNew = col("doc_id") % 20 === 0
    val occStd = shingleOcc(docs.filter(!isNew), k) // the "stored" occ rows
    val occNew = shingleOcc(docs.filter(isNew), k)
    val counts = TextDedup.maybeMaterialize(
      occStd.groupBy("shk").agg(count(lit(1)).as("n_std"))
        .join(occNew.groupBy("shk").agg(count(lit(1)).as("n_new")),
          Seq("shk"), "full")
        .select(col("shk"), coalesce(col("n_std"), lit(0L)).as("n_std"),
          coalesce(col("n_new"), lit(0L)).as("n_new")))
    val dupAll = counts.filter(col("n_std") + col("n_new") >= 2).select("shk")
    val dupStdOld = counts.filter(col("n_std") >= 2).select("shk")
    val crossed = counts
      .filter(col("n_std") === 1 && col("n_new") >= 1).select("shk")
    val touched = occStd.join(crossed, Seq("shk"), "left_semi")
      .select("doc_id").distinct()
    val perDoc = spanAgg(occStd, dupStdOld, k) // the "stored" audit table
        .join(touched, Seq("doc_id"), "left_anti")
      .unionByName(spanAgg(
        occStd.join(touched, Seq("doc_id"), "left_semi"), dupAll, k))
      .unionByName(spanAgg(occNew, dupAll, k))
    spanReadout(docs, perDoc)
  }

  /** q111 — SPAN-LEVEL eval decontamination: where q69 flags documents
    * whose shingles overlap the held-out eval slice, this performs the
    * surgical removal — every train-doc token position covered by a
    * k-window that appears ANYWHERE in the eval set is excised, and the
    * survivors reassemble position-sorted (q102's machinery pointed at an
    * eval universe instead of corpus-wide duplicates). Whole-doc drops
    * (q69's is_contaminated) lose good tokens with the bad; span excision
    * keeps everything that is not literally the benchmark text — the
    * decontamination shape Lee et al. style pipelines ship.
    *
    * Scale shape: the eval shingle-key universe is deduped and BROADCAST
    * (eval sets are benchmarks, not corpora — q69's argument), keyed by
    * xxhash64 (8 bytes/entry, the q101 discipline); train occurrences
    * stream past it with a broadcast semi-join, so the corpus never
    * shuffles by shingle. The only corpus-keyed shuffle is the per-doc
    * reassembly, proportional to output.
    */
  val q111_decontam_removal: Q = (s, d) => {
    val k = 5
    val docs = Tables.documents(s, d)
    val isEval = col("doc_id") % 20 === 0
    val trainDocs = docs.filter(!isEval)
    val evalKeys = shingleOcc(docs.filter(isEval), k)
      .select("shk").distinct()
    val covered = shingleOcc(trainDocs, k)
      .join(broadcast(evalKeys), Seq("shk"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("tp"))
      .distinct()
    val ws = TextAnalysis.tokens(col("text"))
    val toks = trainDocs
      .select(col("doc_id"), posexplode(ws).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("tp"), col("tok"))
      .filter(length(col("tok")) > 0)
    val cleaned = toks.join(covered, Seq("doc_id", "tp"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok")), " ").as("ct"))
    trainDocs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("kept"), lit(0L)).as("n_kept_tokens"),
        coalesce(col("ct"), lit("")).as("clean_text"))
  }

  val q111Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, i AS p, array_to_string(ws[i:i+4], ' ') AS sh
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 4)) AS i
      |        FROM t WHERE len(ws) >= 5)),
      |ev AS (SELECT DISTINCT sh FROM occ WHERE doc_id % 20 = 0),
      |cov AS (
      |  SELECT DISTINCT doc_id, tp FROM (
      |    SELECT doc_id, unnest(generate_series(p, p + 4)) AS tp
      |    FROM occ WHERE doc_id % 20 <> 0
      |      AND sh IN (SELECT sh FROM ev))),
      |tok AS (
      |  SELECT doc_id, i AS tp, ws[i] AS tok
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
      |        FROM t WHERE doc_id % 20 <> 0)
      |  WHERE len(ws[i]) > 0),
      |kept AS (
      |  SELECT k.doc_id, k.tp, k.tok
      |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.tp = c.tp
      |  WHERE c.tp IS NULL),
      |pd AS (
      |  SELECT doc_id, count(*) AS kept,
      |    array_to_string(list(tok ORDER BY tp), ' ') AS ct
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
      |    AS n_toks,
      |  CAST(COALESCE(pd.kept, 0) AS BIGINT) AS n_kept_tokens,
      |  COALESCE(pd.ct, '') AS clean_text
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |WHERE d.doc_id % 20 <> 0
      |ORDER BY d.doc_id""".stripMargin

  /** q113 — cross-source duplication matrix: for every near-duplicate
    * pair (the q19-checked MinHash tier, exact-verified, recall 1 on
    * this corpus), count pairs per unordered source pair — the
    * governance readout that answers "is crawl-A substantially
    * re-serving wiki?" and prices per-source dedup value before mixing.
    * Source names normalize (least, greatest) so the matrix is
    * triangular; counts are integers, oracle-exact against the same
    * all-pairs Jaccard definition.
    *
    * Scale shape: the pair relation is the banded-LSH tier (near-linear
    * candidates); the source join carries ids only; the final aggregate
    * is |sources|² rows.
    */
  val q113_dup_source_matrix: Q = (s, d) => {
    import graft.ops.TextDedup
    val docs = Tables.documents(s, d)
    val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 48, bands = 8, threshold = 0.5)
      .select("id_a", "id_b")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
  }

  val q113Sql: String =
    """WITH s AS (
      |  SELECT doc_id, source,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |                   for i in generate_series(1, len(ws)-2)]) AS sh
      |  FROM (SELECT doc_id, source,
      |          string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |  WHERE len(ws) >= 3),
      |pairs AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(a.sh || b.sh)) >= 0.5)
      |SELECT least(sa, sb) AS src_lo, greatest(sa, sb) AS src_hi,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q122 — n-gram novelty: per doc, how many of its DISTINCT k-shingles
    * first appeared in an EARLIER doc (id order = ingest order under the
    * append-only contract), plus the novelty ratio in integer ppm. The
    * curation signal behind dedup-aware sampling: a doc whose shingle
    * vocabulary is mostly re-used text scores low even when no single
    * span crosses the q101 duplication threshold.
    *
    * Scale shape: one distinct + one min-aggregate + one join, all keyed
    * on the 8-byte xxhash64 shingle (the PlanSpec contract family),
    * map-side combined; per-doc work bounded by document length.
    */
  val q122_ngram_novelty: Q = (s, d) => {
    val k = 5
    val occ = shingleOcc(Tables.documents(s, d), k)
      .select("doc_id", "shk").distinct()
    // n_seen_before counts a doc's distinct shingles whose corpus-first
    // doc is EARLIER; since min_doc(shk) ≤ doc_id for every shingle the
    // doc holds, that is exactly n_shingles − #(shingles this doc is
    // FIRST for). Aggregating the first-doc relation by doc therefore
    // replaces the join BACK onto the position-scale occurrence relation
    // (shuffle ∝ distinct (doc, shingle) rows) with a doc-count-sized
    // join — and the two readers of `occ.distinct` are the same subtree,
    // so ReuseExchange serves both from one shuffle.
    val perDoc = occ.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val firstCounts = occ.groupBy("shk").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    perDoc.join(firstCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        (col("n_shingles") - coalesce(col("n_first"), lit(0L)))
          .as("n_seen_before"))
      .withColumn("novelty_ppm",
        expr("(1000000 * (n_shingles - n_seen_before)) DIV n_shingles"))
  }

  val q122Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |occ AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 4)) AS i
      |        FROM t WHERE len(ws) >= 5)),
      |first AS (SELECT sh, min(doc_id) AS first_doc FROM occ GROUP BY sh)
      |SELECT occ.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN first_doc < occ.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_seen_before,
      |  CAST((1000000 * (count(*) - SUM(CASE WHEN first_doc < occ.doc_id
      |    THEN 1 ELSE 0 END))) // count(*) AS BIGINT) AS novelty_ppm
      |FROM occ JOIN first USING (sh)
      |GROUP BY occ.doc_id
      |ORDER BY occ.doc_id""".stripMargin

  /** q125 — asymmetric containment pairs: |A∩B| / |A| ≥ 9/10 within the
    * language block — the quote/boilerplate detector the symmetric
    * Jaccard tiers (q18/q19) structurally miss: a license notice pasted
    * into a much longer doc has Jaccard ≈ |A|/|B| → 0 but containment 1.
    * Exact tier via containment-variant prefix filtering (recall 1 by
    * pigeonhole; only the contained side explodes to a rarity prefix,
    * the container side stays fully indexed); every threshold and the
    * ppm score are integer arithmetic, so the pair set is bit-identical
    * across engines.
    */
  val q125_containment: Q = (s, d) =>
    graft.ops.TextDedup.containmentPairs(Tables.documents(s, d),
        "doc_id", "text", "lang", n = 3, tNum = 9, tDen = 10)

  val q125Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    list_distinct([array_to_string(ws[i:i+2], ' ')
      |                   for i in generate_series(1, len(ws)-2)]) AS sh
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |  WHERE len(ws) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST((1000000 * len(list_intersect(a.sh, b.sh))) // len(a.sh)
      |    AS BIGINT) AS containment_ppm
      |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id <> b.doc_id
      |WHERE 10 * len(list_intersect(a.sh, b.sh)) >= 9 * len(a.sh)
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q113_dup_source_matrix" -> q113_dup_source_matrix,
    "q125_containment" -> q125_containment,
    "q122_ngram_novelty" -> q122_ngram_novelty,
    "q99_temperature_mix" -> q99_temperature_mix,
    "q100_shuffle_pack" -> q100_shuffle_pack,
    "q101_dup_spans" -> q101_dup_spans,
    "q102_dup_span_removal" -> q102_dup_span_removal,
    "q103_incremental_cc" -> q103_incremental_cc,
    "q106_incremental_dup_spans" -> q106_incremental_dup_spans,
    "q111_decontam_removal" -> q111_decontam_removal)

  val oracleSql: Map[String, String] = Map(
    "q99_temperature_mix" -> q99Sql,
    "q100_shuffle_pack" -> q100Sql,
    "q101_dup_spans" -> q101Sql,
    "q102_dup_span_removal" -> q102Sql,
    "q103_incremental_cc" -> q103Sql,
    // the oracle IS the full recompute: incremental ≡ batch, hash-checked
    "q106_incremental_dup_spans" -> q101Sql,
    "q111_decontam_removal" -> q111Sql,
    "q113_dup_source_matrix" -> q113Sql,
    "q122_ngram_novelty" -> q122Sql,
    "q125_containment" -> q125Sql)
}
