package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

/** Round-6 storage surface: the file-format sinks exercised through a real
  * write → independent read-back, oracle-checked — closing the "sources
  * are spec-only" asterisk from the round-5 coverage table. The reference
  * moves every table through CSV staging files
  * (/root/reference/airflow/dags/export_to_csv.py:12-26), so the CSV
  * contract (no header, no quoting of plain fields, nullValue = "" and
  * emptyValue = "") is the part of the storage surface worth proving
  * against a second engine's parser, not just a Spark self-read.
  */
object StorageQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The directory the oracle SQL reads — RUN-SCOPED by the writing
    * JVM's pid, so two concurrent harness runs on one host can never
    * read each other's bytes or race a mid-overwrite directory. The
    * oracle stays consistent because the SQL string is interpolated from
    * this same value in this same JVM: the Spark side writes the files
    * during the query, and the harness dumps the oracle SQL (with the
    * identical pid-scoped path) before handing it to DuckDB.
    */
  val csvRoundtripDir =
    s"/tmp/graft_q104_csv_${ProcessHandle.current().pid()}"

  /** q104 — CSV sink → source round-trip on the documents table: project
    * (doc_id, lang2, source, n_chars) where lang2 is NULL for 'de' rows
    * (exercising nullValue) and '' for doc_id % 7 == 0 rows (exercising
    * emptyValue), write through the S3/S5 CSV contract, read back through
    * the S4 schema-enforced CSV read. Both writer conventions collapse to
    * the empty field on disk, and both engines' readers (Spark's default
    * nullValue "", DuckDB's nullstr '') lift the empty field back to
    * NULL — so the round-trip is digest-stable across engines, which is
    * exactly the property an export/ingest seam must have. The text
    * column stays out: free-text quoting is a parser-parity minefield the
    * reference's unquoted-plain-fields contract never enters.
    *
    * Scale shape: the write is a parallel multi-part CSV dump (no
    * coalesce — S5's single-file funnel is for report-sized exports); the
    * read-back is schema-enforced (single pass, no inference).
    */
  val q104_csv_roundtrip: Q = (s, d) => {
    val out = Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(""))
          .otherwise(nullif(col("lang"), lit("de"))).as("lang2"),
        col("source"), col("n_chars"))
    Sources.writeCsv(out, csvRoundtripDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang2", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    Sources.readCsv(s, schema, csvRoundtripDir)
  }

  val q104Sql: String =
    s"""SELECT doc_id, lang2, source, n_chars
      |FROM read_csv('$csvRoundtripDir/*.csv', header=false, nullstr='',
      |  columns={'doc_id':'BIGINT','lang2':'VARCHAR',
      |           'source':'VARCHAR','n_chars':'BIGINT'})
      |ORDER BY doc_id""".stripMargin

  /** Run-scoped shard directory (q104's pid discipline). Unlike q104's,
    * no reader needs it after the writing JVM exits (the oracle recomputes
    * the manifest from the documents), so the first q117 run registers its
    * deletion at exit.
    */
  val feedShardDir =
    s"/tmp/graft_q117_shards_${ProcessHandle.current().pid()}"

  private lazy val deleteFeedShardsAtExit = sys.addShutdownHook(
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(feedShardDir)))

  /** q117 — feed-shard sink round-trip: q100's deterministic shuffle+pack
    * feed materialized through [[graft.pipeline.CorpusBuild.writeFeedShards]]
    * (hive `shard=` directories, one ordered file per shard) and the
    * manifest aggregated from the files READ BACK — doc counts, sequence
    * counts, seq-id ranges, and token sums per shard, all reproduced by
    * the oracle from the packing arithmetic alone. The last spec-only
    * sink now pushes real bytes: a wrong partition layout, a lost row, or
    * a misplaced sequence shows up as a manifest-parity hash mismatch.
    */
  val q117_feed_shards: Q = (s, d) => {
    import graft.functions.TextAnalysis
    import graft.ops.Packing
    val idBits = s.conf.get("spark.graft.shuffleIdBits", "20").toInt
    val counts = Tables.documents(s, d)
      .select(col("doc_id"),
        Packing.shuffleKey(col("doc_id"), idBits).as("skey"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        lit("all").as("mix"))
    val feed = Packing.packSequences(counts, "skey", "mix", "n_toks",
        seqLen = 2048L, shardRows = 1L << 52)
      .select("doc_id", "skey", "n_toks", "seq_id", "seq_offset")
    deleteFeedShardsAtExit
    graft.pipeline.CorpusBuild.writeFeedShards(feed, feedShardDir,
      seqsPerShard = 4L)
  }

  val q117Sql: String =
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
      |  FROM c),
      |f AS (SELECT doc_id, n_toks, cum_before // 2048 AS seq_id FROM s)
      |SELECT CAST(seq_id // 4 AS BIGINT) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
      |  CAST(min(seq_id) AS BIGINT) AS seq_lo,
      |  CAST(max(seq_id) AS BIGINT) AS seq_hi,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      |FROM f GROUP BY 1 ORDER BY shard""".stripMargin

  /** q121 — the training feed served from STORED state: three real
    * `ingestBatch` generations pack their batch against the persisted
    * per-source totals (`trackPack`) and store placement deltas; the
    * readout folds the deltas — while the oracle recomputes every
    * placement from the raw corpus with one full per-source prefix sum.
    * A drifted stored total, a double-packed replay, or a lost delta
    * shows up as a hash mismatch on (seq_id, seq_offset). This is the
    * persisted form of PackingSpec's incremental ≡ full property:
    * appending a day to a packed 100 TB feed costs the day's prefix
    * sums, never a corpus re-pack.
    */
  val q121_state_feed: Q = (s, d) => {
    val dir = TokenizerQueries.ensurePostingState(s, d)
    graft.pipeline.CorpusBuild.stateFeed(s, dir)
      .select("doc_id", "source", "n_toks", "seq_id", "seq_offset")
  }

  val q121Sql: String =
    """WITH c AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source, n_toks,
      |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
      |      PRECEDING), 0) AS BIGINT) AS cum
      |  FROM c)
      |SELECT doc_id, source, n_toks,
      |  cum // 2048 AS seq_id, cum % 2048 AS seq_offset
      |FROM s ORDER BY doc_id""".stripMargin

  /** q128 — the q126 drift monitor served from STORED state: the standing
    * corpus's distribution on the stationary monitor dimensions (lang,
    * source, floor-log2 length) is the fold of per-generation bucket-count
    * deltas (`trackDrift`), and the incoming batch — here the last ingest
    * third replayed as the probe — is bucketed once and TVD-scored against
    * it in exact integer ppm, without rescanning the corpus. The oracle
    * recomputes both windows from the raw table; a lost delta, a
    * double-folded replay, or a non-stationary bucket function shows up
    * as a count or ppm mismatch.
    */
  val q128_state_drift: Q = (s, d) => {
    val dir = TokenizerQueries.ensurePostingState(s, d)
    val docs = Tables.documents(s, d)
    val (_, cut2) = TokenizerQueries.generationCuts(docs, "doc_id")
    graft.pipeline.CorpusBuild.stateDrift(s, dir,
      docs.filter(col("doc_id") > cut2))
  }

  val q128Sql: String =
    s"""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
      |           FROM documents),
      |c2 AS (SELECT lo + 2 * ((hi - lo) // 3) AS cut2 FROM b),
      |buck AS (
      |  SELECT doc_id, 'lang' AS dim, lang AS bucket FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'source', source FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'len_log2',
      |    CAST(CASE WHEN n_chars > 0 THEN length(bin(n_chars)) - 1
      |      ELSE 0 END AS VARCHAR)
      |  FROM documents),
      |counts AS (
      |  SELECT dim, bucket, CAST(count(*) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN doc_id > cut2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_cur
      |  FROM buck, c2 GROUP BY dim, bucket),
      |${AnalyticsQueries.tvdSql}""".stripMargin

  /** q141 — training-feed fragmentation audit: per source, how many docs
    * the 2048-token greedy pack SPLITS across sequence boundaries, the
    * total fragment count, and the worst doc's span — the feed-QA metric
    * behind choosing a sequence length (every split doc costs the model a
    * truncated context at training time). Derived entirely from the
    * library's pack placements by integer arithmetic: a doc placed at
    * seq_offset with n tokens occupies (seq_offset + n − 1) DIV L + 1
    * consecutive sequences — no second window pass over the corpus, and
    * the aggregate is partial+final on the source key. greatest(n,1)
    * keeps zero-token docs at one fragment in BOTH engines (a −1 DIV
    * would floor vs truncate differently).
    */
  val q141_pack_fragmentation: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_toks"))
    val shardRows = s.conf.get("spark.graft.packShardRows", "1048576").toLong
    graft.ops.Packing
      .packSequences(counts, "doc_id", "source", "n_toks", 2048L, shardRows)
      .withColumn("n_frags",
        expr("(seq_offset + greatest(n_toks, 1L) - 1) DIV 2048 + 1"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_frags") > 1, 1L).otherwise(0L)).as("n_split_docs"),
        sum(col("n_frags")).as("n_fragments"),
        max(col("n_frags")).as("max_frags"))
      .select(col("source"), col("n_docs"), col("n_split_docs"),
        col("n_fragments"), col("max_frags"),
        expr("(1000000 * n_split_docs) DIV n_docs").as("split_ppm"))
  }

  val q141Sql: String =
    """WITH c AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source, n_toks,
      |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS BIGINT) % 2048 AS seq_offset
      |  FROM c),
      |f AS (
      |  SELECT source,
      |    (seq_offset + greatest(n_toks, 1) - 1) // 2048 + 1 AS n_frags
      |  FROM s)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_frags > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_split_docs,
      |  CAST(SUM(n_frags) AS BIGINT) AS n_fragments,
      |  CAST(MAX(n_frags) AS BIGINT) AS max_frags,
      |  CAST((1000000 * SUM(CASE WHEN n_frags > 1 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS split_ppm
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q104_csv_roundtrip" -> q104_csv_roundtrip,
    "q117_feed_shards" -> q117_feed_shards,
    "q121_state_feed" -> q121_state_feed,
    "q128_state_drift" -> q128_state_drift,
    "q141_pack_fragmentation" -> q141_pack_fragmentation)

  val oracleSql: Map[String, String] = Map(
    "q104_csv_roundtrip" -> q104Sql,
    "q117_feed_shards" -> q117Sql,
    "q121_state_feed" -> q121Sql,
    "q128_state_drift" -> q128Sql,
    "q141_pack_fragmentation" -> q141Sql)
}
