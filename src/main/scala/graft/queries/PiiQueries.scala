package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection and redaction — the screening pass every
  * training-data pipeline runs before text leaves the curation tier
  * (emails, IPv4 addresses, phone numbers → typed counts + redacted
  * text + a per-source governance rollup).
  *
  * The synthetic corpus contains no natural PII (probed: zero matches
  * for all three pattern families at every SF), so the queries PLANT
  * deterministic PII derived from `doc_id` into an augmented text —
  * the media-tier discipline (q151+): the synthesis is part of the
  * query definition, both engines construct the identical input, and
  * the oracle then re-derives detection, redaction, and rollup
  * independently. Density varies by id (email on id%3=0, IPv4 on
  * id%5=0, phone on id%7=0) so clean docs, single-hit docs, and
  * multi-hit docs all exist.
  *
  * Reference behavior being replaced: none — the reference pipeline
  * (scraping_jobsdb) ships scraped text as-is; this is the
  * beyond-the-reference curation tier.
  *
  * 100 TB: detection and redaction are map-only and ride the scan
  * (three codegen'd regexes per row); the audit is one
  * map-side-combined shuffle on `source` with |sources| output rows.
  */
object PiiQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The three pattern families. Plain character-class regexes chosen
    * to mean the same thing to Java's engine (Spark) and RE2 (DuckDB):
    * no backreferences, no lookaround, no word boundaries.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Deterministic planted-PII augmentation of the documents relation:
    * appends an email / IPv4 / phone segment keyed off `doc_id`. Kept
    * as a Column so detection tests and both queries share one
    * definition.
    */
  def plantedText: Column = concat(
    coalesce(col("text"), lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" from 10."), col("doc_id") % 256, lit("."),
        col("doc_id") % 97, lit(".1")))
      .otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  /** The SQL twin of [[plantedText]], spliced into both oracles.
    * Single-line on purpose: the host queries run `.stripMargin` over
    * the interpolated result, which would eat a leading `||`.
    */
  private[queries] val plantedSql: String = Seq(
    "coalesce(text, '')",
    "|| CASE WHEN doc_id % 3 = 0",
    "THEN ' contact user' || doc_id || '@example.com' ELSE '' END",
    "|| CASE WHEN doc_id % 5 = 0",
    "THEN ' from 10.' || (doc_id % 256) || '.' || (doc_id % 97)",
    "|| '.1' ELSE '' END",
    "|| CASE WHEN doc_id % 7 = 0",
    "THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')",
    "|| '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')",
    "ELSE '' END").mkString(" ")

  /** Detection + redaction columns over an `aug` text column: typed
    * match counts (pre-redaction), the redacted text (fixed pass
    * order: email → IPv4 → phone), and the residual match count ON the
    * redacted text — the redaction-completeness invariant a governance
    * audit reads (always 0 here; computed, not assumed).
    */
  private def detect(aug: Column): Seq[Column] = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(aug, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    Seq(
      size(regexp_extract_all(aug, lit(EmailRe), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(aug, lit(Ipv4Re), lit(0))).cast("long")
        .as("n_ipv4"),
      size(regexp_extract_all(aug, lit(PhoneRe), lit(0))).cast("long")
        .as("n_phones"),
      redacted.as("redacted"),
      (size(regexp_extract_all(redacted, lit(EmailRe), lit(0))) +
        size(regexp_extract_all(redacted, lit(Ipv4Re), lit(0))) +
        size(regexp_extract_all(redacted, lit(PhoneRe), lit(0))))
        .cast("long").as("n_residual"))
  }

  /** Screen ANY relation's text column: the input row plus the typed
    * detection counts, redacted text, and residual — the reusable
    * surface the streaming ingest door ([[graft.streaming.DocStream]])
    * composes with (detect on arrival, fold only redacted text).
    * Unlike the q172/q173 queries this plants nothing: it screens the
    * text it is given.
    */
  def screened(df: DataFrame, textCol: String): DataFrame =
    df.select(col("*") +: detect(coalesce(col(textCol), lit(""))): _*)

  /** q172 — per-document PII detection + redaction: typed counts, the
    * redacted text (string-equal across engines — a divergent regex
    * semantics or pass order hash-mismatches), and the residual count
    * on the redacted output. Map-only; at 100 TB the screen rides the
    * scan.
    */
  val q172_pii_redact: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("aug", plantedText)
      .select(col("doc_id") +: detect(col("aug")): _*)

  val q172Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id, $plantedSql AS aug FROM documents),
       |r AS (
       |  SELECT doc_id, aug,
       |    regexp_replace(regexp_replace(regexp_replace(aug,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS redacted
       |  FROM a)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT)
       |    AS n_phones,
       |  redacted,
       |  CAST(len(regexp_extract_all(redacted, '$EmailRe'))
       |     + len(regexp_extract_all(redacted, '$Ipv4Re'))
       |     + len(regexp_extract_all(redacted, '$PhoneRe')) AS BIGINT)
       |    AS n_residual
       |FROM r ORDER BY doc_id""".stripMargin

  /** q173 — per-source PII governance rollup: docs scanned, docs with
    * any hit, typed totals, and the summed residual-after-redaction
    * (the dataset-card row a release review reads; q163's governance
    * discipline applied to the PII screen). One map-side-combined
    * shuffle on `source`, |sources| output rows.
    */
  val q173_pii_audit: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("aug", plantedText)
      .select(col("source") +: detect(col("aug")): _*)
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("n_emails") + col("n_ipv4") + col("n_phones") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum("n_emails").as("emails"),
        sum("n_ipv4").as("ipv4s"),
        sum("n_phones").as("phones"),
        sum("n_residual").as("residual_after_redaction"))

  val q173Sql: String =
    s"""WITH a AS (
       |  SELECT source, $plantedSql AS aug FROM documents),
       |r AS (
       |  SELECT source,
       |    len(regexp_extract_all(aug, '$EmailRe')) AS ne,
       |    len(regexp_extract_all(aug, '$Ipv4Re')) AS ni,
       |    len(regexp_extract_all(aug, '$PhoneRe')) AS np,
       |    regexp_replace(regexp_replace(regexp_replace(aug,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS redacted
       |  FROM a)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS docs,
       |  CAST(SUM(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_pii,
       |  CAST(SUM(ne) AS BIGINT) AS emails,
       |  CAST(SUM(ni) AS BIGINT) AS ipv4s,
       |  CAST(SUM(np) AS BIGINT) AS phones,
       |  CAST(SUM(len(regexp_extract_all(redacted, '$EmailRe'))
       |         + len(regexp_extract_all(redacted, '$Ipv4Re'))
       |         + len(regexp_extract_all(redacted, '$PhoneRe')))
       |    AS BIGINT) AS residual_after_redaction
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q172_pii_redact" -> q172_pii_redact,
    "q173_pii_audit" -> q173_pii_audit)

  val oracleSql: Map[String, String] = Map(
    "q172_pii_redact" -> q172Sql,
    "q173_pii_audit" -> q173Sql)
}
