package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL extraction, normalization, and domain governance — the
  * provenance tier of a web-scale corpus (CommonCrawl-style curation
  * dedups by normalized URL and filters by domain before anything else
  * touches the text).
  *
  * The synthetic corpus contains no URLs, so the queries PLANT
  * deterministic id-derived URLs — with tracking parameters and
  * fragments, the parts normalization exists to strip — via the same
  * synthesis discipline as the PII tier ([[PiiQueries]]).
  *
  * 100 TB: extraction + normalization are map-only regex work riding
  * the scan; the domain rollup is one map-side-combined shuffle with
  * |domains| output rows; URL-dedup (distinct on the normalized form)
  * is one exchange keyed by the normalized-URL hash.
  */
object UrlQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Matches an http(s) URL up to whitespace. RE2/Java-compatible. */
  val UrlRe = "https?://[^ ]+"

  /** Planted URL: scheme varies by id, a small domain pool (id%20),
    * a path carrying the id, a meaningful `id` parameter, tracking
    * parameters, and a fragment.
    */
  def plantedText: Column = concat(
    coalesce(col("text"), lit("")),
    lit(" see "),
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
    lit("sub"), col("doc_id") % 20, lit(".example.com/item/"),
    col("doc_id"),
    lit("?id="), col("doc_id"),
    lit("&utm_source=feed&utm_campaign=c"), col("doc_id") % 4,
    lit("#frag"), col("doc_id") % 3)

  private[queries] val plantedSql: String = Seq(
    "coalesce(text, '') || ' see '",
    "|| CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END",
    "|| 'sub' || (doc_id % 20) || '.example.com/item/' || doc_id",
    "|| '?id=' || doc_id",
    "|| '&utm_source=feed&utm_campaign=c' || (doc_id % 4)",
    "|| '#frag' || (doc_id % 3)").mkString(" ")

  /** Normalization pipeline over an extracted URL: strip the fragment,
    * then strip `utm_*` tracking parameters at every query position —
    * mid-list (`&utm_…`), leading (`?utm_…&` promotes the next `&`
    * back to `?`), and sole (`?utm_…$` drops with its `?`). Expressed
    * as four regex passes both engines run identically; PiiSpec pins
    * the semantics on hand-written URLs.
    */
  def normalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noMid = regexp_replace(noFrag, "[&]utm_[A-Za-z]+=[^&#]*", "")
    val noLead = regexp_replace(noMid, "[?]utm_[A-Za-z]+=[^&#]*&", "?")
    regexp_replace(noLead, "[?]utm_[A-Za-z]+=[^&#]*$", "")
  }

  private val normalizeSql: String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(u, " +
      "'#.*$', ''), " +
      "'[&]utm_[A-Za-z]+=[^&#]*', '', 'g'), " +
      "'[?]utm_[A-Za-z]+=[^&#]*&', '?', 'g'), " +
      "'[?]utm_[A-Za-z]+=[^&#]*$', '', 'g')"

  /** q175 — per-document URL extraction + normalization: the first URL
    * in each doc, its normalized form (fragment gone, tracking params
    * gone, id param kept), and its domain. Map-only.
    */
  val q175_url_normalize: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("aug", plantedText)
      .withColumn("u", regexp_extract(col("aug"), UrlRe, 0))
      .select(col("doc_id"),
        col("u").as("url_raw"),
        normalize(col("u")).as("url_norm"),
        regexp_extract(col("u"), "https?://([^/]+)", 1).as("domain"))

  val q175Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id, $plantedSql AS aug FROM documents),
       |e AS (
       |  SELECT doc_id, regexp_extract(aug, '$UrlRe') AS u FROM a)
       |SELECT doc_id, u AS url_raw,
       |  $normalizeSql AS url_norm,
       |  regexp_extract(u, 'https?://([^/]+)', 1) AS domain
       |FROM e ORDER BY doc_id""".stripMargin

  /** q176 — domain governance rollup: docs and distinct normalized
    * URLs per domain (the crawl-frontier / blocklist review relation).
    * One map-side-combined shuffle, |domains| output rows.
    */
  val q176_domain_rollup: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("aug", plantedText)
      .withColumn("u", regexp_extract(col("aug"), UrlRe, 0))
      .select(
        regexp_extract(col("u"), "https?://([^/]+)", 1).as("domain"),
        normalize(col("u")).as("url_norm"))
      .groupBy("domain")
      .agg(count(lit(1)).as("docs"),
        countDistinct("url_norm").as("distinct_urls"))

  val q176Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id, $plantedSql AS aug FROM documents),
       |e AS (
       |  SELECT doc_id, regexp_extract(aug, '$UrlRe') AS u FROM a),
       |n AS (
       |  SELECT regexp_extract(u, 'https?://([^/]+)', 1) AS domain,
       |    $normalizeSql AS url_norm
       |  FROM e)
       |SELECT domain, CAST(count(*) AS BIGINT) AS docs,
       |  CAST(count(DISTINCT url_norm) AS BIGINT) AS distinct_urls
       |FROM n GROUP BY domain ORDER BY domain""".stripMargin

  val queries: Map[String, Q] = Map(
    "q175_url_normalize" -> q175_url_normalize,
    "q176_domain_rollup" -> q176_domain_rollup)

  val oracleSql: Map[String, String] = Map(
    "q175_url_normalize" -> q175Sql,
    "q176_domain_rollup" -> q176Sql)
}
