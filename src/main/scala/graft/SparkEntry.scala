package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, ClassifierQueries, CompletenessQueries, CoreQueries, CurationQueries, ExpansionQueries, ExtensionQueries, FilterQueries, MixQueries, PiiQueries, PrepQueries, ReleaseQueries, StorageQueries, TokenizerQueries, UrlQueries, WebQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The star-join revenue aggregate exercises scans, broadcast + shuffle
    * joins, and exact aggregation in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q13_star_join(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ ExtensionQueries.queries ++
      AnalyticsQueries.queries ++ CompletenessQueries.queries ++
      ExpansionQueries.queries ++ PrepQueries.queries ++
      CurationQueries.queries ++ MixQueries.queries ++
      StorageQueries.queries ++ TokenizerQueries.queries ++
      FilterQueries.queries ++ PiiQueries.queries ++
      ClassifierQueries.queries ++ UrlQueries.queries ++ ReleaseQueries.queries ++
      WebQueries.queries

  /** The queries whose result rows come in a defined order, each with
    * why. Every other query's result is an unordered relation: its sink
    * (a table write, the noop sink, the oracle compare, which sorts rows
    * and columns itself) never reads rows in order, so a query body does
    * not sort its output for presentation. Each query here is a top-k
    * (`orderBy(...).limit(k)`, planned as TakeOrderedAndProject), whose
    * sort decides which rows exist at all. PlanSpec pins both sides: a
    * query ends in a sort exactly when it is listed here.
    */
  val orderedResults: Map[String, String] = Map(
    "q12_sort_limit" -> "top 100 orders by total price",
    "q29_top_orders" -> "top 10 orders by revenue",
    "q35_top_customers" -> "top 20 customers by revenue",
    "q110_keyword_search" -> "top 20 docs by matched terms, then term frequency",
    "q114_bm25_rank" -> "top-k docs by BM25 score",
    "q119_state_bm25_rank" -> "q114's top-k served from the posting state",
    "q132_collocations" -> "top 100 word pairs by lift",
    "q189_rrf_hybrid" -> "top 20 docs by fused reciprocal rank")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ ExtensionQueries.oracleSql ++
      AnalyticsQueries.oracleSql ++ CompletenessQueries.oracleSql ++
      ExpansionQueries.oracleSql ++ PrepQueries.oracleSql ++
      CurationQueries.oracleSql ++ MixQueries.oracleSql ++
      StorageQueries.oracleSql ++ TokenizerQueries.oracleSql ++
      FilterQueries.oracleSql ++ PiiQueries.oracleSql ++
      ClassifierQueries.oracleSql ++ UrlQueries.oracleSql ++ ReleaseQueries.oracleSql ++
      WebQueries.oracleSql
}
