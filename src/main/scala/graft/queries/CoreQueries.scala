package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedupe, Impute, Ledger, Quality}

/** The reference's operator surface (SURVEY.md §2), each re-expressed as a
  * declarative Spark query over the driver test corpus, paired with ANSI SQL
  * the driver runs in DuckDB as the correctness oracle.
  *
  * Conventions for oracle parity:
  *  - every aggregate / computed column is aliased identically in both;
  *  - double sums go through Tables.exactSum (order-insensitive);
  *  - output rows are unordered (the compare sorts rows and columns),
  *    except the top-k queries listed in `SparkEntry.orderedResults`;
  *    the SQL's ORDER BY only makes the oracle's own output readable;
  *  - DuckDB type quirks (HUGEINT sum, BIGINT year(), first-match-only
  *    regexp_replace) are normalized with explicit casts / flags in the SQL.
  */
object CoreQueries {
  import Tables.exactSum

  type Q = (SparkSession, String) => DataFrame

  /** q01 — A1, the analytic core: min/max band per key
    * (impute_salary_create_salary_table.sql:3-9 semantics). One hash shuffle,
    * partial+final aggregate.
    */
  val q01_impute_minmax: Q = (s, d) =>
    Impute.minMaxPerKey(Tables.lineitem(s, d), "l_orderkey",
        "l_extendedprice", "l_extendedprice", "min_price", "max_price")

  val q01Sql: String =
    """SELECT l_orderkey, min(l_extendedprice) AS min_price,
      |       max(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** q02 — D1 deterministic DISTINCT ON: first row per key under an explicit
    * total order (scrape_url_dedupe_jobs.sql:1-8; ordering covers every
    * projected column because l_linenumber alone is not unique per order).
    */
  val q02_dedupe_first: Q = (s, d) =>
    Dedupe.firstRowPerKey(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_partkey"),
        Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey")))

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |         row_number() OVER (PARTITION BY l_orderkey
      |                            ORDER BY l_linenumber, l_partkey) AS rn
      |  FROM lineitem) t
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  /** q03 — J1/P7/J2, the anti-join ledger idiom: keys not yet processed
    * (ParseHtml.py:26-31 NOT IN; scrape_url_create_scraped_job_table.sql:10-15
    * LEFT OUTER + IS NULL). Ledger side pruned to the key column before the
    * join so it broadcasts.
    */
  val q03_ledger_anti: Q = (s, d) => {
    val processed = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"))
    Ledger.newRowsOnly(Tables.orders(s, d), processed, Seq("o_orderkey"))
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
  }

  val q03Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
      |ORDER BY o_orderkey""".stripMargin

  /** q04 — J3+P6, UPDATE..FROM as join-merge: backfill a column only where
    * it is currently null (impute_salary_update_parsed_jobs_table.sql:1-7).
    * 'O'-status orders play the un-imputed rows; the per-order lineitem sum
    * plays the imputed value.
    */
  val q04_merge_update: Q = (s, d) => {
    val target = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      when(col("o_orderstatus") === "O", lit(null).cast(DoubleType))
        .otherwise(col("o_totalprice")).as("price"))
    val updates = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(exactSum(col("l_extendedprice")).as("price"))
    Impute.mergeUpdateWhenAllNull(target, updates, "o_orderkey", Seq("price"))
  }

  val q04Sql: String =
    """SELECT o.o_orderkey, o.o_orderstatus,
      |  CASE WHEN o.o_orderstatus = 'O' THEN u.upd ELSE o.o_totalprice END AS price
      |FROM orders o LEFT JOIN (
      |  SELECT l_orderkey,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS upd
      |  FROM lineitem GROUP BY l_orderkey) u
      |ON o.o_orderkey = u.l_orderkey
      |ORDER BY o.o_orderkey""".stripMargin

  /** q05 — D2/D3, idempotent set-insert: union of two overlapping slices,
    * keeping one row per unique key (scrape_url_insert_data.sql ON CONFLICT
    * DO NOTHING over the per-combo loads).
    */
  val q05_idempotent_upsert: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val existing = li.filter(col("l_linenumber") <= 2)
    val incoming = li.filter(col("l_linenumber") >= 2)
    Ledger.upsertPreferExisting(existing, incoming,
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"))
  }

  val q05Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem WHERE l_linenumber <= 2
      |UNION
      |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem WHERE l_linenumber >= 2
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  /** q06 — A2-A4/A6, the data-quality gate as ONE single-pass aggregate row:
    * row count, duplicate-key count, null count, and value range
    * (scrape_url.py:424-436).
    */
  val q06_quality_metrics: Q = (s, d) =>
    Quality.metrics(Tables.orders(s, d), "o_orderkey", "o_orderdate", "o_orderdate")

  val q06Sql: String =
    """SELECT count(*) AS n_rows,
      |  count(o_orderkey) - count(DISTINCT o_orderkey) AS dup_keys,
      |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |  min(o_orderdate) AS range_min, max(o_orderdate) AS range_max
      |FROM orders""".stripMargin

  /** q07 — F3-F9/F17 scalar string functions: trim, substring, split,
    * regexp_replace (global), regexp_extract, string→int cast, concat
    * (utils.py:32-107 string surface).
    */
  val q07_string_funcs: Q = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      trim(col("p_name")).as("name_trim"),
      substring(col("p_name"), 1, 5).as("name_head"),
      element_at(split(col("p_name"), " "), 1).as("first_word"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
      regexp_extract(col("p_brand"), "#(\\d+)$", 1).as("brand_num_s"),
      regexp_extract(col("p_brand"), "#(\\d+)$", 1).cast(IntegerType).as("brand_num"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      upper(col("p_type")).as("type_upper"),
      when(col("p_type") === "ECONOMY", lit("cheap")).otherwise(lit("other")).as("bucket"))

  val q07Sql: String =
    """SELECT p_partkey,
      |  trim(p_name) AS name_trim,
      |  substring(p_name, 1, 5) AS name_head,
      |  split_part(p_name, ' ', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
      |  regexp_extract(p_brand, '#(\d+)$', 1) AS brand_num_s,
      |  CAST(regexp_extract(p_brand, '#(\d+)$', 1) AS INTEGER) AS brand_num,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  upper(p_type) AS type_upper,
      |  CASE WHEN p_type = 'ECONOMY' THEN 'cheap' ELSE 'other' END AS bucket
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q08 — F10-F14 date functions: to_date, format, pattern-parse roundtrip
    * (dd-MMM-yy semantics of utils.py:59-61 generalized to full year),
    * date arithmetic, year/month extraction, ceil-division
    * (scrape_url.py:217-219).
    */
  val q08_date_funcs: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      to_date(col("o_orderdate")).as("order_date"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_str"),
      to_date(date_format(col("o_orderdate"), "dd-MMM-yyyy"), "dd-MMM-yyyy").as("roundtrip"),
      date_add(to_date(col("o_orderdate")), 30).as("due_date"),
      year(col("o_orderdate")).as("order_year"),
      month(col("o_orderdate")).as("order_month"),
      ceil(col("o_totalprice") / 30).as("pages"))

  val q08Sql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  strftime(o_orderdate, '%Y-%m-%d') AS date_str,
      |  CAST(strptime(strftime(o_orderdate, '%d-%b-%Y'), '%d-%b-%Y') AS DATE) AS roundtrip,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  CAST(month(o_orderdate) AS INTEGER) AS order_month,
      |  CAST(ceil(o_totalprice / 30) AS BIGINT) AS pages
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q09 — F15 JSON field extraction (scrape_url.py:218 data-sol-meta parse)
    * + F14 ceil-pagination over the extracted count.
    */
  val q09_json_extract: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
      ceil(get_json_object(col("props"), "$.k").cast(IntegerType) / lit(30)).as("pages"))

  val q09Sql: String =
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  CAST(ceil(CAST(json_extract_string(props, '$.k') AS INTEGER) / 30.0) AS BIGINT) AS pages
      |FROM events ORDER BY event_id""".stripMargin

  /** q10 — D3 union-by-name of heterogeneous inputs into one relation
    * (the reference's 88 per-combo INSERT funnel collapsed to one union).
    */
  val q10_union_all: Q = (s, d) => {
    val n = Tables.nation(s, d).select(
      col("n_nationkey").cast(LongType).as("key"), col("n_name").as("name"))
    val sup = Tables.supplier(s, d).select(
      col("s_name").as("name"), col("s_suppkey").as("key"))
    n.unionByName(sup)
  }

  val q10Sql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS name FROM nation
      |UNION ALL
      |SELECT s_suppkey AS key, s_name AS name FROM supplier
      |ORDER BY key, name""".stripMargin

  /** q11 — §2.6 window top-k: top-3 line items by price per supplier,
    * deterministic tiebreak. One shuffle on the partition key; no global sort.
    */
  val q11_window_topk: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  val q11Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |    CAST(row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rk
      |  FROM lineitem) t
      |WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin

  /** q12 — §2.6 global sort + limit with deterministic tiebreak (Spark plans
    * TakeOrderedAndProject — no full sort materialization).
    */
  val q12_sort_limit: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  val q12Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** q13 — headline multi-join star aggregate: revenue per nation.
    * customer and nation are broadcast (dimension side); the orders⋈lineitem
    * join is the only shuffle pair.
    */
  val q13_star_join: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q13Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q14 — §2.8 extension: tumbling-window event aggregation (batch form of
    * the streaming windowed agg; hour buckets via date_trunc).
    */
  val q14_event_windows: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("total"))

  val q14Sql: String =
    """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
      |  count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin

  /** q15 — P4/P5 empty-string→null cast contract (utils.py:46-47 emits "",
    * the typed projection casts it to null; ParseHtml.py:65-71) plus the
    * IS NULL filter (scrape_url.py:274). Under Spark 4 ANSI mode the lenient
    * Spark-3 cast the reference relied on is try_cast (= DuckDB TRY_CAST).
    */
  val q15_empty_string_cast: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      when(col("o_orderstatus") === "F", lit(""))
        .otherwise(col("o_orderkey").cast(StringType)).as("s"))
    .withColumn("v", expr("try_cast(s AS INT)"))
    .filter(col("v").isNull)

  val q15Sql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderstatus = 'F' THEN ''
      |         ELSE CAST(o_orderkey AS VARCHAR) END AS s,
      |    TRY_CAST(CASE WHEN o_orderstatus = 'F' THEN ''
      |         ELSE CAST(o_orderkey AS VARCHAR) END AS INTEGER) AS v
      |  FROM orders) t
      |WHERE v IS NULL ORDER BY o_orderkey""".stripMargin

  /** q16 — U1/F1/F2, the HTML-extraction UDF driven through the engine and
    * still oracle-checkable: each document is rendered into a JobsDB-shaped
    * page (title/company/description/location/post-date/salary/labels) with
    * format_string, parsed back by the struct UDF, and the typed projection
    * applied (ParseHtml.py:45-72). Because the page is built from table
    * columns, DuckDB predicts every parsed field with plain SQL.
    */
  val q16_html_parse: Q = (s, d) => {
    val pageFmt =
      "<html><body>" +
        "<div data-automation=\"detailsTitle\"><div><h1>Doc %d</h1></div>" +
        "<div><span>%s Publishing</span></div></div>" +
        "<div data-automation=\"jobDescription\"><div>%s</div></div>" +
        "<div data-automation=\"jobDetailsHeader\">" +
        "<div class=\"sx2jih0 zcydq86a\"><div><span>%s</span></div></div>" +
        "<div class=\"sx2jih0 zcydq86a\"><span>Posted on 3-Oct-22</span></div>" +
        "<div class=\"sx2jih0 zcydq86a\"><span>HK$%d - HK$%d /month</span></div>" +
        "</div>" +
        "<div><div><h4>Additional Information</h4></div>" +
        "<div><div><div><span>Career Level</span></div><div><span>%s</span></div></div></div>" +
        "</div></body></html>"
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        format_string(pageFmt,
          col("doc_id"), col("source"), col("text"), col("source"),
          col("n_chars"), col("n_chars") * 2, col("lang")).as("html"))
      .select(col("doc_id"),
        graft.functions.JobParse.parse_job(col("html"), lit("2026-01-01")).as("p"))
      .select(
        col("doc_id"),
        col("p.job_title").as("job_title"),
        col("p.company_name").as("company_name"),
        col("p.location").as("location"),
        col("p.official_post_date").as("official_post_date"),
        expr("try_cast(p.min_official_salary AS BIGINT)").as("min_official_salary"),
        expr("try_cast(p.max_official_salary AS BIGINT)").as("max_official_salary"),
        col("p.career_level").as("career_level"))
  }

  val q16Sql: String =
    """SELECT doc_id,
      |  'Doc ' || doc_id AS job_title,
      |  source || ' Publishing' AS company_name,
      |  source AS location,
      |  '2022-10-03' AS official_post_date,
      |  n_chars AS min_official_salary,
      |  n_chars * 2 AS max_official_salary,
      |  lang AS career_level
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q01_impute_minmax" -> q01_impute_minmax,
    "q02_dedupe_first" -> q02_dedupe_first,
    "q03_ledger_anti" -> q03_ledger_anti,
    "q04_merge_update" -> q04_merge_update,
    "q05_idempotent_upsert" -> q05_idempotent_upsert,
    "q06_quality_metrics" -> q06_quality_metrics,
    "q07_string_funcs" -> q07_string_funcs,
    "q08_date_funcs" -> q08_date_funcs,
    "q09_json_extract" -> q09_json_extract,
    "q10_union_all" -> q10_union_all,
    "q11_window_topk" -> q11_window_topk,
    "q12_sort_limit" -> q12_sort_limit,
    "q13_star_join" -> q13_star_join,
    "q14_event_windows" -> q14_event_windows,
    "q15_empty_string_cast" -> q15_empty_string_cast,
    "q16_html_parse" -> q16_html_parse)

  val oracleSql: Map[String, String] = Map(
    "q01_impute_minmax" -> q01Sql,
    "q02_dedupe_first" -> q02Sql,
    "q03_ledger_anti" -> q03Sql,
    "q04_merge_update" -> q04Sql,
    "q05_idempotent_upsert" -> q05Sql,
    "q06_quality_metrics" -> q06Sql,
    "q07_string_funcs" -> q07Sql,
    "q08_date_funcs" -> q08Sql,
    "q09_json_extract" -> q09Sql,
    "q10_union_all" -> q10Sql,
    "q11_window_topk" -> q11Sql,
    "q12_sort_limit" -> q12Sql,
    "q13_star_join" -> q13Sql,
    "q14_event_windows" -> q14Sql,
    "q15_empty_string_cast" -> q15Sql,
    "q16_html_parse" -> q16Sql)
}
