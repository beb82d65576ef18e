package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType}

import graft.functions.JobParse
import graft.ops.{Dedupe, Impute, Ledger, Quality}

/** The four reference DAGs restated as one declarative Spark dataflow
  * (SURVEY §3). Each stage is a pure DataFrame → DataFrame function so the
  * whole pipeline is one lazily-planned job per sink, not 88 Airflow tasks.
  *
  *  1. ingest   — per-combo sightings unioned, idempotently deduped
  *                (scrape_url DAG: D2/D3 over scrape_url_insert_data.sql)
  *  2. dedupe   — one row per job_id (scrape_url_dedupe_jobs.sql)
  *  3. ledger   — new-jobs-only anti-join against the scraped ledger
  *                (scrape_url_create_scraped_job_table.sql:10-15)
  *  4. parse    — HTML → typed 15-column parsed_jobs (ParseHtml.py)
  *  5. impute   — min/max band per job + null-only merge backfill
  *                (impute_salary DAG)
  *  6. quality  — the sanity_check gate (scrape_url.py:424-436)
  *
  * [[run]] is the sink-bound composition (the reference's parsed_jobs
  * append, ParseHtml.py:74-80). Its backfill join is shuffled on `job_id`
  * so that the append writes files sized by its output, not one per input
  * split of the HTML lake.
  */
object JobsPipeline {

  /** Stage 1: union the per-combo sighting batches and keep one row per
    * 5-column unique key (ON CONFLICT DO NOTHING semantics; the key is the
    * UNIQUE constraint of scrape_url_create_raw_table.sql:11).
    */
  def ingest(batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "empty input")
    val unioned = batches.reduce(_ unionByName _)
    Dedupe.arbitraryRowPerKey(unioned,
      Seq("keyword", "job_id", "salary_min", "salary_max", "scrape_date"))
  }

  /** Stage 2: unique_job — one arbitrary sighting per job. */
  def uniqueJobs(rawScrapedUrl: DataFrame): DataFrame =
    Dedupe.arbitraryRowPerKey(rawScrapedUrl.select("keyword", "job_id", "url"), Seq("job_id"))

  /** Stage 3: jobs not yet in the scraped ledger (the fetch work list). */
  def jobsToScrape(uniqueJob: DataFrame, scrapedLedger: DataFrame): DataFrame =
    Ledger.newRowsOnly(uniqueJob, scrapedLedger, Seq("job_id"))

  /** Stage 4: parse fetched HTML into the typed parsed_jobs shape.
    * `pages` carries (job_id, html, scraped_date). The struct UDF is
    * evaluated once per row and expanded (fixes the reference's 12×-UDF
    * hazard, ParseHtml.py:45-49); empty strings cast to null ints/dates via
    * try_cast exactly as the reference relied on Spark-3 lenient casts
    * (ParseHtml.py:65-71).
    */
  def parse(pages: DataFrame): DataFrame =
    pages
      .withColumn("p",
        JobParse.parse_job(col("html"), date_format(col("scraped_date"), "yyyy-MM-dd")))
      .select(
        col("job_id"),
        col("p.job_title"),
        col("p.company_name"),
        col("p.job_description"),
        col("p.location"),
        expr("try_cast(p.official_post_date AS DATE)").as("official_post_date"),
        expr("try_cast(p.min_official_salary AS INT)").as("min_official_salary"),
        expr("try_cast(p.max_official_salary AS INT)").as("max_official_salary"),
        col("p.career_level"),
        col("p.qualification"),
        col("p.job_type"),
        col("p.job_functions"),
        col("p.industry"),
        lit(null).cast(IntegerType).as("min_salary"),
        lit(null).cast(IntegerType).as("max_salary"))

  /** Stage 5a: the analytic core — imputed band per job. */
  def imputeSalaries(rawScrapedUrl: DataFrame): DataFrame =
    Impute.minMaxPerKey(rawScrapedUrl, "job_id", "salary_min", "salary_max")

  /** Stage 5b: backfill parsed_jobs rows whose min+max are both null. */
  def backfill(parsedJobs: DataFrame, imputed: DataFrame): DataFrame =
    Impute.mergeUpdateWhenAllNull(parsedJobs, imputed, "job_id",
      Seq("min_salary", "max_salary"))

  /** Stage 6: the data-quality gate over the scraped-job LEDGER (the
    * reference's sanity_check runs on raw.scraped_job, whose job_id is the
    * PK — scrape_url.py:424-436): job_id unique, file_path never null,
    * scraped_date in range. NOT on raw sightings, where one job legitimately
    * appears once per salary band. Throws on violation.
    */
  def qualityGate(scrapedLedger: DataFrame,
      notNullCol: String = "file_path",
      rangeMin: java.sql.Date = java.sql.Date.valueOf("2022-07-01"),
      rangeMax: java.sql.Date =
        java.sql.Date.valueOf(java.time.LocalDate.now.plusYears(1))): Quality.Report =
    Quality.enforce(scrapedLedger, "job_id", notNullCol, "scraped_date",
      rangeMin, rangeMax)

  /** End-to-end: sightings + fetched pages → parsed_jobs with imputed bands.
    *
    * The backfill is a shuffle-hash join, not [[backfill]]'s default
    * broadcast, because this result goes to a sink: a broadcast join keeps
    * the page scan's input splits as the writer's partitions, one small
    * file each. The hash join gives the plan one exchange keyed by
    * `job_id`, which AQE coalesces by bytes, so the files follow the
    * output's size: one for a small day, more for a large one. The imputed
    * side is already partitioned by `job_id` from its aggregate, so only
    * the parsed pages shuffle, after the parse UDF has run at the scan's
    * parallelism; the exchange's map stage takes the place of the
    * broadcast job. The build side holds one row per job of the batch's
    * sightings, so a hash build is safe at any scale.
    */
  def run(spark: SparkSession, batches: Seq[DataFrame], pages: DataFrame): DataFrame = {
    val raw = ingest(batches)
    val parsed = parse(pages)
    val imputed = imputeSalaries(raw)
    backfill(parsed, imputed.hint("shuffle_hash"))
  }
}
