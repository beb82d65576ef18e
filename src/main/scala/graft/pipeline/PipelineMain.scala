package graft.pipeline

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** CLI entry for the full jobs dataflow (the reference's four DAGs end to
  * end): read sighting CSVs + an HTML lake, dedupe, parse, impute, quality-
  * gate, and export parsed_jobs as CSV + parquet.
  *
  * Usage: runMain graft.pipeline.PipelineMain <sightingsCsvDir> <lakeGlob> <outDir>
  *
  * The lake path layout is yyyy/MM/dd/<job_id>.html; job_id is recovered
  * from the file name (reference: scrape_url.py:101-116).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println(
        "usage: PipelineMain <sightingsCsvDir> <lakeGlob> <outDir>")
      sys.exit(2)
    }
    val Array(csvDir, lakeGlob, outDir) = args
    // SPARK_MASTER deploys the pipeline on a cluster; unset, it runs
    // on the local master every other main uses
    val spark = graft.Sessions.create(
      master = sys.env.getOrElse("SPARK_MASTER", s"local[${graft.Sessions.cpus}]"),
      appName = "graft-jobs-pipeline")

    val sightings = Sources.readCsv(spark, graft.schema.Schemas.rawScrapedUrl, csvDir)
    // anchor the date to the three segments right above the file name —
    // a date-like segment elsewhere in the lake root must not win
    val pages = Sources.readHtmlLake(spark, lakeGlob)
      .select(
        regexp_extract(col("path"), "([^/]+)\\.html$", 1).as("job_id"),
        col("html"),
        col("path").as("file_path"),
        // try_to_timestamp: a path without the yyyy/MM/dd layout yields a
        // NULL date the gate reports cleanly (ANSI to_date would kill the
        // scan with CANNOT_PARSE_TIMESTAMP instead)
        try_to_timestamp(
          regexp_extract(col("path"), "(\\d{4}/\\d{2}/\\d{2})/[^/]+$", 1),
          lit("yyyy/MM/dd")).cast("date").as("scraped_date"))

    // ledger gate: job_id unique + scraped_date parseable and in range
    // (file_path from binaryFile is non-null by construction — checking the
    // DERIVED date is what catches a mis-laid-out lake)
    val report = JobsPipeline.qualityGate(
      pages.select("job_id", "file_path", "scraped_date"),
      notNullCol = "scraped_date")

    val result = JobsPipeline.run(spark, Seq(sightings), pages)
    result.write.mode(SaveMode.Overwrite).parquet(s"$outDir/parsed_jobs")
    // derive CSV + count from the written parquet: re-running the full
    // parse DAG once per action would triple the lake scan
    val written = spark.read.parquet(s"$outDir/parsed_jobs")
    Sources.writeCsv(written, s"$outDir/parsed_jobs_csv", header = true)
    println(s"[pipeline] rows=${written.count()} " +
      s"quality(nRows=${report.nRows}, dupKeys=${report.dupKeys}, nNulls=${report.nNulls})")
    spark.stop()
  }
}
