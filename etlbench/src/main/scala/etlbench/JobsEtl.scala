package etlbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.JobsPipeline
import graft.schema.Schemas
import graft.sources.Sources

/** `jobs_etl`: the paper's pipeline, one incremental day per op, through
  * the engine's public functions in the order `graft.pipeline.PipelineMain`
  * uses them, plus the ledger anti-join against prior days and a parquet
  * append of the day's parsed jobs. */
final class JobsEtl(spark: SparkSession, seed: Long, size: Size, work: Path,
    trace: Trace) extends Workload {
  private val root = work.resolve("jobs")
  private val out = work.resolve("jobs-out/parsed_jobs").toString
  private var in: Gen.JobsInput = _
  private val toScrape = scala.collection.mutable.Map.empty[Int, Long]

  def stage(): String = {
    val template = new String(Files.readAllBytes(Paths.get("src/test/resources/sample.html")),
      java.nio.charset.StandardCharsets.UTF_8)
    in = Gen.jobs(seed, root, template, size.days, size.newJobsPerDay, size.recurPerDay)
    f"days=${in.days.size} pages=${in.newJobs.map(_.size).sum} " +
      f"html_mb=${in.htmlBytes / 1e6}%.1f csv_files=${in.days.size * 88} csv_kb=${in.csvBytes / 1e3}%.0f"
  }

  private def pages(lakeDir: String): DataFrame =
    Sources.readHtmlLake(spark, lakeDir)
      .select(
        regexp_extract(col("path"), "([^/]+)\\.html$", 1).as("job_id"),
        col("html"),
        col("path").as("file_path"),
        try_to_timestamp(regexp_extract(col("path"), "(\\d{4}/\\d{2}/\\d{2})/[^/]+$", 1),
          lit("yyyy/MM/dd")).cast("date").as("scraped_date"))

  /** Job ids already parsed: the output of the days before. */
  private def ledger(): DataFrame =
    if (Files.exists(Paths.get(out))) spark.read.parquet(out).select("job_id")
    else { import spark.implicits._; Seq.empty[String].toDF("job_id") }

  /** One day's incremental run (PipelineMain's sequence + the ledger). */
  private def day(d: Int): Unit = {
    val sightings = Sources.readCsv(spark, Schemas.rawScrapedUrl, in.csvDirs(d).toString)
    val raw = JobsPipeline.ingest(Seq(sightings))
    val work = JobsPipeline.jobsToScrape(JobsPipeline.uniqueJobs(raw), ledger())
    toScrape(d) = trace.span("jobs.ledger")(work.count())
    val p = pages(in.lakeDirs(d).toString)
    trace.span("jobs.quality")(JobsPipeline.qualityGate(
      p.select("job_id", "file_path", "scraped_date"), notNullCol = "scraped_date"))
    trace.span("jobs.run_write") {
      JobsPipeline.run(spark, Seq(sightings), p).write.mode(SaveMode.Append).parquet(out)
    }
  }

  def warmUp(): Unit = {
    // throwaway tiny days against their own ledger: JIT, codegen, CSV/HTML
    // readers (fewer days leave the first timed days still compiling)
    val wl = new JobsEtl(spark, seed + 7919L, Size.tiny.copy(days = 3), work.resolve("warm"),
      new Trace)
    wl.stage(); wl.ops.foreach(_.run())
    Util.deleteTree(work.resolve("warm"))
  }

  def ops: IndexedSeq[Op] = in.days.indices.map(d => Op(d, s"day${in.days(d)}", () => day(d)))

  def reset(): Unit = { Util.deleteTree(work.resolve("jobs-out")); toScrape.clear() }

  /** Per day: the fetch work list holds exactly the day's new jobs, and the
    * appended rows carry the substituted title and the band envelope. */
  def check(plant: Boolean): Set[Int] = {
    val rows = spark.read.parquet(out).select("job_id", "job_title", "min_salary", "max_salary")
      .collect().map(r => r.getString(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3)))
    val got = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val planted = if (plant) Some(in.newJobs.head.head.id) else None
    in.days.indices.filter { d =>
      val jobs = in.newJobs(d)
      toScrape.get(d) != Some(jobs.size.toLong) || jobs.exists { j =>
        val (lo, hi) = j.envelope
        val g = got.getOrElse(j.id, Nil).map {
          case (t, mn, mx) if planted.contains(j.id) => (t, mn + 1, mx)
          case x => x }
        g != Seq((j.title, lo, hi))
      }
    }.toSet ++ (if (rows.length != in.newJobs.map(_.size).sum) Set(in.days.size - 1) else Set())
  }

  def storedBytes: Double = Util.treeBytes(work.resolve("jobs-out")).toDouble
  def ingestedBytes: Double = (in.htmlBytes + in.csvBytes).toDouble

  /** Each pipeline stage forced on its own over one day's inputs, its
    * input materialized beforehand; plus the driver-side parser. */
  def layerProbes(): Map[String, Double] = {
    val d = in.days.size - 1
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(body: => Unit): Double = { val t0 = Util.now(); body; Util.secs(t0) }
    def fix(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val csv = timed(force(Sources.readCsv(spark, Schemas.rawScrapedUrl, in.csvDirs(d).toString)))
    val lake = timed(force(pages(in.lakeDirs(d).toString)))
    val sightings = fix(Sources.readCsv(spark, Schemas.rawScrapedUrl, in.csvDirs(d).toString))
    val p = fix(pages(in.lakeDirs(d).toString))
    val ingest = timed(force(JobsPipeline.ingest(Seq(sightings))))
    val raw = fix(JobsPipeline.ingest(Seq(sightings)))
    val unique = timed(force(JobsPipeline.uniqueJobs(raw)))
    val uniq = fix(JobsPipeline.uniqueJobs(raw))
    val led = fix(spark.read.parquet(out).select("job_id"))
    val ledgerS = timed(force(JobsPipeline.jobsToScrape(uniq, led)))
    val parse = timed(force(JobsPipeline.parse(p)))
    val parsed = fix(JobsPipeline.parse(p))
    val impute = timed(force(JobsPipeline.imputeSalaries(raw)))
    val imputed = fix(JobsPipeline.imputeSalaries(raw))
    val backfill = timed(force(JobsPipeline.backfill(parsed, imputed)))
    val quality = timed(JobsPipeline.qualityGate(p.select("job_id", "file_path", "scraped_date"),
      notNullCol = "scraped_date"))
    val result = fix(JobsPipeline.backfill(parsed, imputed))
    val probeOut = work.resolve("jobs-probe").toString
    val write = timed(result.write.mode(SaveMode.Overwrite).parquet(probeOut))
    val rowsOut = spark.read.parquet(out).count().toDouble
    graft.ops.Materialize.releaseAll(spark)

    // driver-side, one thread: JobParse.parseJob and MiniHtml.parse over the day's pages
    val htmls = Files.list(in.lakeDirs(d)).sorted().toArray.map(_.asInstanceOf[Path])
      .map(f => new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8))
    val mb = htmls.map(_.length).sum / 1e6
    val reps = 3
    val tParse = timed((1 to reps).foreach(_ => htmls.foreach(graft.html.MiniHtml.parse)))
    val tJob = timed((1 to reps).foreach(_ => htmls.foreach(graft.functions.JobParse.parseJob(_, "2024-03-01"))))
    Map("jobs.ingest_s" -> ingest, "jobs.unique_s" -> unique, "jobs.ledger_s" -> ledgerS,
      "jobs.parse_s" -> parse, "jobs.impute_s" -> impute, "jobs.backfill_s" -> backfill,
      "jobs.quality_s" -> quality, "jobs.write_s" -> write, "jobs.rows_out" -> rowsOut,
      "html.parse_mb_s" -> reps * mb / tParse,
      "functions.jobparse_ms_per_page" -> 1000 * tJob / (reps * htmls.length),
      "sources.csv_s" -> csv, "sources.lake_s" -> lake,
      "sources.files" -> (in.days.size * 88 + in.newJobs.map(_.size).sum).toDouble,
      "sources.input_mb" -> ingestedBytes / 1e6)
  }
}
