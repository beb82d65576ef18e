package graft

import java.nio.file.{Files, Path}
import java.sql.Date
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Impute
import graft.pipeline.JobsPipeline
import graft.schema.Schemas.RawScrapedUrl
import graft.sources.Sources

/** End-to-end pipeline test on synthetic fixtures (FIXTURES.md §2):
  * sightings → dedupe → parse → impute → backfill, with hand-computed
  * goldens for the salary-interval property (reference README.md:28).
  */
class JobsPipelineSpec extends AnyFunSuite with SharedSpark
    with AdaptiveSparkPlanHelper {

  private def page(title: String, career: String): String =
    s"""<html><body>
       |<div data-automation="detailsTitle"><div><h1>$title</h1></div>
       |<div><span>ACME Ltd</span></div></div>
       |<div data-automation="jobDescription"><div>Great job.</div></div>
       |<div data-automation="jobDetailsHeader">
       |<div class="sx2jih0 zcydq86a"><div><span>Central</span></div></div>
       |<div class="sx2jih0 zcydq86a"><span>Posted on 3-Oct-22</span></div>
       |</div>
       |<div><div><h4>Additional Information</h4></div>
       |<div><div><div><span>Career Level</span></div><div><span>$career</span></div></div></div></div>
       |</body></html>""".stripMargin.replaceAll("\n", "")

  test("e2e: dedupe + impute + parse + backfill reproduce the hand-computed goldens") {
    import spark.implicits._
    val d = Date.valueOf("2022-10-08")
    // J1 sighted in two bands (and one duplicate sighting); J2 once.
    val batch1 = Seq(
      RawScrapedUrl("data scientist", "J1", Some(11000), Some(15000), d, "/hk/en/job-J1"),
      RawScrapedUrl("data scientist", "J2", Some(80000), Some(120000), d, "/hk/en/job-J2"))
    val batch2 = Seq(
      RawScrapedUrl("data engineer", "J1", Some(15000), Some(20000), d, "/hk/en/job-J1"),
      RawScrapedUrl("data engineer", "J1", Some(15000), Some(20000), d, "/hk/en/job-J1"))
    val batches = Seq(batch1.toDF(), batch2.toDF())

    val raw = JobsPipeline.ingest(batches)
    assert(raw.count() == 3) // duplicate J1 sighting collapsed

    val unique = JobsPipeline.uniqueJobs(raw)
    assert(unique.count() == 2)

    val pages = Seq(
      ("J1", page("Data Scientist", "Middle"), d),
      ("J2", page("Head of Data", "Senior"), d))
      .toDF("job_id", "html", "scraped_date")

    val result = JobsPipeline.run(spark, batches, pages)
      .select("job_id", "job_title", "career_level", "location",
        "official_post_date", "min_salary", "max_salary")
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap

    val j1 = result("J1")
    assert(j1.getString(1) == "Data Scientist")
    assert(j1.getString(2) == "Middle")
    assert(j1.getString(3) == "Central")
    assert(j1.getDate(4) == Date.valueOf("2022-10-03"))
    assert(j1.getInt(5) == 11000, "imputed min = min of bands seen")
    assert(j1.getInt(6) == 20000, "imputed max = max of bands seen")

    val j2 = result("J2")
    assert(j2.getInt(5) == 80000)
    assert(j2.getInt(6) == 120000)
  }

  test("ingest is idempotent: running twice equals running once (D2 property)") {
    import spark.implicits._
    val d = Date.valueOf("2022-10-08")
    val rows = Seq(
      RawScrapedUrl("kw", "J1", Some(1), Some(2), d, "u1"),
      RawScrapedUrl("kw", "J2", Some(3), Some(4), d, "u2"))
    val once = JobsPipeline.ingest(Seq(rows.toDF()))
    val twice = JobsPipeline.ingest(Seq(rows.toDF(), rows.toDF()))
    // set-compare via collect: exceptAll over dropDuplicates trips a Spark
    // ExceptAll-rewrite binding bug (ATTRIBUTE_NOT_FOUND on the non-key col)
    assert(twice.collect().toSet == once.collect().toSet)
  }

  test("quality gate on the scraped ledger: clean passes, dup PK / null path throw (A2/A4)") {
    import spark.implicits._
    val d = Date.valueOf("2022-10-08")
    val clean = Seq(
      ("J1", "/lake/2022/10/08/J1.html", d),
      ("J2", "/lake/2022/10/08/J2.html", d))
      .toDF("job_id", "file_path", "scraped_date")
    val report = JobsPipeline.qualityGate(clean)
    assert(report.nRows == 2 && report.dupKeys == 0)

    val dupPk = clean.unionByName(
      Seq(("J1", "/lake/other.html", d)).toDF("job_id", "file_path", "scraped_date"))
    assertThrows[IllegalStateException](JobsPipeline.qualityGate(dupPk))

    val nullPath = clean.unionByName(
      Seq(("J3", null.asInstanceOf[String], d)).toDF("job_id", "file_path", "scraped_date"))
    assertThrows[IllegalStateException](JobsPipeline.qualityGate(nullPath))
  }

  test("backfill only touches rows whose min+max are both null (P6 guard)") {
    import spark.implicits._
    val parsed = Seq(
      ("J1", Option.empty[Int], Option.empty[Int]),
      ("J2", Some(500), Some(600)),
      ("J3", Some(7), Option.empty[Int]))
      .toDF("job_id", "min_salary", "max_salary")
    val imputed = Seq(
      ("J1", 10, 20), ("J2", 30, 40), ("J3", 50, 60))
      .toDF("job_id", "min_salary", "max_salary")
    val out = JobsPipeline.backfill(parsed, imputed)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Int]), Option(r.get(2)).map(_.asInstanceOf[Int])))
      .toMap
    assert(out("J1") == (Some(10), Some(20)), "both-null row backfilled")
    assert(out("J2") == (Some(500), Some(600)), "populated row untouched")
    assert(out("J3") == (Some(7), None), "half-null row untouched (AND semantics)")
  }

  /** Appends `df` as parquet to a fresh dir; returns the dir, the write's
    * final physical plan and the number of jobs the write started.
    */
  private def append(df: DataFrame): (Path, SparkPlan, Int) = {
    val dir = tempDir("graft_jobs_sink").resolve("parsed_jobs")
    val plans = new LinkedBlockingQueue[SparkPlan]
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    try {
      val jobs = jobsStartedBy(df.write.parquet(dir.toString))
      // the write's plan is the first to arrive: the marker job that
      // jobsStartedBy runs after it comes later on the same bus
      val plan = plans.poll(60, TimeUnit.SECONDS)
      assert(plan != null, "the write's plan never arrived")
      (dir, plan, jobs)
    } finally spark.listenerManager.unregister(planListener)
  }

  test("run's append writes one file for a day whose pages span several " +
      "input splits: a shuffle-hash backfill, no broadcast, no extra job") {
    import spark.implicits._
    val d = Date.valueOf("2022-10-08")
    val lake = tempDir("graft_jobs_lake")
    val day = lake.resolve("2022/10/08")
    Files.createDirectories(day)
    val ids = (1 to 12).map(i => f"J$i%02d")
    ids.zipWithIndex.foreach { case (id, i) =>
      Files.writeString(day.resolve(s"$id.html"), page(s"Title $i", "Middle"))
    }
    // two bands per job; the last two pages have no sightings
    val batches = Seq(ids.take(10).zipWithIndex.flatMap { case (id, i) =>
      Seq(RawScrapedUrl("kw1", id, Some(1000 * i), Some(1000 * i + 500), d, s"/$id"),
        RawScrapedUrl("kw2", id, Some(1000 * i + 200), Some(1000 * i + 900), d, s"/$id"))
    }.toDF())
    val pages = Sources.readHtmlLake(spark, lake.toString + "/*/*/*")
      .select(regexp_extract(col("path"), "([^/]+)\\.html$", 1).as("job_id"),
        col("html"), lit(d).as("scraped_date"))
    assert(pages.rdd.getNumPartitions >= 2, "the pages must span several splits")

    val (hashDir, hashPlan, hashJobs) = append(JobsPipeline.run(spark, batches, pages))
    val (castDir, castPlan, castJobs) = append(Impute.mergeUpdateWhenAllNull(
      JobsPipeline.parse(pages), JobsPipeline.imputeSalaries(JobsPipeline.ingest(batches)),
      "job_id", Seq("min_salary", "max_salary")))

    def parquetFiles(dir: Path) =
      dir.toFile.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(hashDir) === 1)
    assert(parquetFiles(castDir) >= 2, "the broadcast form writes one file per split")
    def rows(dir: Path) = spark.read.parquet(dir.toString).collect().map(_.toSeq).toSet
    assert(rows(hashDir).size === 12)
    assert(rows(hashDir) === rows(castDir))

    assert(collect(hashPlan) { case a: AdaptiveSparkPlanExec => a.isFinalPlan } === Seq(true))
    assert(collect(hashPlan) { case j: ShuffledHashJoinExec => j }.size === 1, hashPlan)
    assert(collect(hashPlan) { case b: BroadcastExchangeExec => b }.isEmpty, hashPlan)
    assert(collect(castPlan) { case b: BroadcastExchangeExec => b }.size === 1, castPlan)
    assert(hashJobs <= castJobs, s"shuffle-hash write ran $hashJobs jobs, broadcast $castJobs")
  }
}
