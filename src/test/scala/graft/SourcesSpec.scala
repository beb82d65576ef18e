package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Schemas
import graft.sources.{Catalog, Sources}

class SourcesSpec extends AnyFunSuite with SharedSpark {

  test("CSV round-trip preserves schema and null/empty contract (S3/S4/S5)") {
    import spark.implicits._
    val dir = tempDir("graft_csv").toString + "/raw"
    val rows = Seq(
      Schemas.RawScrapedUrl("data scientist", "J1", Some(11000), Some(15000),
        java.sql.Date.valueOf("2022-10-08"), "/hk/en/job-J1"),
      Schemas.RawScrapedUrl("data engineer", "J2", None, None,
        java.sql.Date.valueOf("2022-10-08"), "/hk/en/job-J2"))
    Sources.writeCsv(rows.toDF(), dir)
    val back = Sources.readCsv(spark, Schemas.rawScrapedUrl, dir)
    assert(back.count() == 2)
    val j2 = back.filter($"job_id" === "J2").head()
    assert(j2.isNullAt(2) && j2.isNullAt(3), "empty CSV fields read back as null ints")
    assert(back.schema == Schemas.rawScrapedUrl)
  }

  test("HTML lake read carries path + content per file (S6)") {
    val lake = tempDir("graft_lake")
    val day = lake.resolve("2022/10/08")
    Files.createDirectories(day)
    Files.writeString(day.resolve("J1.html"), "<html><body>doc one</body></html>")
    Files.writeString(day.resolve("J2.html"), "<html><body>doc two</body></html>")
    Files.writeString(day.resolve("ignore.txt"), "not html")
    val df = Sources.readHtmlLake(spark, lake.toString + "/*/*/*")
    val rows = df.collect()
    assert(rows.length == 2, "glob filter keeps only *.html")
    assert(rows.forall(_.getString(2).contains("doc")))
    assert(rows.forall(_.getString(0).endsWith(".html")))
  }

  test("appendNewKeys is idempotent across re-runs (S2/D2)") {
    import spark.implicits._
    val path = tempDir("graft_sink").toString + "/t"
    val batch = Seq(("J1", 1), ("J2", 2)).toDF("job_id", "v")
    Sources.appendNewKeys(spark, batch, path, Seq("job_id"))
    Sources.appendNewKeys(spark, batch, path, Seq("job_id")) // re-run: no-op
    val more = Seq(("J2", 99), ("J3", 3)).toDF("job_id", "v")
    Sources.appendNewKeys(spark, more, path, Seq("job_id"))  // only J3 lands
    val out = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("J1" -> 1, "J2" -> 2, "J3" -> 3))
  }

  test("catalog lifecycle: IF NOT EXISTS / CTAS rebuild / DROP (S10)") {
    import spark.implicits._
    Catalog.dropIfExists(spark, "t_life")
    Catalog.createTableIfNotExists(spark, "t_life", "job_id STRING, v INT")
    Catalog.createTableIfNotExists(spark, "t_life", "job_id STRING, v INT") // idempotent
    assert(Catalog.tableExists(spark, "t_life"))
    Catalog.rebuildAs(spark, "t_derived", Seq(("J1", 10)).toDF("job_id", "v"))
    Catalog.rebuildAs(spark, "t_derived", Seq(("J1", 20), ("J2", 30)).toDF("job_id", "v"))
    assert(spark.table("t_derived").count() == 2, "rebuild replaces, never duplicates")
    Catalog.dropIfExists(spark, "t_life")
    Catalog.dropIfExists(spark, "t_derived")
    assert(!Catalog.tableExists(spark, "t_life"))
  }

  test("partitioned lake write prunes partitions on read (S7)") {
    import spark.implicits._
    val path = tempDir("graft_part").toString + "/lake"
    val df = Seq(
      ("J1", 2022, 10, 8, "a"), ("J2", 2022, 10, 9, "b"), ("J3", 2022, 11, 1, "c"))
      .toDF("job_id", "year", "month", "day", "payload")
    Sources.writePartitioned(df, path, Seq("year", "month", "day"))
    val oneDay = spark.read.parquet(path)
      .filter($"year" === 2022 && $"month" === 10 && $"day" === 8)
    assert(oneDay.count() == 1)
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(!plan.contains("month=11") || plan.contains("PartitionFilters"),
      "partition filters applied at the file index")
  }

  test("partitioned writes size files by partition value: one file per " +
      "day= directory from an input of three splits (S7)") {
    import spark.implicits._
    val rows = Seq(("J1", 8), ("J2", 9), ("J3", 8), ("J4", 9), ("J5", 8), ("J6", 9))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("job_id", "day")
    assert(df.rdd.glom().collect().forall(_.map(_.getInt(1)).distinct.length == 2),
      "every split must hold both days")
    val root = tempDir("graft_part_files")
    def filesPerDay(path: String) = Seq(8, 9).map(d =>
      new java.io.File(s"$path/day=$d").listFiles().count(_.getName.endsWith(".parquet")))
    val written = root.resolve("written").toString
    Sources.writePartitioned(df, written, Seq("day"))
    assert(filesPerDay(written) === Seq(1, 1))
    val overwritten = root.resolve("overwritten").toString
    Sources.overwritePartitions(df, overwritten, Seq("day"))
    assert(filesPerDay(overwritten) === Seq(1, 1))
    Seq(written, overwritten).foreach { p =>
      assert(spark.read.parquet(p).as[(String, Int)].collect().toSet === rows.toSet)
    }
  }

  test("single-file CSV export: one plain file, null='' contract (S5)") {
    import spark.implicits._
    val file = tempDir("graft_csv1").toString + "/export.csv"
    val df = Seq(("J1", Some(11000)), ("J2", None))
      .toDF("job_id", "salary")
    Sources.writeCsvSingleFile(df, file, header = true)
    val p = java.nio.file.Path.of(file)
    assert(Files.isRegularFile(p), "export must be a plain file, not a directory")
    val lines = Files.readAllLines(p)
    assert(lines.size == 3, "header + 2 rows in ONE file")
    assert(lines.get(0) == "job_id,salary")
    assert(lines.contains("J2,"), "NULL exports as empty field")
  }

  test("single-file CSV export overwrites an existing export in place") {
    import spark.implicits._
    val file = tempDir("graft_csv2").toString + "/export.csv"
    Sources.writeCsvSingleFile(Seq(("J1", 1)).toDF("job_id", "v"), file)
    Sources.writeCsvSingleFile(Seq(("J2", 2), ("J3", 3)).toDF("job_id", "v"), file)
    val lines = Files.readAllLines(java.nio.file.Path.of(file))
    assert(lines.size == 2 && !lines.contains("J1,1"),
      "re-export must replace the previous file's contents")
    assert(!Files.exists(java.nio.file.Path.of(file + "__csvtmp")) &&
      !Files.exists(java.nio.file.Path.of(file + "__staged")),
      "no staging artifacts left behind")
  }

  test("compact preserves a hive-partitioned layout and refuses to flatten") {
    import spark.implicits._
    val path = tempDir("graft_cmp").toString + "/lake"
    val df = Seq(("J1", 8, "a"), ("J2", 8, "b"), ("J3", 9, "c"))
      .toDF("job_id", "day", "payload").repartition(3)
    Sources.writePartitioned(df, path, Seq("day"))
    // without the partition spec: loud refusal, layout untouched
    val e = intercept[IllegalArgumentException] {
      Sources.compact(spark, path)
    }
    assert(e.getMessage.contains("partition"))
    Sources.compact(spark, path, partitions = Seq("day"))
    assert(Files.isDirectory(java.nio.file.Path.of(path, "day=8")),
      "partition directories survive compaction")
    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    assert(back.filter($"day" === 8).count() == 2,
      "partition column still prunes after compaction")
  }

  test("jdbc option builders pin the connector mapping (S1/S2)") {
    val r = graft.sources.Jdbc.readOptions(
      "jdbc:postgresql://db:5432/jobs", "raw.scraped_url",
      query = Some("SELECT job_id, url FROM raw.scraped_url WHERE done;"),
      partition = Some(graft.sources.Jdbc.PartitionBounds("job_seq", 0L, 1000000L, 32)),
      fetchSize = 5000)
    // query composes with partition bounds ONLY as a dbtable subquery
    assert(r("dbtable") ==
      "(SELECT job_id, url FROM raw.scraped_url WHERE done) AS graft_pushdown")
    assert(!r.contains("query"))
    assert(r("partitionColumn") == "job_seq" && r("numPartitions") == "32"
      && r("lowerBound") == "0" && r("upperBound") == "1000000")
    assert(r("fetchsize") == "5000")
    val w = graft.sources.Jdbc.writeOptions(
      "jdbc:postgresql://db:5432/jobs", "jobsdb.job", batchSize = 2000)
    assert(w("dbtable") == "jobsdb.job" && w("batchsize") == "2000")
    intercept[IllegalArgumentException] {
      graft.sources.Jdbc.readOptions("postgresql://nope", "t")
    }
    intercept[IllegalArgumentException] {
      graft.sources.Jdbc.PartitionBounds("c", 10L, 10L, 4)
    }
  }
}
