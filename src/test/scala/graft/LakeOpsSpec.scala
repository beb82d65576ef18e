package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

/** Operational-lake contracts: dynamic partition overwrite (rewrite a day,
  * never truncate the table), small-file compaction (fewer files, identical
  * rows), and schema-evolution reads (mergeSchema unions parquet footers).
  */
class LakeOpsSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(): String =
    tempDir("graft_lake").toFile.getAbsolutePath

  test("overwritePartitions rewrites only the partitions present in the batch") {
    import spark.implicits._
    val path = s"${tmpDir()}/t"
    Sources.overwritePartitions(
      Seq(("2020-01-01", 1L, "a"), ("2020-01-02", 2L, "b"))
        .toDF("day", "id", "v"), path, Seq("day"))
    // re-run day 2 with corrected contents; day 1 must survive untouched
    Sources.overwritePartitions(
      Seq(("2020-01-02", 2L, "b2"), ("2020-01-02", 3L, "c"))
        .toDF("day", "id", "v"), path, Seq("day"))
    // hive partition inference types "2020-01-01" as DATE; normalize back
    val got = spark.read.parquet(path)
      .select(col("day").cast("string"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set(("2020-01-01", 1L, "a"), ("2020-01-02", 2L, "b2"),
      ("2020-01-02", 3L, "c")))
  }

  test("compact shrinks the file count and preserves every row") {
    import spark.implicits._
    val path = s"${tmpDir()}/t"
    (1 to 40).toDF("id").repartition(20).write.parquet(path)
    def parquetFiles() = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 10, s"fixture should start fragmented, had $before files")
    Sources.compact(spark, path)
    assert(parquetFiles() === 1, "40 ints fit one target-size file")
    val got = spark.read.parquet(path).collect().map(_.getInt(0)).sorted
    assert(got.toSeq === (1 to 40))
  }

  test("mergeSchema reads evolving parquet with nulls for absent columns") {
    import spark.implicits._
    val path = s"${tmpDir()}/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$path/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.parquet(s"$path/batch=2")
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    assert(df.columns.toSet === Set("id", "v", "score", "batch"))
    val rows = df.select("id", "score")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSet
    assert(rows === Set((1L, None), (2L, Some(9.5))))
  }
}
