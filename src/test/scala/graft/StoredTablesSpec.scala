package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CorpusBuild
import graft.queries.Tables

/** [[Tables.read]], the one reader of stored parquet relations: its schema
  * is the plain read's, a re-read starts no schema job, a rewrite is seen,
  * failures are the plain read's, and a state chain follows new
  * generations.
  */
class StoredTablesSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("every corpus table resolves to the plain read's schema") {
    for (name <- Seq("lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "events", "documents", "embeddings")) {
      val plain = spark.read.parquet(s"$sf/$name.parquet").schema
      assert(Tables(spark, sf, name).schema === plain, name)
      // the second read is served from the resolved entry
      assert(Tables(spark, sf, name).schema === plain, name)
    }
  }

  test("a re-read starts no Spark job before its action; a plain read " +
      "starts its schema job") {
    val p = s"${tmp("stored_jobs")}/t"
    spark.range(50).withColumn("s", col("id").cast("string"))
      .write.parquet(p)
    val first = Tables.read(spark, p)
    assert(jobsStartedBy(spark.read.parquet(p).schema) >= 1,
      "the plain read no longer infers its schema with a job: " +
        "this test has lost its teeth")
    assert(jobsStartedBy(Tables.read(spark, p).schema) === 0)
    assert(jobsStartedBy(Tables(spark, sf, "nation").schema) === 0)
    assert(Tables.read(spark, p).collect().toSet === first.collect().toSet)
  }

  test("a table rewritten at the same path with a new schema is " +
      "re-resolved") {
    val p = s"${tmp("stored_rewrite")}/t"
    spark.range(5).toDF("a").write.parquet(p)
    assert(Tables.read(spark, p).schema.fieldNames.toSeq === Seq("a"))
    spark.range(7).select(col("id").cast("string").as("b"),
        (col("id") * 2).as("c"))
      .write.mode("overwrite").parquet(p)
    val again = Tables.read(spark, p)
    assert(again.schema === spark.read.parquet(p).schema)
    assert(again.schema.fieldNames.toSeq === Seq("b", "c"))
    assert(again.agg(sum(col("c"))).head().getLong(0) === 42L)
  }

  test("a missing path or an all-empty dir raises the plain read's " +
      "exception, and a failed resolve is not remembered") {
    val missing = s"${tmp("stored_missing")}/absent"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val ours = intercept[AnalysisException](Tables.read(spark, missing))
    assert(ours.getClass === plain.getClass)
    assert(ours.getCondition === plain.getCondition)

    val empty = tmp("stored_empty")
    val plainEmpty = intercept[AnalysisException](spark.read.parquet(empty))
    val oursEmpty = intercept[AnalysisException](Tables.read(spark, empty))
    assert(oursEmpty.getCondition === plainEmpty.getCondition)
    assert(intercept[AnalysisException](Tables.read(spark, empty))
      .getCondition === plainEmpty.getCondition)

    spark.range(3).toDF("x").write.parquet(missing)
    assert(Tables.read(spark, missing).count() === 3)
  }

  test("a chain with a part-less generation dir reads as the plain read") {
    val base = tmp("stored_partless")
    spark.range(4).toDF("id").write.parquet(s"$base/gen=0")
    Files.createDirectories(java.nio.file.Paths.get(s"$base/gen=1"))
    Files.createFile(java.nio.file.Paths.get(s"$base/gen=1/_SUCCESS"))
    val paths = Seq(s"$base/gen=0", s"$base/gen=1")
    val plain = spark.read.parquet(paths: _*)
    for (_ <- 1 to 2) {
      val ours = Tables.read(spark, paths: _*)
      assert(ours.schema === plain.schema)
      assert(ours.count() === 4)
    }
  }

  test("every state tier's chain resolves to the plain read's schema, and " +
      "a chain read after a new generation sees its rows") {
    val stateDir = s"${tmp("stored_state")}/state"
    val cfg = CorpusBuild.Config(trackCounts = true,
      trackPostings = true, trackPack = true, trackDrift = true,
      trackPositions = true, trackMerges = true,
      trackFingerprints = true, trackCentroids = true,
      trackClassifier = true, trackDsir = true, trackBigramLm = true,
      trackCdc = true, trackReleaseCc = true)
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    CorpusBuild.ingestBatch(stateDir, docs.filter(col("doc_id") < 60), cfg,
      emb.filter(col("vec_id") < 60))
    val before = CorpusBuild.statePositions(spark, stateDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(before.nonEmpty && before.forall(_ < 60))

    CorpusBuild.ingestBatch(stateDir,
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 100), cfg,
      emb.filter(col("vec_id") >= 60 && col("vec_id") < 100))
    val after = CorpusBuild.statePositions(spark, stateDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(before.subsetOf(after) && after.exists(_ >= 60),
      "the chain read missed the new generation")

    def tiers(gen: Int): Set[String] =
      new java.io.File(s"$stateDir/gen=$gen").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    val both = tiers(0) intersect tiers(1)
    assert(both.size >= 20, s"too few state tiers written: $both")
    for (t <- both.toSeq.sorted) {
      val chain = Seq(s"$stateDir/gen=0/$t", s"$stateDir/gen=1/$t")
      assert(Tables.read(spark, chain: _*).schema ===
        spark.read.parquet(chain: _*).schema, t)
      assert(Tables.read(spark, chain.last).schema ===
        spark.read.parquet(chain.last).schema, t)
    }
  }
}
