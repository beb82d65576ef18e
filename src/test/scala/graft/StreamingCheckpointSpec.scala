package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming-native form of the reference's "process only new rows"
  * ledger (SURVEY §2.8 I1): a checkpointed file source processes each file
  * exactly once ACROSS RESTARTS — the checkpoint is the ledger.
  */
class StreamingCheckpointSpec extends AnyFunSuite with SharedSpark {

  test("checkpointed file stream processes each file exactly once across restarts") {
    import spark.implicits._
    val inDir = tempDir("graft_stream_in").toString
    val outDir = tempDir("graft_stream_out").toString
    val ckpt = tempDir("graft_stream_ckpt").toString

    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "payload").coalesce(1).write.mode("append")
        .parquet(s"$inDir/$name")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("id BIGINT, payload STRING")
        .option("recursiveFileLookup", "true")
        .parquet(inDir)
        .withColumn("processed_at_batch", lit(1))
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    writeBatch("b1", Seq((1L, "a"), (2L, "b")))
    runOnce()
    // restart with NO new data: nothing may be reprocessed
    runOnce()
    // restart with one new file: only its rows appear
    writeBatch("b2", Seq((3L, "c")))
    runOnce()

    val out = spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L),
      s"each input row exactly once across three runs, got ${out.toSeq}")
  }
}
