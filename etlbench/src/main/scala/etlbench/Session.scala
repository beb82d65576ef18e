package etlbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every workload uses: the engine
  * bench's conf (graft.Bench) with every scratch directory inside the
  * run's work dir. */
object Session {
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def create(work: Path): SparkSession = {
    val k = cores
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
