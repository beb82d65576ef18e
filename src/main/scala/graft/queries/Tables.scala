package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers for the driver test corpus (TESTDATA.md): one
  * parquet file per table under the scale-factor dir.
  *
  * Every stored parquet relation of the engine — a corpus table here, a
  * corpus-state generation chain in `graft.pipeline.CorpusBuild` — is read
  * through [[read]], which resolves its schema once. A bare
  * `spark.read.parquet` infers the schema on every call by running a
  * one-task Spark job that reads a footer (plus the driver gap before it),
  * which at bench scale costs as much as a small query's own work. The
  * paper's tables are catalog relations whose schemas are declared once;
  * [[read]] gives stored parquet the same property.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** Read the stored parquet relation at `paths` (one table, or a chain of
    * generation dirs read as one relation), inferring its schema only the
    * first time.
    *
    * The schema is remembered per (path list, confs) together with the
    * stamp it was resolved at: the (path, length, modification time) of
    * every file under the paths. Later reads whose stamp and confs match
    * pass the remembered schema (`spark.read.schema(s).parquet`), so they
    * start no Spark job before their action. A table rewritten at the same
    * path has a new stamp and is resolved again. The first read of a stamp
    * is the plain read itself, so the schema is exactly what a plain read
    * infers and it raises exactly where a plain read raises (a missing path,
    * an all-empty dir); a failed resolve stores nothing.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    resolve(spark, paths)._1

  /** What one resolve stored: its stamp, its schema and, once a reader
    * asked, its scan's partition count (-1 before).
    */
  private final class Resolved(val stamp: Seq[(String, Long, Long)],
      val schema: StructType) {
    @volatile var parts: Int = -1
  }
  private val resolved =
    TrieMap.empty[(Seq[String], Seq[Option[String]]), Resolved]

  /** The confs that decide an entry's contents: parquet schema inference,
    * partition-column inference, and the scan split size behind `parts`
    * (the key also holds the default parallelism, the split's other input).
    */
  private val keyConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum")

  private def resolve(spark: SparkSession,
      paths: Seq[String]): (DataFrame, Resolved) = {
    val key = (paths, keyConfs.map(spark.conf.getOption) :+
      Some(spark.sparkContext.defaultParallelism.toString))
    stampOf(spark, paths) match {
      case Some(stamp) =>
        resolved.get(key).filter(_.stamp == stamp) match {
          case Some(r) => (spark.read.schema(r.schema).parquet(paths: _*), r)
          case None =>
            val df = spark.read.parquet(paths: _*)
            val r = new Resolved(stamp, df.schema)
            resolved.put(key, r)
            (df, r)
        }
      case None =>
        // an unlistable path: the plain read raises as it always did
        val df = spark.read.parquet(paths: _*)
        (df, new Resolved(Nil, df.schema))
    }
  }

  /** (path, length, modification time) of every file under `paths`, or
    * None when a path cannot be listed (it does not exist).
    */
  private def stampOf(spark: SparkSession,
      paths: Seq[String]): Option[Seq[(String, Long, Long)]] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      Some(paths.flatMap { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val files = path.getFileSystem(conf).listFiles(path, true)
        val out = Seq.newBuilder[(String, Long, Long)]
        while (files.hasNext) {
          val f = files.next()
          out += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        out.result()
      })
    } catch { case _: java.io.IOException => None }

  /** The test corpus is one small parquet file per table, which Spark scans
    * as a SINGLE partition. For the scan-then-shuffle relational queries
    * that's fine (the first exchange fans out), but documents/embeddings
    * feed compute-dominated pipelines (shingling, 64-dim dot products) that
    * would serialize on one core — so those two readers rebalance when the
    * scan has fewer partitions than the cluster's parallelism (explicit N so
    * AQE doesn't coalesce the tiny exchange back to one partition). A
    * production-scale scan already has ≥ parallelism partitions, making
    * this a no-op — the guard keeps the 100 TB path shuffle-free. The
    * partition-count probe plans the scan, so it's remembered in the
    * table's resolved entry and re-probed when the file changes.
    */
  private def spread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val (df, r) = resolve(spark, Seq(s"$sfDir/$name.parquet"))
    if (r.parts < 0) r.parts = df.rdd.getNumPartitions
    val target = spark.sparkContext.defaultParallelism
    if (r.parts < target) df.repartition(target) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** The events table carries parquet TIMESTAMP(NANOS). How Spark scans it
    * depends on version: with spark.sql.legacy.parquet.nanosAsLong=true the
    * column arrives as LongType (nanos since epoch; Spark ≤4.0), while Spark
    * 4.1+ reads NANOS natively as TIMESTAMP_NTZ and ignores the legacy flag.
    * This reader normalizes both to a session-zoned TimestampType (µs):
    * LongType → integer `DIV 1000` (a double division would lose precision
    * at 1e18 ns) → timestamp_micros; TimestampNTZType → cast (the UTC
    * session preserves the instant). Downstream queries and the DuckDB
    * oracle see the identical µs timeline either way.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(apply(s, d, "events"))

  /** Normalize the scanned `ts` to TimestampType whatever shape the scan
    * produced (shared by the batch reader above and the streaming reader in
    * graft.streaming.EventStream, which sees the same parquet files).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected parquet-scanned type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = spread(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = spread(s, d, "embeddings")

  /** Exact, order-insensitive double aggregation: per-row cast to
    * DECIMAL(18,4) (exact at the corpus's 2-decimal inputs and their
    * 4-decimal products), decimal-sum, then one final cast back to double.
    * Matches `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)` in DuckDB, so
    * oracle hashes are reproducible regardless of partitioning / sum order —
    * plain double sums are order-dependent and would flap at 32 partitions.
    */
  def exactSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 4))).cast("double")
  }
}
