package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY §2.1).
  *
  * The reference moves data through CSV staging files, a Postgres pair of
  * schemas, and a date-partitioned HTML file lake
  * (/root/reference/airflow/dags/scrape_url.py:94,101-116,
  * /root/reference/spark/ParseHtml.py:33-41,74-80). Engine-native storage is
  * columnar Parquet with hive-style partitioning; CSV remains for ingest and
  * export parity; the HTML lake is read with the binaryFile source so content
  * and path arrive together and partition pruning applies to yyyy/MM/dd.
  */
object Sources {

  /** Schema-enforced CSV read (S4: the COPY FROM load). No inference at
    * scale — a declared schema keeps the read single-pass.
    */
  def readCsv(spark: SparkSession, schema: StructType, path: String,
      header: Boolean = false): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** S3/S5: CSV sink. The reference writes unquoted, comma-separated lines
    * with empty strings for NULL (export_to_csv.py:12-26); emptyValue and
    * nullValue reproduce the observable file contents with a real CSV
    * writer underneath.
    */
  def writeCsv(df: DataFrame, path: String, header: Boolean = false): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString)
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)

  /** S5 single-file variant: the reference's `COPY TO` emits exactly ONE
    * csv file (export_to_csv.py:12-26). coalesce(1) funnels the write
    * through one task — correct ONLY for export-sized results (the final
    * projection of a report, not a table dump); the part file is then
    * renamed to the requested path so downstream consumers see a plain
    * file, not a directory.
    */
  def writeCsvSingleFile(df: DataFrame, file: String,
      header: Boolean = false): Unit = {
    val tmpDir = file + "__csvtmp"
    writeCsv(df.coalesce(1), tmpDir, header)
    val hTmp = new org.apache.hadoop.fs.Path(tmpDir)
    val fs = hTmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(hTmp)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new java.io.IOException(s"no part file under $tmpDir"))
    val target = new org.apache.hadoop.fs.Path(file)
    // stage the complete file NEXT TO the target first, so a failure at any
    // rename leaves the previous export intact (same non-transactional-FS
    // compromise as compact's swap); only the final same-directory rename
    // sits between old and new
    val staged = new org.apache.hadoop.fs.Path(
      target.getParent, target.getName + "__staged")
    fs.delete(staged, false)
    if (!fs.rename(part, staged))
      throw new java.io.IOException(s"rename $part -> $staged failed")
    fs.delete(target, false)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(s"rename $staged -> $target failed")
    fs.delete(hTmp, true)
  }

  /** S6: the HTML lake read. One row per file: (path, modificationTime,
    * length, content). Partition columns in the path (yyyy/MM/dd) prune at
    * the file index, so a day's reparse touches a day's files.
    */
  def readHtmlLake(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.html")
      .load(glob)
      .select(
        col("path"),
        col("modificationTime"),
        col("content").cast("string").as("html"))

  /** S7: partitioned lake write for derived text/binary artifacts. The
    * rows are rebalanced by the partition columns first: an exchange that
    * AQE coalesces, and splits where skewed, by bytes. So each partition
    * value's rows reach one writer task (a few for a very large value) and
    * a directory gets one file, not one per input task that held its rows.
    */
  def writePartitioned(df: DataFrame, path: String, partitions: Seq[String]): Unit =
    df.hint("rebalance", partitions.map(col): _*).write.mode(SaveMode.Overwrite)
      .partitionBy(partitions: _*)
      .parquet(path)

  /** Dynamic partition overwrite: replace ONLY the hive partitions present
    * in `df`, leaving every other partition untouched — the idempotent
    * daily-rewrite primitive for a partitioned lake (re-running a day's
    * job rewrites that day, never truncates the table). Static overwrite
    * (the default) would drop ALL partitions first. Files are sized as in
    * [[writePartitioned]].
    */
  def overwritePartitions(df: DataFrame, path: String, partitions: Seq[String]): Unit =
    df.hint("rebalance", partitions.map(col): _*).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitions: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ⌈bytes/targetFileBytes⌉ files. Streaming appends and per-key upserts
    * accrete small files until footer/open overheads dominate scans — at
    * lake scale compaction is a scheduled maintenance pass. Writes to a
    * sibling temp dir and swaps via the path's own FileSystem, so the
    * source is never read and clobbered concurrently; the swap is the
    * standard non-transactional lake compromise (a table format's atomic
    * commit replaces it where available).
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitions: Seq[String] = Nil): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A hive-partitioned lake path (e.g. one written by overwritePartitions)
    // rewritten WITHOUT partitionBy would silently flatten the layout —
    // partition columns become data columns and pruning/dynamic-overwrite
    // stop working. Refuse rather than flatten.
    val looksPartitioned = fs.listStatus(hPath)
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    require(partitions.nonEmpty || !looksPartitioned,
      s"compact: $path contains hive partition directories; pass " +
        "partitions=Seq(...) so the rewrite preserves the layout")
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    // Partitioned mode must repartition BY the partition columns: a plain
    // repartition(nFiles) scatters each hive partition's rows across all
    // nFiles tasks, so partitionBy then emits up to nFiles files PER
    // partition directory — file count can go UP. Hashing on the partition
    // columns routes each directory's rows to one task → one output file
    // per partition (directories far above targetFileBytes are rare in a
    // partitioned lake; a per-partition file-count pass is the next tier).
    val source = spark.read.parquet(path)
    val compacted =
      if (partitions.nonEmpty)
        source.repartition(nFiles, partitions.map(col): _*)
      else source.repartition(nFiles)
    val writer = compacted.write.mode(SaveMode.Overwrite)
    (if (partitions.nonEmpty) writer.partitionBy(partitions: _*) else writer)
      .parquet(tmp.toString)
    fs.delete(hPath, true)
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(s"compaction swap failed for $path")
  }

  /** S2-equivalent idempotent append: only rows whose key is absent from the
    * current sink contents are appended (SURVEY §4.3 ledger contract).
    */
  def appendNewKeys(spark: SparkSession, df: DataFrame, path: String, keys: Seq[String]): Unit = {
    // Existence must be resolved through the path's own filesystem —
    // java.io.File is always false for hdfs:// / s3a:// URIs, which would
    // silently skip the anti-join and append duplicate keys on re-run.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incoming =
      if (fs.exists(hPath)) {
        val existing = spark.read.parquet(path).select(keys.map(col): _*)
        df.join(existing, keys, "left_anti")
      } else df
    incoming.write.mode(SaveMode.Append).parquet(path)
  }
}
