package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup operators.
  *
  * Reference: `DISTINCT ON (job_id)` at
  * /root/reference/airflow/dags/sql/scrape_url_dedupe_jobs.sql:1-8 keeps one
  * arbitrary row per key (no ORDER BY). `dropDuplicates` has the same
  * semantics; `firstRowPerKey` is the deterministic variant (row_number over
  * an explicit ordering), which is what an oracle-checked engine should
  * prefer.
  *
  * Scale notes: both forms are a single hash-shuffle on the key columns.
  * `dropDuplicates` plans partial+final Aggregate (map-side combine prunes
  * duplicates before the shuffle); `firstRowPerKey` is a shuffle + per-group
  * sort but never materializes a full sort of the table.
  */
object Dedupe {

  /** One arbitrary row per key — DISTINCT ON semantics. */
  def arbitraryRowPerKey(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Deterministic first-row-per-key: the row that sorts first by
    * `order` within each key group wins. Each `perKey` (name, aggregate)
    * is evaluated over the whole key group before the losers drop, so
    * the winner can carry its group's size (q74's `n_docs`) in the same
    * sorted pass.
    */
  def firstRowPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column],
      perKey: Seq[(String, Column)] = Nil): DataFrame = {
    val group = Window.partitionBy(keys.map(col): _*)
    val ranked = df.withColumn("__rn", row_number().over(group.orderBy(order: _*)))
    perKey.foldLeft(ranked) { case (acc, (name, agg)) =>
        acc.withColumn(name, agg.over(group))
      }
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
