package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The analytic core: salary-band imputation.
  *
  * Reference: a job sighted in salary-filtered searches [11k,15k] and
  * [15k,20k] is inferred to pay [11k,20k] —
  * `SELECT job_id, min(salary_min), max(salary_max) ... GROUP BY job_id`
  * (/root/reference/airflow/dags/sql/impute_salary_create_salary_table.sql:3-9)
  * followed by an UPDATE..FROM join that backfills only rows whose salary
  * columns are both null
  * (/root/reference/airflow/dags/sql/impute_salary_update_parsed_jobs_table.sql:1-7).
  *
  * Scale notes: the aggregate is a partial+final hash aggregate (one shuffle
  * on the key); the merge is a left join where the imputed side — an
  * aggregate keyed by PK — is typically much smaller than the fact table and
  * broadcast-eligible. Broadcast stays the generic default (q04 merges
  * through it). A caller whose merge feeds a file sink can hint the update
  * side `shuffle_hash` instead, as `JobsPipeline.run` does: the join's
  * exchange then lets AQE size the written files by output bytes.
  */
object Impute {

  /** min/max band per key. Column names parameterized so the same operator
    * serves the jobs tables and the oracle-checked TPC-H-style tables.
    */
  def minMaxPerKey(
      df: DataFrame,
      key: String,
      loCol: String,
      hiCol: String,
      loOut: String = "min_salary",
      hiOut: String = "max_salary"): DataFrame =
    df.groupBy(key).agg(min(loCol).as(loOut), max(hiCol).as(hiOut))

  /** UPDATE..FROM as a join-merge: overwrite `cols` of `target` with the
    * values from `updates` on matched keys where every target column in
    * `cols` is currently null (the reference's P6 guard); all other rows and
    * columns pass through unchanged. Rebuilds the full table (Spark-idiomatic
    * replacement for in-place UPDATE; a Delta MERGE could drop in here).
    */
  def mergeUpdateWhenAllNull(
      target: DataFrame,
      updates: DataFrame,
      key: String,
      cols: Seq[String]): DataFrame = {
    val u = updates.select(
      col(key) +: cols.map(c => col(c).as(s"__u_$c")): _*)
    val allNull = cols.map(c => target(c).isNull).reduce(_ && _)
    val merged = target.join(u, Seq(key), "left")
    val projected = target.columns.map {
      case c if cols.contains(c) =>
        when(allNull, col(s"__u_$c")).otherwise(col(c)).as(c)
      case c => col(c)
    }
    merged.select(projected.toIndexedSeq: _*)
  }
}
