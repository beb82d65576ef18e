package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialization tier for iterative loops (connected components) and
  * multi-consumer relations (the shingle relation), selected by
  * `spark.graft.checkpointMode`:
  *
  *  - `local` (default on `local[n]` masters) — `localCheckpoint()`:
  *    fastest, but blocks are executor-local and NON-recomputable; one
  *    lost executor mid-loop kills the job. Right for local[n] and short
  *    interactive runs.
  *  - `persist` (default on every other master — see [[defaultMode]]) —
  *    `persist(MEMORY_AND_DISK)` forced eagerly: blocks are
  *    recomputable from lineage after executor loss — the cluster
  *    default. Lineage still grows across loop rounds (each generation's
  *    plan chains on the previous), so very long loops should escalate
  *    to `reliable`; dedup CC loops converge in a handful of rounds.
  *  - `reliable` — `checkpoint()` to `spark.graft.checkpointDir`
  *    (DFS-backed): cuts lineage AND survives executor loss — the
  *    100 TB long-loop tier.
  *
  * The loops' fixpoint checks compare successive generations, so every
  * mode materializes EAGERLY — a lazy persist would re-execute the
  * not-yet-cached plan once per downstream action and could interleave
  * with the next round's mutation of `labels`.
  *
  * Materializing is for relations read more than once. A query result
  * read once by its sink is never materialized here: results are
  * unordered (see `SparkEntry.orderedResults`), so there is no output
  * sort whose sampling pass a checkpoint would have to pay for.
  */
object Materialize {

  /** Default tier when `spark.graft.checkpointMode` is unset: `local`
    * (localCheckpoint) only where executors cannot be lost independently
    * of the driver — the in-process `local`/`local[n]` masters. Every
    * other master (cluster managers, and `local-cluster[...]`, whose
    * executors ARE separate processes) defaults to `persist`, whose
    * blocks recompute from lineage after executor loss. An explicit conf
    * always wins — this only removes the footgun of the FAST default
    * silently riding a non-recomputable block onto a cluster.
    */
  private[graft] def defaultMode(master: String): String =
    if (master == "local" || master.startsWith("local[")) "local"
    else "persist"

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("spark.graft.checkpointMode",
      defaultMode(spark.sparkContext.master)) match {
      case "local" => df.localCheckpoint()
      case "persist" =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count() // force now: fixpoint checks must read a stable snapshot
        p
      case "reliable" =>
        // No silent fallback: a driver-local tmpdir is node-local storage,
        // which voids exactly the executor-loss tolerance this tier is for.
        val dir = spark.conf.getOption("spark.graft.checkpointDir")
          .getOrElse(throw new IllegalArgumentException(
            "checkpointMode=reliable requires spark.graft.checkpointDir " +
              "to name a DFS-backed path (a local tmpdir would not " +
              "survive executor loss)"))
        val sc = spark.sparkContext
        if (!sc.getCheckpointDir.exists(_.contains(dir)))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"spark.graft.checkpointMode must be local|persist|reliable, got '$other'")
    }
  }

  /** [[apply]] unless `spark.graft.eagerMaterialize=false` — the
    * plan-only escape hatch (PlanSpec audits build query plans without
    * executing the pipelines; an eager checkpoint there would run them
    * just to be inspected). Queries and benchmarks run with the default.
    */
  def maybe(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.eagerMaterialize", "true").toBoolean)
      apply(df)
    else df

  // Cross-query shared artifacts (the dedup-cluster memo) outlive the
  // per-query release cycle: pin() records the RDD ids backing a
  // materialized relation and releaseAll skips them. Pinned relations
  // must be SMALL — doc-count-sized label tables, never pair- or
  // shingle-sized intermediates — because the blocks are then held for
  // the life of the session. Only local mode needs the pin for
  // CORRECTNESS (localCheckpoint blocks are non-recomputable; a released
  // one fails every later read); persist-mode blocks recompute from
  // lineage and reliable-mode generations live in DFS files, so for them
  // the pin is just a re-execution saver.
  private val pinnedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Mark `df`'s materialized backing RDDs as exempt from [[releaseAll]].
    * `df` must already be materialized (its analyzed plan scans
    * checkpoint-backed RDD leaves — the shape [[apply]] returns).
    */
  def pin(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        pinnedIds.add(l.rdd.id)
      case _ => ()
    }
    df
  }

  /** Drop a previously [[pin]]ned relation's exemption AND its blocks —
    * for when a shared artifact is REPLACED (a republish): the old
    * generation's consumers are done, so holding its blocks for the
    * session would leak one label table per republish.
    */
  def unpinAndRelease(df: DataFrame): Unit = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        pinnedIds.remove(l.rdd.id)
        persisted.get(l.rdd.id).foreach(_.unpersist(blocking = false))
      case _ => ()
    }
  }

  /** Release every block this session has pinned: SQL-cached relations
    * plus all persisted RDDs — which is where `localCheckpoint()` blocks
    * live, so this also reclaims [[apply]]'s local-mode materializations
    * once their consumers are done (except [[pin]]ned shared artifacts).
    * Call BETWEEN independent units of work (bench queries, verify
    * dumps, scheduled jobs sharing one long session): materialized
    * intermediates are scoped to a single query's execution, and a
    * session that never releases them accumulates orphaned blocks whose
    * block-manager churn taxes whatever runs later (round 6 measured
    * 2-4× inflation on late-suite bench queries from exactly this).
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) =>
        if (!pinnedIds.contains(id)) rdd.unpersist(blocking = false) }
  }
}
