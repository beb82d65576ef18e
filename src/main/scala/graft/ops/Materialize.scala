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

  /** A session memo for a relation that several queries read: the
    * readout one query builds (q56's dedup clusters, the ANN tiers'
    * top-1s, q187's perplexities, ...) and others reuse.
    *
    * Billing: the query that owns the readout calls [[publish]], which
    * always builds, so a min-of-N benchmark bills the build to that
    * query's number on every attempt. Its consumers call [[serve]],
    * which builds only if the owner has not run in this session, so
    * their numbers price their own work on top of the readout.
    *
    * Pinning: a memo's relation is held for the whole session, through
    * every [[releaseAll]]. So it must be SMALL — doc-count- or
    * query-count-sized readouts, never pair- or shingle-sized
    * intermediates — and already materialized: `build` owns the
    * materialization and returns checkpoint-backed leaves, which
    * `Shared` only pins. In local mode the pin decides correctness
    * (localCheckpoint blocks are non-recomputable; a released one fails
    * every later read); persist-mode blocks recompute from lineage and
    * reliable-mode generations live in DFS files, so for them it only
    * saves re-execution. A republish unpins and releases the generation
    * it replaces, so a session holds one generation per key.
    *
    * Keys name the session and the corpus (the sf dir in the query
    * suite), so scales in one process cannot mix.
    */
  final class Shared[K](build: K => DataFrame) {
    private val memo = new java.util.concurrent.ConcurrentHashMap[K, DataFrame]

    /** Build, pin and publish `k`'s relation, releasing the generation
      * it replaces — the owning query's path.
      */
    def publish(k: K): DataFrame = {
      val fresh = pin(build(k))
      val old = memo.put(k, fresh)
      if (old != null && (old ne fresh)) unpinAndRelease(old)
      fresh
    }

    /** The published relation, built and pinned only if `k` has none
      * yet — the consumers' path.
      */
    def serve(k: K): DataFrame = memo.computeIfAbsent(k, _ => pin(build(k)))
  }

  // RDD ids backing a Shared memo's relations; releaseAll skips them
  private val pinnedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private def pinnedLeaves(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  private def pin(df: DataFrame): DataFrame = {
    pinnedLeaves(df).foreach(r => pinnedIds.add(r.id))
    df
  }

  private def unpinAndRelease(df: DataFrame): Unit = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    pinnedLeaves(df).foreach { r =>
      pinnedIds.remove(r.id)
      persisted.get(r.id).foreach(_.unpersist(blocking = false))
    }
  }

  /** Release every block this session has pinned: SQL-cached relations
    * plus all persisted RDDs — which is where `localCheckpoint()` blocks
    * live, so this also reclaims [[apply]]'s local-mode materializations
    * once their consumers are done (except the [[Shared]] memos' pinned
    * relations).
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
