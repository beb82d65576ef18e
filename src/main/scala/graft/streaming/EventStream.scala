package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming restatement of the reference's incremental
  * semantics (SURVEY §2.8).
  *
  * The reference expresses "process only new data" as batch anti-joins
  * against a processed ledger on a daily schedule; the streaming-native
  * equivalent is a file source with checkpointing (exactly-once per file)
  * feeding the same declarative transforms. The windowed aggregation and
  * sessionization below are the target-driven extensions over the `events`
  * table: watermarked tumbling windows and mapGroupsWithState custom state.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond 10 minutes is dropped, state for closed windows is
  * evicted); sessionization state is per-key and evicted on timeout — both
  * survive wide clusters because state is hash-partitioned by group key.
  */
object EventStream {

  /** The event schema as read from the lake (ts restored to TimestampType —
    * see Tables.normalizeEventTs for the nanos contract). The stream schema
    * is pinned to what THIS Spark's parquet scan produces for the dir's
    * footers (one driver-side batch-schema probe at stream setup), so the
    * long-vs-TIMESTAMP_NTZ difference across Spark versions is absorbed in
    * one place instead of a hardcoded BIGINT that silently mis-scales.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // `dir` may be a whole-corpus dir (other tables' files scan as null rows
    // under the events schema) — probe the events file itself when present
    // resolve the filesystem FROM the path (not the default-conf FS) so
    // a dir on hdfs:// or s3:// probes the right store instead of
    // throwing 'Wrong FS'
    val eventsFile = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = eventsFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val probe = if (fs.exists(eventsFile)) eventsFile.toString else dir
    val scanned = graft.queries.Tables.read(spark, probe).schema
    graft.queries.Tables.normalizeEventTs(
      spark.readStream.schema(scanned).parquet(dir))
  }

  /** Tumbling 1-hour windows per event type with a 10-minute watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming cardinality monitoring: distinct users per tumbling window
    * via HLL sketches — exact distinct is not incrementally maintainable
    * under bounded state (it would hold every seen user per open window),
    * while the sketch is a few KB per window and its merge is
    * order-insensitive, so the streaming result is bit-identical to the
    * batch aggregate over the same data (spec-pinned). The same rollup
    * shape as q60: per-window sketches could be persisted and re-merged
    * into day/month tiers without raw re-scans.
    */
  def windowedDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("approx_users"), count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("approx_users"), col("n_events"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(start: Long, last: Long, nEvents: Long)

  /** Streaming state: the key's disjoint session fragments that the
    * watermark has not yet sealed (sorted by start, pairwise gaps > gap).
    */
  case class SessionFragments(frags: List[SessionState])

  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Fold a key's sorted event times into sessions, seeded with the open
    * session carried over from previous micro-batches (if any). Returns
    * (closed sessions in start order, still-open trailing session).
    *
    * Cross-batch correctness assumes a key's events arrive in event-time
    * order ACROSS batches (within a batch we sort); that is the standard
    * append-log contract for session logs.
    */
  private[graft] def foldSessions(open: Option[SessionState],
      sortedTimes: Seq[Long], gapMs: Long): (List[SessionState], Option[SessionState]) = {
    val folded = sortedTimes.foldLeft(open.toList) {
      case (Nil, t) => List(SessionState(t, t, 1))
      case (head :: tail, t) if t - head.last <= gapMs =>
        head.copy(last = math.max(head.last, t), nEvents = head.nEvents + 1) :: tail
      case (acc, t) => SessionState(t, t, 1) :: acc
    }
    folded match {
      case Nil => (Nil, None)
      case newest :: older => (older.reverse, Some(newest))
    }
  }

  private def toSession(userId: Long, s: SessionState): UserSession =
    UserSession(userId, new java.sql.Timestamp(s.start),
      new java.sql.Timestamp(s.last), s.nEvents)

  /** Merge session fragments (single events are 1-element fragments) into
    * maximal sessions: sort by start, coalesce neighbors whose gap ≤ gapMs.
    * Associative over fragments, so a late-but-within-watermark event can
    * BRIDGE two fragments buffered in earlier micro-batches — the property
    * the emit-eagerly fold lacked.
    */
  private[graft] def mergeFragments(frags: Seq[SessionState],
      gapMs: Long): List[SessionState] = {
    val sorted = frags.sortBy(s => (s.start, s.last))
    sorted.foldLeft(List.empty[SessionState]) {
      case (Nil, f) => List(f)
      case (head :: tail, f) if f.start - head.last <= gapMs =>
        SessionState(head.start, math.max(head.last, f.last),
          head.nEvents + f.nEvents) :: tail
      case (acc, f) => f :: acc
    }.reverse
  }

  /** Custom-state sessionization: a session closes after `gapMinutes` of
    * inactivity.
    *
    * Streaming input: the key's not-yet-sealed session FRAGMENTS are held
    * in `GroupState`, and a fragment is emitted only once the watermark
    * passes its last event by the gap — at that point no admissible event
    * (all have ts > watermark ≥ last+gap) can extend it or bridge it to a
    * later fragment, so emission is final (Append mode, exactly once per
    * session). Buffering fragments instead of eagerly folding makes the
    * operator correct under CROSS-BATCH DISORDER: a late-but-within-
    * watermark event arriving a micro-batch later merges into — or bridges
    * between — buffered fragments instead of splitting a true session. An
    * EVENT-TIME timeout (not processing-time: deterministic under replay,
    * and `processAllAvailable` stays usable) flushes whatever remains.
    * State per key is the fragment summaries within roughly
    * watermark-delay + gap of the frontier — bounded by the watermark, not
    * stream history — and hash-partitioned by key across the cluster.
    *
    * Batch input: all of a key's rows arrive in one call, so every session
    * (including the trailing one) is emitted directly — same output as
    * [[sessionizeSql]].
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    if (events.isStreaming) {
      events
        .withWatermark("ts", s"$gapMinutes minutes")
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[SessionFragments, UserSession](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (userId: Long, rows: Iterator[Event], state: GroupState[SessionFragments]) =>
            if (state.hasTimedOut) {
              // watermark ≥ maxLast+gap ⇒ every buffered fragment is final
              val out = state.getOption.map(_.frags).getOrElse(Nil)
                .map(toSession(userId, _))
              state.remove()
              out.iterator
            } else {
              val prev = state.getOption.map(_.frags).getOrElse(Nil)
              val incoming = rows
                .map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)).toList
              val merged = mergeFragments(prev ++ incoming, gapMs)
              val wm = state.getCurrentWatermarkMs
              // sealed = no admissible future event can touch it; later
              // fragments can't resurrect it either (their events are
              // even later), so emitting out of timeout order is safe
              val (finalized, pending) = merged.partition(_.last + gapMs <= wm)
              if (pending.isEmpty) {
                if (state.exists) state.remove()
              } else {
                state.update(SessionFragments(pending))
                // strictly beyond the current watermark (a late batch can
                // leave last+gap at/behind it)
                state.setTimeoutTimestamp(
                  math.max(pending.map(_.last).max + gapMs, wm + 1))
              }
              finalized.iterator.map(toSession(userId, _))
            }
        }
    } else {
      events.groupByKey(_.user_id).flatMapGroups {
        (userId: Long, rows: Iterator[Event]) =>
          val times = rows.map(_.ts.getTime).toVector.sorted
          val (closed, open) = foldSessions(None, times, gapMs)
          (closed ++ open).iterator.map(toSession(userId, _))
      }
    }
  }

  /** Streaming ingestion dedup: drop events whose id was already seen,
    * holding ids in state only as long as the watermark requires —
    * the streaming-native form of the reference's ledger anti-join
    * (SURVEY §2.8 I1: "process each row once") with BOUNDED state, where
    * a naive `dropDuplicates("event_id")` would grow state forever.
    * Exactly-once per id holds for duplicates arriving within the
    * watermark delay; older replays are the checkpoint's job.
    */
  def dedupStream(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream INTERVAL join: each click matched to the same user's
    * views in the preceding `gapSeconds`. Both sides carry watermarks and
    * the join condition bounds event time in both directions, so Spark can
    * evict buffered state once the watermark passes a row's last possible
    * match — the state stays proportional to the time window, not the
    * stream history. Works unchanged on batch inputs (a plain equi+range
    * join), which is what the equivalence spec exploits.
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
      gapSeconds: Int, delay: String): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"))
    val v = views.select(col("user_id").as("v_user"),
        col("event_id").as("view_id"), col("ts").as("v_ts"))
    val (cw, vw) =
      if (clicks.isStreaming) (c.withWatermark("c_ts", delay),
        v.withWatermark("v_ts", delay))
      else (c, v)
    cw.join(vw, expr(
        s"c_user = v_user AND v_ts >= c_ts - interval $gapSeconds seconds" +
          " AND v_ts <= c_ts"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  /** Batch-equivalent sessionization with window functions (lag + cumulative
    * session ids) — the declarative cross-check for the stateful operator,
    * and itself a §2.6-style capability (oracle-friendly).
    */
  def sessionizeSql(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapSec = gapMinutes * 60d
    // event_id tiebreak keeps the scan order total; epoch seconds compared
    // in double (µs fraction preserved) for engine-portable gap tests
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val newSession =
      when(col("ts").cast("double") - lag(col("ts"), 1).over(byUser).cast("double") > gapSec, 1)
        .otherwise(0)
    events
      .withColumn("new_s", coalesce(newSession, lit(0)))
      .withColumn("session_id", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
  }
}
