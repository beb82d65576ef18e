package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables
import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  streamingTest("streaming windowed counts over the events lake match the batch aggregate") {
    val stream = EventStream.readEventStream(spark, s"$sf")
      .filter(col("event_id").isNotNull) // schema applied to the parquet dir
    val q = EventStream.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = Tables.events(spark, sf)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  streamingTest("streaming windowed distinct-user sketches are bit-identical to " +
      "the batch HLL aggregate") {
    val stream = EventStream.readEventStream(spark, s"$sf")
      .filter(col("event_id").isNotNull)
    val q = EventStream.windowedDistinctUsers(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_win_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hll_win_out")
        .collect().map(r => r.getTimestamp(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      // HLL merge is order-insensitive, so streaming == batch EXACTLY
      val batch = Tables.events(spark, sf)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("approx_users"), count(lit(1)).as("n"))
        .collect().map(r => r.getTimestamp(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed == batch)
      // and the sketch stays within its error bound of exact distinct
      val exact = Tables.events(spark, sf)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(countDistinct(col("user_id")).cast("double").as("ex"))
        .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
      exact.foreach { case (h, ex) =>
        val approx = streamed(h)._1.toDouble
        assert(math.abs(approx - ex) <= 0.05 * ex,
          s"window $h: approx $approx vs exact $ex")
      }
    } finally q.stop()
  }

  streamingTest("streaming sessionize merges a session across micro-batches via GroupState") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, user: Long, minute: Long): EventStream.Event =
      EventStream.Event(id, new java.sql.Timestamp(minute * 60000L), user, "click", 1.0)
    def m(minute: Long): Long = minute * 60000L
    val source = MemoryStream[EventStream.Event](spark)
    val q = EventStream.sessionize(source.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .start()
    def emitted(): Set[(Long, Long, Long, Long)] = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    try {
      // batch 1: two events 10 min apart — one OPEN session, nothing emitted
      source.addData(ev(1, 1, 600), ev(2, 1, 610))
      q.processAllAvailable()
      assert(emitted().isEmpty,
        "open session must be held in state, not emitted per batch")
      // batch 2: an event past the gap starts a new fragment, but the first
      // session is NOT emitted yet — the watermark (610−30=580) hasn't
      // passed its last+gap (640), so a late event could still extend it
      source.addData(ev(3, 1, 720))
      q.processAllAvailable()
      assert(emitted().isEmpty,
        "a session is sealed by the watermark, not by a later event alone")
      // batch 3: a different user far in the future advances the watermark
      // past both fragments' last+gap — both flush (the second via timeout)
      source.addData(ev(4, 2, 840))
      q.processAllAvailable()
      assert(emitted() === Set((1L, m(600), m(610), 2L), (1L, m(720), m(720), 1L)),
        "watermark passing last+gap must seal both buffered sessions")
    } finally q.stop()
  }

  streamingTest("late-but-within-watermark event bridges fragments across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, user: Long, minute: Long): EventStream.Event =
      EventStream.Event(id, new java.sql.Timestamp(minute * 60000L), user, "click", 1.0)
    def m(minute: Long): Long = minute * 60000L
    val source = MemoryStream[EventStream.Event](spark)
    val q = EventStream.sessionize(source.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_late_out")
      .start()
    try {
      // batch 1: minutes 600 and 640 — 40 min apart, TWO fragments
      source.addData(ev(1, 1, 600), ev(2, 1, 640))
      q.processAllAvailable()
      // batch 2: minute 620 is LATE (before 640) but within the watermark
      // (640−30=610 < 620) — it must bridge the fragments into one session
      source.addData(ev(3, 1, 620))
      q.processAllAvailable()
      // batch 3: far-future event advances the watermark past 640+30
      source.addData(ev(4, 2, 900))
      q.processAllAvailable()
      val got = spark.table("sess_late_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      assert(got === Set((1L, m(600), m(640), 3L)),
        "disordered-but-admissible events must merge, never split, a session")
      // and the sealed output agrees with the batch SQL sessionization of
      // the same events
      val sql = EventStream.sessionizeSql(
          Seq((1L, 1L, new java.sql.Timestamp(m(600))),
            (3L, 1L, new java.sql.Timestamp(m(620))),
            (2L, 1L, new java.sql.Timestamp(m(640))))
            .toDF("event_id", "user_id", "ts"), gapMinutes = 30)
        .collect().map(r => (r.getLong(0), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime, r.getLong(4))).toSet
      assert(got === sql)
    } finally q.stop()
  }

  streamingTest("native session_window streaming agrees with its batch form") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, user: Long, minute: Long): EventStream.Event =
      EventStream.Event(id, new java.sql.Timestamp(minute * 60000L), user, "click", 1.0)
    val all = Seq(ev(1, 1, 600), ev(2, 1, 610), ev(3, 1, 720), ev(4, 2, 900))
    val source = MemoryStream[EventStream.Event](spark)
    val q = source.toDS()
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("s"), col("w.end").as("e"), col("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_out")
      .start()
    try {
      // three micro-batches; the last (user 2, minute 900) drives the
      // watermark past both of user 1's session ends
      source.addData(all(0), all(1)); q.processAllAvailable()
      source.addData(all(2)); q.processAllAvailable()
      source.addData(all(3)); q.processAllAvailable()
      val streamed = spark.table("sw_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      val batchClosed = all.toDS()
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("s"), col("w.end").as("e"), col("n"))
        .filter(col("user_id") === 1) // user 2's session is still open upstream
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      assert(streamed === batchClosed,
        "closed native session windows must match the batch aggregation")
    } finally q.stop()
  }

  test("stateful sessionize agrees with the SQL-window sessionization") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    val stateful = EventStream.sessionize(events, gapMinutes = 30)
      .collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events))
      .toSet
    val sql = EventStream.sessionizeSql(
        Tables.events(spark, sf).select("event_id", "user_id", "ts"), gapMinutes = 30)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
        r.getLong(4)))
      .toSet
    assert(stateful == sql)
  }
}
