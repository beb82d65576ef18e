package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsOf, Skew}

class AsOfSkewSpec extends AnyFunSuite with SharedSpark {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin: latest right row at-or-before each left row, per key") {
    import spark.implicits._
    val clicks = Seq(
      (1L, 100L, ts("2024-01-01 00:00:30")), // before any view → null
      (1L, 101L, ts("2024-01-01 01:00:30")), // after v1 → v1
      (1L, 102L, ts("2024-01-01 02:00:00")), // equal ts with v2 → v2 (eligible)
      (2L, 200L, ts("2024-01-01 05:00:00"))) // other key, no views → null
      .toDF("user_id", "event_id", "ts")
    val views = Seq(
      (1L, 10L, ts("2024-01-01 01:00:00")),
      (1L, 11L, ts("2024-01-01 02:00:00")),
      (1L, 12L, ts("2024-01-01 02:00:00"))) // tie: larger id wins
      .toDF("user_id", "event_id", "ts")
    val out = AsOf.asofJoin(clicks, views, "user_id", "ts", "event_id", "event_id")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(100L).isEmpty)
    assert(out(101L) == Some(10L))
    assert(out(102L) == Some(12L), "equal-ts right rows are eligible; larger id breaks ties")
    assert(out(200L).isEmpty)
  }

  test("saltedJoin equals the plain equi-join on skewed keys") {
    import spark.implicits._
    // 90% of left rows share one hot key
    val left = ((1 to 900).map(i => ("hot", i)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("key", "v")
    val right = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).zipWithIndex
      .toDF("key", "rv")
    val plain = left.join(right, Seq("key")).select("key", "v", "rv")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, "key", saltFrom = Seq("v"), nSalt = 8)
      .select("key", "v", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("saltedAgg equals the plain aggregation (sum semigroup)") {
    import spark.implicits._
    val df = ((1 to 1000).map(i => ("hot", i.toLong)) ++ Seq(("cold", 5L)))
      .toDF("key", "v")
    val plain = df.groupBy("key").agg(sum("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedAgg(df, "key", "v", nSalt = 8, partial = sum, merge = sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }
}
