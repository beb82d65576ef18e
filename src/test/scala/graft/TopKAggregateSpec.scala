package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TopKAggregate, TopKByScore}

class TopKAggregateSpec extends AnyFunSuite with SharedSpark {

  private def drain(b: TopKByScore.Buf): Seq[(Double, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    b.foreachDescending((s, _, i) => out += ((s, i)))
    out.toSeq
  }

  test("buffer: rank order is (score desc, id asc), bounded at k") {
    val b = new TopKByScore.Buf(3)
    Seq((5.0, 7L), (9.0, 2L), (5.0, 1L), (1.0, 9L), (9.0, 5L)).foreach {
      case (s, i) => b.add(s, 0.0, i, 1)
    }
    assert(drain(b) == Seq((9.0, 2L), (9.0, 5L), (5.0, 1L)))
  }

  test("buffer: the secondary score breaks primary ties BEFORE the id") {
    val b = new TopKByScore.Buf(3)
    // all tie on score; score2 must dominate the (ascending) id fallback
    Seq((0.5, 9L), (0.9, 8L), (0.1, 1L), (0.9, 2L)).foreach {
      case (s2, i) => b.add(7.0, s2, i, 1)
    }
    assert(drain(b) == Seq((7.0, 2L), (7.0, 8L), (7.0, 9L)))
  }

  test("buffer: duplicate multiplicity preserved across boundary and merges") {
    val a = new TopKByScore.Buf(3)
    a.add(4.0, 0.0, 1L, 2) // two identical rows
    a.add(9.0, 0.0, 8L, 1)
    val b = new TopKByScore.Buf(3)
    b.add(4.0, 0.0, 1L, 1)
    b.add(7.0, 0.0, 3L, 1)
    b.foreachEntry(a.add)
    // pool: 9.0/8 ×1, 7.0/3 ×1, 4.0/1 ×3 → top3 keeps one 4.0 duplicate
    assert(drain(a) == Seq((9.0, 8L), (7.0, 3L), (4.0, 1L)))
    // and serialization round-trips the counted form (incl. score2)
    val c = TopKByScore.Buf.fromBytes(3, {
      val aa = new TopKByScore.Buf(3)
      aa.add(4.0, 2.0, 1L, 2); aa.add(9.0, 0.0, 8L, 1); aa.toBytes
    })
    assert(drain(c) == Seq((9.0, 8L), (4.0, 1L), (4.0, 1L)))
  }

  test("aggregate equals the window form on a skewed DataFrame") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 2000).map(i => ("g" + (i % 3), (i % 7).toDouble, i.toLong))
      .toDF("g", "score", "id")
      .repartition(8) // force partial/merge paths across partitions
    val agg = df.groupBy("g")
      .agg(TopKAggregate.topKByScore(col("score"), col("id"), 5).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rk"), col("col.score"), col("col.id"))
      .collect().map(_.toSeq).toSet
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val win = df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("g", "rk", "score", "id")
      .collect().map(_.toSeq).toSet
    assert(agg == win)
  }

  test("two-level aggregate equals the (score, score2, id) window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // score collides constantly (i % 2) so score2 does the real ordering
    val df = (1 to 2000)
      .map(i => ("g" + (i % 3), (i % 2).toDouble, (i % 11).toDouble, i.toLong))
      .toDF("g", "score", "score2", "id")
      .repartition(8)
    val agg = df.groupBy("g")
      .agg(TopKAggregate
        .topKByScore(col("score"), col("score2"), col("id"), 5).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rk"), col("col.id"))
      .collect().map(_.toSeq).toSet
    val w = Window.partitionBy("g")
      .orderBy(col("score").desc, col("score2").desc, col("id").asc)
    val win = df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("g", "rk", "id")
      .collect().map(_.toSeq).toSet
    assert(agg == win)
  }
}
