package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scd2

class Scd2Spec extends AnyFunSuite with SharedSpark {

  import java.sql.Date

  private def history() = {
    import spark.implicits._
    // key 1: A → A (collapse) → NULL (version) → B; key 2: single row
    Seq(
      (1L, Date.valueOf("2020-01-01"), 10L, Option("A")),
      (1L, Date.valueOf("2020-02-01"), 11L, Option("A")),
      (1L, Date.valueOf("2020-03-01"), 12L, None),
      (1L, Date.valueOf("2020-04-01"), 13L, Option("B")),
      (2L, Date.valueOf("2020-01-15"), 20L, Option("X")))
      .toDF("key", "ts", "tie", "status")
  }

  test("buildHistory collapses repeats, versions null transitions, closes intervals") {
    val h = Scd2.buildHistory(history(), "key", "ts", "tie", Seq("status"))
      .orderBy("key", "version")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString), r.getInt(4), r.getBoolean(5)))
    assert(h.toSeq === Seq(
      (1L, Some("A"), "2020-01-01", Some("2020-03-01"), 1, false),
      (1L, None, "2020-03-01", Some("2020-04-01"), 2, false),
      (1L, Some("B"), "2020-04-01", None, 3, true),
      (2L, Some("X"), "2020-01-15", None, 1, true)))
  }

  test("asOfVersion returns the version valid at the probe instant") {
    val h = Scd2.buildHistory(history(), "key", "ts", "tie", Seq("status"))
    val at = Scd2.asOfVersion(h, lit(Date.valueOf("2020-03-15")))
      .orderBy("key")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(4)))
    assert(at.toSeq === Seq((1L, None, 2), (2L, Some("X"), 1)))
    // interval boundaries: effective_from inclusive, effective_to exclusive
    val onBoundary = Scd2.asOfVersion(h, lit(Date.valueOf("2020-03-01")))
      .filter(col("key") === 1).collect().map(_.getInt(4))
    assert(onBoundary.toSeq === Seq(2))
  }

  test("history partitions time: every instant maps to exactly one version per key") {
    val h = Scd2.buildHistory(history(), "key", "ts", "tie", Seq("status"))
    Seq("2020-01-01", "2020-01-31", "2020-02-15", "2020-03-31", "2021-01-01")
      .foreach { day =>
        val n = Scd2.asOfVersion(h, lit(Date.valueOf(day)))
          .filter(col("key") === 1).count()
        assert(n === 1, s"key 1 at $day")
      }
  }
}
