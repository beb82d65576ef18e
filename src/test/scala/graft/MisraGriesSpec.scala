package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MisraGries, MisraGriesTopK}

class MisraGriesSpec extends AnyFunSuite with SharedSpark {

  /** Zipf-ish skewed stream with a fixed seed: item i appears with weight
    * proportional to 1/(i+1).
    */
  private def skewedStream(n: Int, nItems: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val weights = (0 until nItems).map(i => 1.0 / (i + 1))
    val total = weights.sum
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
    (0 until n).map { _ =>
      val u = rnd.nextDouble()
      s"item${cdf.indexWhere(u <= _)}"
    }
  }

  test("buffer guarantee: every item above n/(k+1) is present, " +
      "estimates underestimate by at most n/(k+1)") {
    val k = 8
    val stream = skewedStream(20000, 200, seed = 7)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val buf = new MisraGriesTopK.Buf(k)
    stream.foreach(buf.add(_, 1L))
    val summary = buf.entries.toMap
    val bound = stream.size.toLong / (k + 1)
    exact.foreach { case (item, c) =>
      if (c > bound)
        assert(summary.contains(item), s"frequent item $item (count $c) missing")
    }
    summary.foreach { case (item, lb) =>
      val t = exact(item)
      assert(lb <= t, s"$item overestimated: $lb > $t")
      assert(t - lb <= bound, s"$item underestimated beyond bound: $t - $lb > $bound")
    }
  }

  test("merge rule preserves the guarantee across partial buffers") {
    val k = 8
    val stream = skewedStream(30000, 500, seed = 11)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val parts = stream.grouped(1000).map { chunk =>
      val b = new MisraGriesTopK.Buf(k)
      chunk.foreach(b.add(_, 1L))
      b
    }.toSeq
    val merged = parts.reduce { (a, b) => a.mergeIn(b); a }
    val summary = merged.entries.toMap
    val bound = stream.size.toLong / (k + 1)
    exact.foreach { case (item, c) =>
      if (c > bound) assert(summary.contains(item), s"$item lost in merge")
    }
    summary.foreach { case (item, lb) =>
      assert(lb <= exact(item) && exact(item) - lb <= bound)
    }
  }

  streamingTest("streaming: the summary's guarantee holds across micro-batches " +
      "(state round-trips serialize/merge)") {
    import spark.implicits._
    val k = 8
    val stream = skewedStream(6000, 100, seed = 19)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String](spark)
    val q = input.toDF().toDF("item")
      .agg(MisraGries.frequentItems(col("item"), k).as("mg"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    try {
      stream.grouped(2000).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val summary = spark.table("mg_stream")
        .select(explode(col("mg")).as("e"))
        .select(col("e.item"), col("e.lb"))
        .as[(String, Long)].collect().toMap
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = stream.size.toLong / (k + 1)
      exact.foreach { case (item, c) =>
        if (c > bound)
          assert(summary.contains(item), s"frequent item $item lost in streaming")
      }
      summary.foreach { case (item, lb) =>
        assert(lb <= exact(item) && exact(item) - lb <= bound,
          s"$item estimate $lb violates bound (true ${exact(item)})")
      }
    } finally q.stop()
  }

  test("non-string item column is an analysis error, not an executor CCE") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    Seq(1L, 2L, 2L).toDF("v").createOrReplaceTempView("t_mg_long")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_frequent_items(v, 4) FROM t_mg_long").head()
    }
    assert(e.getMessage.contains("string"))
    // and a BIGINT k literal resolves (Number.intValue, not a blind cast)
    val ok = spark.sql(
      "SELECT graft_frequent_items(CAST(v AS STRING), CAST(4 AS BIGINT)) " +
        "FROM t_mg_long").head()
    assert(ok.getSeq[org.apache.spark.sql.Row](0).nonEmpty)
  }

  test("serialization round-trips") {
    val b = new MisraGriesTopK.Buf(4)
    Seq("a", "b", "a", "c", "a", "b", "δδ").foreach(b.add(_, 1L))
    val back = MisraGriesTopK.Buf.fromBytes(4, b.toBytes)
    assert(back.entries.toMap == b.entries.toMap)
  }

  test("aggregate over a partitioned DataFrame: candidates ∪ exact recount " +
      "equals plain groupBy/HAVING, at any partitioning") {
    import spark.implicits._
    val stream = skewedStream(20000, 300, seed = 13)
    val k = 8
    Seq(1, 3, 17).foreach { nPart =>
      val df = stream.toDF("item").repartition(nPart)
      val cand = df.agg(MisraGries.frequentItems(col("item"), k).as("mg"))
        .select(explode(col("mg.item")).as("item"))
      val n = stream.size.toLong
      val viaMg = df.join(cand, Seq("item"), "left_semi")
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (k + 1) > n)
        .as[(String, Long)].collect().toSet
      val exact = df.groupBy("item").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (k + 1) > n)
        .as[(String, Long)].collect().toSet
      assert(viaMg == exact, s"mismatch at $nPart partitions")
    }
  }
}
