package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Layout, TextDedup}
import graft.queries.{AnalyticsQueries, Tables}

/** Properties the oracles can't express for the round-7 additions: the
  * containment tier's recall-1 guarantee against brute force, the drift
  * monitor's zero/one calibration points, and the z-order layout's
  * both-dims-narrow span property (the reason to z-order at all).
  */
class LayoutDriftSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  // ---- containment ----

  test("containment prefix filter has recall 1 vs brute force, and catches " +
    "a Jaccard-invisible pasted quote") {
    import spark.implicits._
    val boiler = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val long1 = boiler + " " + (1 to 300).map(i => s"body$i").mkString(" ")
    val long2 = (1 to 300).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (1L, boiler, "en"), (2L, long1, "en"), (3L, long2, "en"),
      (4L, "tiny doc here", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextDedup.containmentPairs(docs, "doc_id", "text", "lang",
        n = 3, tNum = 9, tDen = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all ordered pairs
    def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val all = Seq((1L, boiler), (2L, long1), (3L, long2), (4L, "tiny doc here"))
    val want = (for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia != ib && sh(ta).nonEmpty
      ov = sh(ta).intersect(sh(tb)).size
      if 10L * ov >= 9L * sh(ta).size
    } yield (ia, ib)).toSet
    assert(got === want)
    // the planted quote is found even though its Jaccard is ~10/310 —
    // the symmetric tier's threshold can never reach it
    assert(got.contains((1L, 2L)))
    val j = sh(boiler).intersect(sh(long1)).size.toDouble /
      (sh(boiler) ++ sh(long1)).size
    assert(j < 0.1, s"fixture must be Jaccard-invisible, was $j")
  }

  test("containment on the corpus: every emitted pair re-verifies; " +
    "contained docs' pairs include the exact-duplicate twins") {
    val pairs = graft.queries.MixQueries.q125_containment(spark, sf)
    val rows = pairs.collect()
    assert(rows.nonEmpty, "sf0.001 planted twins must emit containment pairs")
    assert(rows.forall(_.getLong(2) >= 900000L),
      "containment_ppm below the 9/10 threshold escaped the filter")
  }

  // ---- drift ----

  test("drift is 0 ppm when the windows have identical distributions and " +
    "1e6/2-scale when disjoint") {
    import spark.implicits._
    // the same cross-multiplied integer form q126 uses, reduced in Scala
    def tvdPpm(df: org.apache.spark.sql.DataFrame): Long = {
      val counts = df.groupBy("bucket").agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val n = counts.map(_._1).sum
      val m = counts.map(_._2).sum
      val num = counts.map { case (a, b) => math.abs(a * m - b * n) }.sum
      1000000L * num / (2 * n * m)
    }
    val same = Seq((true, "a"), (true, "b"), (false, "a"), (false, "b"))
      .toDF("is_ref", "bucket")
    val disjoint = Seq((true, "a"), (true, "a"), (false, "b"), (false, "b"))
      .toDF("is_ref", "bucket")
    // identical shares → every cross term cancels
    assert(tvdPpm(same) === 0L)
    // disjoint supports → Σ|n_ref·M − n_cur·N| = 2·N·M → TVD = 1 exactly
    assert(tvdPpm(disjoint) === 1000000L)
  }

  test("q126 TOTAL rows bound their per-bucket contributions") {
    val out = AnalyticsQueries.q126_snapshot_drift(spark, sf).collect()
    val dims = out.map(_.getString(0)).distinct
    assert(dims.sorted === Array("orderpriority", "totalprice"))
    for (dim <- dims) {
      val rows = out.filter(_.getString(0) == dim)
      val total = rows.find(_.getString(1) == "TOTAL").get.getLong(4)
      val perBucket = rows.filterNot(_.getString(1) == "TOTAL").map(_.getLong(4))
      // flooring makes per-bucket ppm sums a LOWER bound on the total
      assert(perBucket.sum <= total)
      assert(total <= 1000000L)
    }
  }

  // ---- z-order ----

  test("zValue interleaves bits exactly (reference implementation)") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long =
      (0 until 10).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).sum
    val probe = Seq((0L, 0L), (1023L, 0L), (0L, 1023L), (1023L, 1023L),
      (5L, 9L), (682L, 341L), (1L, 1022L))
    val got = probe.toDF("x", "y")
      .select(Layout.zValue(10, col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === probe.map { case (x, y) => ref(x, y) })
  }

  test("z-order buckets are narrow on BOTH dims where a 1-D sort is " +
    "narrow on one: max day-span of z buckets ≪ day range") {
    val out = AnalyticsQueries.q127_zorder_layout(spark, sf)
      .withColumn("day_span", col("max_day") - col("min_day"))
      .withColumn("price_span", col("max_price") - col("min_price"))
      .collect()
    val dayRange = out.map(_.getAs[Long]("max_day")).max -
      out.map(_.getAs[Long]("min_day")).min
    val priceRange = out.map(_.getAs[Double]("max_price")).max -
      out.map(_.getAs[Double]("min_price")).min
    // a z-bucket of 1024 cells covers a 32×32 tile of the 1024×1024 grid:
    // each file's span on EITHER dim is ≤ ~2/32 of the full range (tile
    // width + quantization slack). A price-sorted table would instead show
    // day spans ≈ the FULL day range in most buckets.
    assert(out.forall(_.getAs[Long]("day_span") <= dayRange / 8),
      "a z-bucket spans too much of the day range")
    assert(out.forall(_.getAs[Double]("price_span") <= priceRange / 8),
      "a z-bucket spans too much of the price range")
  }

  test("clusterByZ yields one contiguous z-range per partition") {
    val o = Tables.orders(spark, sf)
    val mm = o.agg(min("o_totalprice").as("lo_p"), max("o_totalprice").as("hi_p"))
    val withZ = o.crossJoin(broadcast(mm))
      .withColumn("bx",
        least(greatest(floor((col("o_totalprice") - col("lo_p")) * 1024.0 /
          (col("hi_p") - col("lo_p"))), lit(0L)), lit(1023L)))
      .withColumn("by", col("o_orderkey") % 1024)
      .withColumn("z", Layout.zValue(10, col("bx"), col("by")))
    val parts = Layout.clusterByZ(withZ, col("z"), 8)
      .select(spark_partition_id().as("pid"), col("z"))
      .groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("lo").collect()
    assert(parts.length > 1)
    // ranges must not overlap: each partition's lo exceeds the previous hi
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1))
      case _ =>
    }
  }
}
