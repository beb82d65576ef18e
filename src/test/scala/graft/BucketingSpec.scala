package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: the 100 TB fact-fact join strategy. Writing both sides
  * bucketed by the join key makes the join a zero-shuffle zip of
  * co-located buckets — this spec proves the Exchange disappears.
  */
class BucketingSpec extends AnyFunSuite with SharedSpark {

  test("bucketed co-located join plans with no shuffle Exchange") {
    // force the shuffle-vs-bucket comparison to use sort-merge paths
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(bucketedJoin())
  }

  private def bucketedJoin(): Unit = {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")

    val bucketedJoin = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

    val plainJoin = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

    def shuffleCountBeforeAgg(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      // exchanges feeding the join (ignore the aggregate's own exchange)
      plan.linesIterator.count(l => l.contains("Exchange hashpartitioning")
        && (l.contains("orderkey")))
    }
    assert(shuffleCountBeforeAgg(plainJoin) >= 2,
      "unbucketed fact-fact join shuffles both sides")
    assert(shuffleCountBeforeAgg(bucketedJoin) == 0,
      "bucketed join must read co-located buckets with zero shuffle")

    // and the results agree
    val a = bucketedJoin.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = plainJoin.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)

    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
  }
}
