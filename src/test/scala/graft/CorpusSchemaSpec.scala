package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables

/** Pins the POST-READER schema of every real corpus table (TESTDATA.md).
  *
  * Round 7's only regression escaped `sbt test` because every spec built
  * synthetic DataFrames: Spark 4.1.2 changed how the events table's parquet
  * timestamps scan (TIMESTAMP_NTZ instead of the legacy nanos-as-long), the
  * reader threw on real files only, and 10 driver queries crashed while the
  * suite stayed green. This spec closes that hole: any corpus or Spark
  * scan-behavior change that alters what queries actually see turns the
  * suite red here first.
  */
class CorpusSchemaSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def fields(name: String,
      df: org.apache.spark.sql.DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  test("events reads with ts as a session-zoned TimestampType and 2024 instants") {
    val ev = Tables.events(spark, sf)
    assert(fields("events", ev) === Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
    // the instant, not just the type: a mis-scaled reader (µs reinterpreted
    // as ns, or a double division) lands decades away from the corpus epoch
    val (lo, hi) = ev.agg(
        org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts"))
      .collect()(0) match { case r => (r.getTimestamp(0), r.getTimestamp(1)) }
    val y2020 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val y2030 = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    assert(lo.after(y2020) && hi.before(y2030),
      s"events.ts range [$lo, $hi] is outside the plausible corpus epoch — " +
        "the reader is mis-scaling the parquet timestamp")
  }

  test("lineitem/orders read with their driver-written types") {
    assert(fields("lineitem", Tables.lineitem(spark, sf)) === Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))
    assert(fields("orders", Tables.orders(spark, sf)) === Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType))
  }

  test("dimension tables read with their driver-written types") {
    assert(fields("customer", Tables.customer(spark, sf)) === Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assert(fields("supplier", Tables.supplier(spark, sf)) === Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(fields("part", Tables.part(spark, sf)) === Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
    assert(fields("nation", Tables.nation(spark, sf)) === Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assert(fields("region", Tables.region(spark, sf)) === Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType))
  }

  test("documents/embeddings read with their driver-written types") {
    assert(fields("documents", Tables.documents(spark, sf)) === Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assert(fields("embeddings", Tables.embeddings(spark, sf)) === Seq(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))
  }

  test("the streaming events reader agrees with the batch reader's schema") {
    val batch = Tables.events(spark, sf).schema
    val stream = graft.streaming.EventStream.readEventStream(spark, sf).schema
    assert(stream === batch,
      "stream/batch divergence here means windowed results silently shift")
  }
}
