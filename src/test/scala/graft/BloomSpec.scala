package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bloom

class BloomSpec extends AnyFunSuite with SharedSpark {

  test("no false negatives: every inserted key probes true") {
    import spark.implicits._
    val keys = (0L until 5000L).map(_ * 37 + 11)
    val bloom = Bloom.build(keys.toDF("k"), "k", keys.size)
    val misses = keys.toDF("k")
      .filter(!Bloom.mightContainCol(bloom, col("k")))
      .count()
    assert(misses == 0, s"bloom dropped $misses inserted keys")
  }

  test("false-positive rate stays near the 1% design point") {
    import spark.implicits._
    val inserted = (0L until 5000L).toDF("k")
    val bloom = Bloom.build(inserted, "k", 5000L)
    // disjoint probe universe
    val probes = (1000000L until 1020000L).toDF("k")
    val fp = probes.filter(Bloom.mightContainCol(bloom, col("k"))).count()
    val rate = fp.toDouble / 20000
    assert(rate < 0.03, f"false-positive rate $rate%.4f above sanity bound")
  }

  test("semiJoin equals the exact left_semi join, including null keys " +
      "and false-positive removal") {
    import spark.implicits._
    val big = spark.range(0, 20000)
      .select(when(col("id") % 97 =!= 0, col("id") % 4096).as("k"),
        col("id").as("payload"))
    val small = spark.range(0, 4096)
      .filter(col("id") % 13 === 0)
      .select(when(col("id") % 91 =!= 0, col("id")).as("pk"))
    val got = Bloom.semiJoin(big, "k", small, "pk")
      .select("k", "payload").as[(Long, Long)].collect().toSet
    val want = big.join(small.withColumnRenamed("pk", "k").na.drop(),
        Seq("k"), "left_semi")
      .select("k", "payload").as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("semiJoin widens mismatched integral key types before hashing " +
      "(xxhash64 hashes int and long differently)") {
    import spark.implicits._
    val big = spark.range(0, 1000)
      .select(col("id").cast("int").as("k"), col("id").as("payload"))
    val small = spark.range(0, 1000).filter(col("id") % 10 === 0)
      .select(col("id").as("pk")) // LongType vs big's IntegerType
    val got = Bloom.semiJoin(big, "k", small, "pk").count()
    assert(got == 100, s"type-mismatched keys dropped true matches: $got")
  }

  test("semiJoin refuses un-widenable key type mismatches loudly") {
    import spark.implicits._
    val big = Seq(("1", 1L)).toDF("k", "payload")
    val small = Seq(1L).toDF("pk")
    val e = intercept[IllegalArgumentException] {
      Bloom.semiJoin(big, "k", small, "pk")
    }
    assert(e.getMessage.contains("key types must match"))
  }

  test("malformed filter bytes fail with a clear message, not an " +
      "arithmetic/index error") {
    Seq(Array.empty[Byte], Array[Byte](0, 0, 0, 0),
        Array[Byte](1, 2, 3, 4, 5)).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Bloom.mightContain(bad, 42L)
      }
      assert(e.getMessage.contains("not a graft bloom filter"))
    }
  }

  test("oversized expectedKeys fails loudly instead of wrapping to a " +
      "tiny filter") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Bloom.build(Seq(1L).toDF("k"), "k", 400L * 1000 * 1000)
    }
    assert(e.getMessage.contains("shard"))
  }

  test("membership probe compiles into WholeStageCodegen") {
    import spark.implicits._
    val bloom = Bloom.build((0L until 64L).toDF("k"), "k", 64L)
    val plan = spark.range(0, 100).select(col("id").as("k"))
      .filter(Bloom.mightContainCol(bloom, col("k")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into WholeStageCodegen stage n
    assert("""\*\(\d+\) Filter bloommightcontain""".r.findFirstIn(plan).isDefined,
      s"bloom probe fell out of codegen:\n$plan")
  }
}
