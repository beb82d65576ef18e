package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.checkpointMode` materialization tiers (ops.Materialize)
  * must be execution-equivalent: the iterative CC loops and the shingle
  * relation run the same fixpoint whatever tier cut their lineage. The
  * cluster tiers (persist, reliable) are exercised END-TO-END on q56 —
  * the full shingle → prefix-filter → connected-components pipeline —
  * against the default localCheckpoint tier's result.
  */
class MaterializeSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def q56InMode(mode: String): Seq[(Long, Long)] = {
    spark.conf.set("spark.graft.checkpointMode", mode)
    try graft.queries.ExpansionQueries.q56_dedup_groups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sortBy(_._1) // the labeling is unordered: compare in doc_id order
    finally spark.conf.unset("spark.graft.checkpointMode")
  }

  test("q56 runs end-to-end on the persist tier and matches localCheckpoint") {
    val local = q56InMode("local")
    assert(local.nonEmpty)
    assert(q56InMode("persist") === local)
  }

  test("q56 runs end-to-end on the reliable-checkpoint tier") {
    val dir = tempDir("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try assert(q56InMode("reliable") === q56InMode("local"))
    finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("reliable mode with no checkpointDir fails loudly — a driver-local " +
      "tmpdir fallback would silently void executor-loss tolerance") {
    spark.conf.set("spark.graft.checkpointMode", "reliable")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.ops.Materialize(spark.range(3).toDF())
      }
      assert(e.getMessage.contains("spark.graft.checkpointDir"))
    } finally spark.conf.unset("spark.graft.checkpointMode")
  }

  test("the unset-conf default tier follows the master: localCheckpoint " +
      "only where executors cannot be lost independently of the driver") {
    import graft.ops.Materialize.defaultMode
    assert(defaultMode("local") === "local")
    assert(defaultMode("local[4]") === "local")
    assert(defaultMode("local[*]") === "local")
    // local-cluster runs executors as SEPARATE processes — losable
    assert(defaultMode("local-cluster[2,1,1024]") === "persist")
    assert(defaultMode("spark://host:7077") === "persist")
    assert(defaultMode("yarn") === "persist")
    assert(defaultMode("k8s://https://host:443") === "persist")
  }

  test("an unknown checkpointMode fails loudly, not silently") {
    spark.conf.set("spark.graft.checkpointMode", "turbo")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.ops.Materialize(spark.range(3).toDF())
      }
      assert(e.getMessage.contains("checkpointMode"))
    } finally spark.conf.unset("spark.graft.checkpointMode")
  }

  test("pinned shared labeling survives releaseAll; readouts agree across " +
      "the serve -> releaseAll -> republish cycle") {
    import graft.ops.{Materialize, TextDedup}
    val docs = graft.queries.Tables.documents(spark, sf)
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
        .toMap

    // q56 shape: build + publish
    val first = labels(TextDedup.dedupClusterRelationPublish(
      docs, sf, "doc_id", "text", "lang", n = 3, threshold = 0.5))
    assert(first.nonEmpty)

    // the bench/verify cycle between queries must NOT drop the memo
    Materialize.releaseAll(spark)
    val served = labels(TextDedup.dedupClusterRelationShared(
      docs, sf, "doc_id", "text", "lang", n = 3, threshold = 0.5))
    assert(served === first)

    // a republish replaces the generation (old blocks released, no leak)
    // and later serves read the NEW one
    val second = labels(TextDedup.dedupClusterRelationPublish(
      docs, sf, "doc_id", "text", "lang", n = 3, threshold = 0.5))
    Materialize.releaseAll(spark)
    val servedAgain = labels(TextDedup.dedupClusterRelationShared(
      docs, sf, "doc_id", "text", "lang", n = 3, threshold = 0.5))
    assert(second === first && servedAgain === first)
  }

  test("a Shared memo builds once per serve, always on publish, releases " +
      "the generation a republish replaces, and keeps the current one " +
      "readable through releaseAll") {
    import graft.ops.Materialize
    import org.apache.spark.sql.execution.LogicalRDD
    def rddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collectLeaves().collect {
        case l: LogicalRDD => l.rdd.id
      }
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq.sorted

    withConf("spark.graft.checkpointMode" -> "local") {
      var builds = 0
      // each generation has its own row count, so a read names it
      val memo = new Materialize.Shared[String](_ => {
        builds += 1
        Materialize(spark.range(10L * builds).toDF())
      })

      val first = memo.serve("k")
      assert(memo.serve("k") eq first)
      assert(builds === 1)
      assert(rows(first) === (0L until 10L))
      val firstIds = rddIds(first)
      assert(firstIds.nonEmpty && firstIds.forall(persisted))

      val second = memo.publish("k")
      assert(builds === 2)
      assert(memo.serve("k") eq second)
      assert(builds === 2)
      assert(rows(memo.serve("k")) === (0L until 20L))
      // the replaced generation's blocks are released, not leaked
      assert(firstIds.forall(id => !persisted(id)))

      assert(memo.publish("k") ne second)
      assert(builds === 3)

      // localCheckpoint blocks cannot be recomputed: the current
      // generation reads after releaseAll only because it is pinned
      Materialize.releaseAll(spark)
      val current = memo.serve("k")
      assert(rddIds(current).forall(persisted))
      assert(rows(current) === (0L until 30L))
      assert(builds === 3)
    }
  }
}
