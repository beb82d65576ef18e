package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Clustering

/** Lloyd's over DataFrames: planted well-separated clusters must be
  * recovered exactly, the fused-assignment gate must hold on consistent
  * output and fire on a poisoned centroid set, and empty clusters must
  * survive a round (keep their previous centroid, not NaN out).
  */
class ClusteringSpec extends AnyFunSuite with SharedSpark {

  /** 3 planted centers in R^8, 40 points each, noise far below the
    * center separation — a clustering that misses these is wrong, not
    * unlucky. All arithmetic is id-derived (no RNG).
    */
  private def planted() = {
    import spark.implicits._
    val centers = Seq(
      Array(10.0, 0, 0, 0, 0, 0, 0, 0),
      Array(0.0, 10, 0, 0, 0, 0, 0, 0),
      Array(0.0, 0, 10, 0, 0, 0, 0, 0))
    (0L until 120L).map { id =>
      val c = centers((id % 3).toInt)
      val noise = 0.01 * ((id % 7).toDouble / 7.0)
      (id, c.map(_ + noise).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("planted well-separated clusters are recovered exactly") {
    val (assigned, cents) = Clustering.kMeans(
      planted(), "vec_id", "embedding", k = 3, iters = 5)
    assert(cents.length == 3)
    val byPlant = assigned.collect()
      .map(r => (r.getLong(0) % 3, r.getInt(1)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    // each planted group lands in exactly one cluster…
    byPlant.foreach { case (p, cs) =>
      assert(cs.size == 1, s"planted group $p split across clusters $cs")
    }
    // …and the three groups land in three DISTINCT clusters
    assert(byPlant.values.flatten.toSet.size == 3,
      s"planted groups merged: $byPlant")
  }

  test("assignment gate: empty on consistent output, fires on a " +
      "poisoned centroid set") {
    val vecs = planted()
    val (assigned, cents) = Clustering.kMeans(
      vecs, "vec_id", "embedding", k = 3, iters = 5)
    assert(Clustering.assignmentGate(assigned, vecs, "vec_id",
      "embedding", cents).isEmpty, "gate fired on consistent assignments")
    // swap two centroids WITHOUT re-assigning: every affected vector's
    // emitted cluster now points at the wrong centroid
    val poisoned = Seq(cents(1), cents(0), cents(2))
    assert(!Clustering.assignmentGate(assigned, vecs, "vec_id",
      "embedding", poisoned).isEmpty,
      "gate must fire when assignments no longer minimize distance")
  }

  test("ivfTopKFromModel: search under a hand-built stored model finds " +
      "every planted twin, and scores are exact cosines") {
    import spark.implicits._
    // planted twins: ids 2i and 2i+1 share a base direction in R^8 far
    // from every other pair's, so each point's true top-1 is its twin
    val pts = (0L until 60L).map { id =>
      val pair = (id / 2).toInt
      val base = Array.tabulate(8)(j => if (j == pair % 8) 10.0 else
        0.3 * ((pair / 8 + j) % 5))
      val jitter = if (id % 2 == 0) 0.0 else 0.01
      (id, base.map(_ + jitter).toSeq)
    }
    val corpus = pts.toDF("id", "v")
    val (assignedDf, cents) = Clustering.kMeans(
      corpus, "id", "v", k = 4, iters = 5)
    val assignments = assignedDf.select(col("id"), col("cluster"))
    val top1 = graft.ops.Similarity.ivfTopKFromModel(
        corpus, "id", "v", assignments, cents, k = 1, nProbe = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    pts.foreach { case (id, _) =>
      val twin = if (id % 2 == 0) id + 1 else id - 1
      assert(top1(id)._1 === twin,
        s"query $id found ${top1(id)} instead of twin $twin")
      assert(top1(id)._2 > 0.999,
        s"twin cosine ${top1(id)._2} not ~1 for $id")
    }
  }

  test("ivfTopKFromModel probes by the stored Euclidean rule: a " +
      "large-norm centroid cannot hijack probes at nProbe=1") {
    import spark.implicits._
    // Cluster A: large-norm points near (10, 0); cluster B: near (4, 4).
    // For any B point v: v·cA ≈ 40 > v·cB ≈ 32, so a raw max-dot probe
    // ranking would probe A's inverted list FIRST and, at nProbe=1,
    // never see v's own list — missing its planted twin entirely. The
    // affine rule v·c − ‖c‖²/2 (≡ Euclidean argmin, the metric the
    // stored assignments were built with) probes B. Twins 2i/2i+1 are
    // planted in both clusters; nProbe=1 must find every twin.
    val pts = (0L until 20L).map { id =>
      val pair = (id / 2).toInt
      val jit = 0.01 * (pair % 5 + 1) + (if (id % 2 == 1) 0.001 else 0.0)
      if (id >= 10) (id, Seq(4.0 + jit, 4.0 - jit))
      else (id, Seq(10.0 + jit, jit))
    }
    val corpus = pts.toDF("id", "v")
    val (assignedDf, cents) = Clustering.kMeans(
      corpus, "id", "v", k = 2, iters = 6)
    // sanity: the two planted clusters really landed in separate lists
    // with the expected norm gap, otherwise the test proves nothing
    val byCluster = assignedDf.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byCluster.filter(_._1 < 10).values.toSet.size == 1)
    assert(byCluster.filter(_._1 >= 10).values.toSet.size == 1)
    assert(byCluster(0L) != byCluster(10L), "planted clusters merged")
    val top1 = graft.ops.Similarity.ivfTopKFromModel(
        corpus, "id", "v", assignedDf.select(col("id"), col("cluster")),
        cents, k = 1, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pts.foreach { case (id, _) =>
      val twin = if (id % 2 == 0) id + 1 else id - 1
      assert(top1.get(id).contains(twin),
        s"query $id found ${top1.get(id)} instead of twin $twin — " +
          "probe ranking is not metric-consistent with stored assignment")
    }
  }

  test("q167 recall curve over the stored model: recall is monotone in " +
      "nProbe, exact at nProbe = nClusters, and every claim clears the " +
      "q168 rescoring gate") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.ExtensionQueries
      .q167_ivf_recall_curve(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val probes = Seq(1L, 2L, 4L, 8L)
    assert(rows.keySet === probes.toSet, s"curve rows: $rows")
    probes.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(a) <= rows(b),
        s"recall decreased from nProbe=$a to nProbe=$b: $rows")
    }
    // nProbe = nClusters probes every inverted list: the candidate set
    // is the whole corpus (minus self), so recall is exactly 1
    assert(rows(8L) === 1000000L,
      s"nProbe = nClusters must reproduce the exact tier: $rows")
    assert(graft.queries.ExtensionQueries
      .q168_ivf_recall_gate(spark, sf).collect().isEmpty,
      "a curve claim failed the independent cosine recompute")
    // the one-pass curve is per-width IDENTICAL to the per-width search
    val dir = graft.queries.TokenizerQueries.ensurePostingState(spark, sf)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(r.get).toSeq).toSet
    assert(asSet(graft.pipeline.CorpusBuild.stateIvfCurve(spark, dir)
        .filter(org.apache.spark.sql.functions.col("nprobe") === 2L)
        .drop("nprobe"))
      === asSet(graft.pipeline.CorpusBuild.stateIvfTopK(
        spark, dir, k = 1, nProbe = 2)),
      "curve slice at width 2 diverged from the direct nProbe=2 search")
  }

  test("k exceeding distinct points: empty clusters keep their previous " +
      "centroid and every point still assigns") {
    import spark.implicits._
    val two = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val (assigned, cents) = Clustering.kMeans(
      two, "vec_id", "embedding", k = 3, iters = 4)
    assert(cents.length == 3)
    assert(cents.forall(_.forall(x => !x.isNaN)), "NaN centroid leaked")
    assert(assigned.count() == 4)
    assert(Clustering.assignmentGate(assigned, two, "vec_id",
      "embedding", cents).isEmpty)
  }
}
