package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Components

/** Components.mergeIncremental's contract — folding a batch's edges into
  * standing labels through the quotient graph equals a full recompute —
  * pinned on random graphs: chains that thread through both old and new
  * nodes, components merged BY the batch (two standing components joined
  * via a new node), isolated nodes, and batch-internal clusters.
  */
class IncrementalCCSpec extends AnyFunSuite with SharedSpark {

  private def forAll[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(909L + i)).foreach(body)
    }

  /** n nodes (ids 0..n-1), random sparse edges; nodes with id % 5 == 0
    * form the "new batch".
    */
  private val genGraph: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.chooseNum(5, 40)
    m <- Gen.chooseNum(0, 60)
    edges <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(0L, n - 1L)
      b <- Gen.chooseNum(0L, n - 1L)
    } yield (math.min(a, b), math.max(a, b)))
  } yield (n, edges.filter(e => e._1 != e._2))

  test("property: mergeIncremental == full CC on random graphs") {
    import spark.implicits._
    forAll(genGraph) { case (n, edges) =>
      val isNew = (id: Long) => id % 5 == 0
      val all = (0L until n.toLong).toDF("id")
      val newNodes = all.filter($"id" % 5 === 0)
      val standingNodes = all.filter($"id" % 5 =!= 0)
      val edgesDf = edges.toDF("id_a", "id_b")
      val standingEdges = edgesDf
        .filter($"id_a" % 5 =!= 0 && $"id_b" % 5 =!= 0)
      val batchEdges = edgesDf
        .filter($"id_a" % 5 === 0 || $"id_b" % 5 === 0)

      val standing = Components.connectedComponents(standingNodes, standingEdges)
      val incremental = Components
        .mergeIncremental(standing, newNodes, batchEdges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val full = Components.connectedComponents(all, edgesDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(incremental === full,
        s"incremental merge diverged from full recompute " +
          s"(n=$n, edges=$edges, new=${(0L until n.toLong).filter(isNew)})")

      // the DELTA form carries exactly the changed rows: min-folding the
      // standing labels with the delta (the stored-state read path —
      // CorpusBuild.readState) reconstructs the full merge, and every
      // delta row genuinely differs from the standing label it shadows
      val delta = Components
        .mergeIncrementalDelta(standing, newNodes, batchEdges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val standingMap = standing.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      delta.foreach { case (id, c) =>
        assert(!standingMap.get(id).contains(c),
          s"delta carries an unchanged row ($id,$c)")
        standingMap.get(id).foreach(old => assert(c < old,
          s"label must only decrease: $id went $old -> $c"))
      }
      val folded = (standingMap.toSeq ++ delta)
        .groupMapReduce(_._1)((kv: (Long, Long)) => kv._2)(math.min)
        .toSeq.sortBy(_._1)
      assert(folded === full,
        s"min-fold of standing + delta diverged (n=$n, edges=$edges)")
    }
  }
}
