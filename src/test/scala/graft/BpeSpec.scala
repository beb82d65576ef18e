package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

/** Property tests for BPE merge learning: the distributed implementation
  * is pinned against an independent in-JVM reference (textbook Sennrich
  * BPE over a word dict: count adjacent pairs, merge the (count DESC,
  * pair ASC) winner left-to-right non-overlapping), and segmenting with
  * a longer merge prefix must strictly shrink the corpus symbol count
  * while merges keep landing. Raw ScalaCheck generators with fixed seeds
  * (scalatest bridge not in the offline cache).
  */
class BpeSpec extends AnyFunSuite with SharedSpark {

  private def forAll[A](gen: Gen[A], n: Int = 6)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(4242L + i)).foreach(body)
    }

  /** Small-alphabet word dicts: repetitious enough that merges cascade
    * (merged symbols win later rounds — the multi-char-symbol paths).
    */
  private val genDict: Gen[Map[String, Long]] = for {
    n <- Gen.chooseNum(1, 25)
    words <- Gen.listOfN(n, for {
      len <- Gen.chooseNum(1, 7)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      cnt <- Gen.chooseNum(1L, 9L)
    } yield (cs.mkString, cnt))
  } yield words.groupMapReduce(_._1)(_._2)(_ + _)

  /** The definition: textbook BPE on a weighted word dict. */
  private def refBpe(dict: Map[String, Long],
      numMerges: Int): Seq[(Long, String, String, Long)] = {
    var state: Map[List[String], Long] = dict.map { case (w, c) =>
      w.toList.map(_.toString) -> c
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }
        out += ((r.toLong, a, b, n))
        def merge(l: List[String]): List[String] = l match {
          case x :: y :: rest if x == a && y == b => (a + b) :: merge(rest)
          case x :: rest => x :: merge(rest)
          case Nil => Nil
        }
        state = state.toSeq.map { case (syms, c) => (merge(syms), c) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        r += 1
      }
    }
    out.toSeq
  }

  test("property: learnMerges replays the textbook merge sequence exactly " +
      "(counts, pairs, ranks) on adversarial dicts") {
    import spark.implicits._
    forAll(genDict) { dict =>
      val df = dict.toSeq.toDF("word", "cnt")
      val got = Bpe.learnMerges(df, "word", "cnt", 5)
        .orderBy("merge_rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(got === refBpe(dict, 5),
        s"merge table diverged from the reference on dict $dict")
    }
  }

  test("property: segmenting with k+1 merges strictly shrinks the total " +
      "symbol count while merges keep landing, and 0 merges = chars") {
    import spark.implicits._
    forAll(genDict, n = 3) { dict =>
      val df = dict.toSeq.toDF("word", "cnt")
      val merges = Bpe.learnMerges(df, "word", "cnt", 5)
      val learned = merges.count().toInt
      val totals = (0 to learned).map { k =>
        Bpe.segment(df, "word", merges.filter(col("merge_rank") <= k))
          .join(df, "word")
          .agg(sum(col("n_symbols") * col("cnt"))).head().getLong(0)
      }
      assert(totals.head === dict.map { case (w, c) => w.length * c }.sum,
        "0-merge segmentation must be plain characters")
      totals.sliding(2).foreach {
        case Seq(prev, next) =>
          assert(next < prev,
            s"merge did not shrink the corpus: $totals on dict $dict")
        case _ => () // 0 learned merges: nothing to compare
      }
    }
  }
}
