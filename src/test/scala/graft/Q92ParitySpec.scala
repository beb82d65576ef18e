package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CurationQueries

/** q92 (per-source window) and q98 (k-bounded TopKByScore aggregate) are
  * the SAME quota selection — q98 is the skew-proof at-scale plan. Both
  * share one DuckDB oracle in Verify; this spec pins the equivalence
  * property-style on adversarial corpora the driver corpus can't cover:
  * sources with fewer / exactly / more docs than the quota, a dominant
  * skewed source, and singleton sources — so the scale path stays
  * swappable with zero parity risk.
  */
class Q92ParitySpec extends AnyFunSuite with SharedSpark {

  private def forAll[A](gen: Gen[A], n: Int = 6)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(777L + i)).foreach(body)
    }

  /** Corpora with per-source sizes straddling the k=30 quota: some below,
    * one exactly at it, one heavily dominant (the skew case q98 exists for).
    */
  private val genCorpus: Gen[List[(Long, String)]] = for {
    small <- Gen.chooseNum(1, 29)
    big <- Gen.chooseNum(31, 200)
    ids <- Gen.const(())
  } yield {
    val sizes = Seq("tiny" -> 1, "small" -> small, "exact" -> 30, "big" -> big)
    var id = 0L
    sizes.flatMap { case (src, n) =>
      (0 until n).map { _ => id += 1; (id, src) }
    }.toList
  }

  test("property: window variant (q92) == aggregate variant (q98) on " +
      "corpora straddling the quota") {
    import spark.implicits._
    forAll(genCorpus) { rows =>
      val dir = tempDir("q92par").toString
      rows.toDF("doc_id", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val win = CurationQueries.q92_source_quota(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val agg = CurationQueries.q98_source_quota_agg(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(win.nonEmpty)
      // both selections are unordered: compare them in doc_id order
      assert(agg.toSeq.sortBy(_._1) === win.toSeq.sortBy(_._1),
        "aggregate quota selection diverged from the window selection")
      // and the quota actually binds: no source exceeds 30 picks
      assert(win.groupBy(_._2).values.forall(_.length <= 30))
      assert(win.count(_._2 == "exact") === 30)
      assert(win.count(_._2 == "tiny") === 1)
    }
  }
}
