package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** q101's duplicated-substring span semantics, pinned against a
  * driver-side single-pass reference on adversarial corpora the oracle
  * corpus can't cover: exact whole-doc copies, spans that touch
  * end-to-end (adjacency merging), docs shorter than the window, and
  * within-doc repetition (a window occurring twice in ONE doc is a
  * corpus-level duplicate too).
  */
class DupSpanSpec extends AnyFunSuite with SharedSpark {

  private val K = 5

  private def forAll[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(4242L + i)).foreach(body)
    }

  /** Tiny token alphabet so k-windows collide often; some docs are exact
    * copies of earlier ones, some are shorter than the window.
    */
  private val genCorpus: Gen[List[(Long, String)]] = for {
    n <- Gen.chooseNum(2, 25)
    texts <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.chooseNum(0, 14).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))),
      1 -> Gen.const(""))) // empty doc: 0 windows, 0 spans
  } yield {
    val withCopies = texts.zipWithIndex.map { case (t, i) =>
      if (i > 0 && i % 4 == 0) texts(i - 1) else t // force exact copies
    }
    withCopies.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  /** The definition, single-pass: mark every position whose k-window
    * occurs >= 2 times corpus-wide, merge overlapping/adjacent marks.
    */
  private def refSpans(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val occs = for {
      (id, ts) <- toks
      if ts.size >= K
      i <- 0 to ts.size - K
    } yield (id, i + 1L, ts.slice(i, i + K).mkString(" "))
    val dupKeys = occs.groupBy(_._3).filter(_._2.size >= 2).keySet
    toks.map { case (id, _) =>
      val ps = occs.filter(o => o._1 == id && dupKeys(o._3)).map(_._2).sorted
      var spans = 0L; var dup = 0L
      var curS = -1L; var curE = -2L
      ps.foreach { p =>
        if (p > curE + 1) {
          if (curS >= 0) { spans += 1; dup += curE - curS + 1 }
          curS = p; curE = p + K - 1
        } else curE = math.max(curE, p + K - 1)
      }
      if (curS >= 0) { spans += 1; dup += curE - curS + 1 }
      id -> (spans, dup)
    }.toMap
  }

  /** Reference removal: drop every position covered by a duplicated
    * window, keep the rest in order.
    */
  private def refClean(docs: Seq[(Long, String)]): Map[Long, String] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val occs = for {
      (id, ts) <- toks
      if ts.size >= K
      i <- 0 to ts.size - K
    } yield (id, i + 1, ts.slice(i, i + K).mkString(" "))
    val dupKeys = occs.groupBy(_._3).filter(_._2.size >= 2).keySet
    toks.map { case (id, ts) =>
      val covered = occs
        .filter(o => o._1 == id && dupKeys(o._3))
        .flatMap(o => o._2 to o._2 + K - 1).toSet
      id -> ts.zipWithIndex.collect {
        case (tok, i) if !covered(i + 1) => tok
      }.mkString(" ")
    }.toMap
  }

  test("property: q102 removal matches the reference, and q101 + q102 " +
      "tile every doc (dup + kept = total tokens)") {
    import spark.implicits._
    forAll(genCorpus) { docs =>
      val dir = tempDir("dupclean").toString
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val audit = graft.queries.MixQueries.q101_dup_spans(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
      val removed = graft.queries.MixQueries.q102_dup_span_removal(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
      val want = refClean(docs)
      docs.foreach { case (id, text) =>
        val (kept, clean) = removed(id)
        assert(clean === want(id), s"doc $id cleaned text diverged")
        assert(kept === want(id).split("\\s+").count(_.nonEmpty))
        // the audit's duplicated tokens and the removal's kept tokens
        // must tile the doc exactly (every token is non-empty here)
        if (text.trim.nonEmpty) {
          val (nToks, dupToks) = audit(id)
          assert(dupToks + kept === nToks,
            s"doc $id: dup $dupToks + kept $kept != total $nToks")
        }
      }
    }
  }

  test("q102: a null-text doc keeps no tokens and cleans to the empty " +
      "string") {
    import spark.implicits._
    val dir = tempDir("dupspannull").toString
    Seq((1L, Option("a b c d e f")), (2L, Option.empty[String]),
        (3L, Option("a b c d e f g")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val removed = graft.queries.MixQueries.q102_dup_span_removal(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.get(2), r.get(3))).toMap
    assert(removed(2L) === ((0L, "")))
    // the duplicated 5-window "a b c d e" (and "b c d e f") is excised
    assert(removed(3L) === ((1L, "g")))
  }

  test("property: q106 incremental audit == q101 full recompute on " +
      "corpora with copies crossing the batch boundary") {
    import spark.implicits._
    forAll(genCorpus) { docs =>
      val dir = tempDir("dupspaninc").toString
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // exact copies every 4th doc + batch = ids % 20 == 0 → duplicate
      // keys regularly straddle the standing/new boundary, exercising
      // the crossed-threshold (standing count 1 + batch occurrence) and
      // touched-doc recompute paths
      // both results are unordered: compare them in doc_id order
      val full = graft.queries.MixQueries.q101_dup_spans(spark, dir)
        .collect().sortBy(_.getLong(0)).map(_.toSeq)
      val inc = graft.queries.MixQueries
        .q106_incremental_dup_spans(spark, dir)
        .collect().sortBy(_.getLong(0)).map(_.toSeq)
      assert(inc === full, "incremental span audit diverged from batch")
    }
  }

  test("property: q111 decontamination removes exactly the eval-covered " +
      "positions, and no eval window survives in the cleaned text") {
    import spark.implicits._
    forAll(genCorpus) { docs =>
      val dir = tempDir("decontam").toString
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val toks = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      }
      def windows(ts: Seq[String]): Seq[(Int, String)] =
        if (ts.size < K) Nil
        else (0 to ts.size - K).map(i => (i + 1, ts.slice(i, i + K).mkString(" ")))
      val evalWindows = toks.filter(_._1 % 20 == 0)
        .flatMap(d => windows(d._2).map(_._2)).toSet
      // reference removal against the eval universe
      val want = toks.filter(_._1 % 20 != 0).map { case (id, ts) =>
        val covered = windows(ts).filter(w => evalWindows(w._2))
          .flatMap(w => w._1 to w._1 + K - 1).toSet
        id -> ts.zipWithIndex.collect {
          case (tok, i) if !covered(i + 1) => tok
        }.mkString(" ")
      }.toMap
      val got = graft.queries.MixQueries.q111_decontam_removal(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(got.keySet === want.keySet, "train doc set diverged")
      got.foreach { case (id, clean) =>
        assert(clean === want(id), s"doc $id cleaned text diverged")
      }
      // the decontamination guarantee: ORIGINAL positions carrying an
      // eval window are gone — train survivors never retain a position
      // covered by any eval k-window (checked by the reference equality
      // above; this asserts the direct consequence on a sample doc)
      toks.filter(_._1 % 20 != 0).foreach { case (id, ts) =>
        val coveredCount = windows(ts).filter(w => evalWindows(w._2))
          .flatMap(w => w._1 to w._1 + K - 1).toSet.size
        val keptCount = got(id).split("\\s+").count(_.nonEmpty)
        assert(keptCount === ts.size - coveredCount,
          s"doc $id kept $keptCount of ${ts.size} with $coveredCount covered")
      }
    }
  }

  test("property: q101 span counts match the single-pass reference on " +
      "corpora with copies, adjacency, and sub-window docs") {
    import spark.implicits._
    forAll(genCorpus) { docs =>
      val dir = tempDir("dupspan").toString
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.MixQueries.q101_dup_spans(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(1)))
        .toMap
      val want = refSpans(docs)
      assert(got.keySet === docs.map(_._1).toSet, "every doc must appear")
      docs.foreach { case (id, _) =>
        val (spans, dupToks, ppm, nToks) = got(id)
        assert((spans, dupToks) === want(id),
          s"doc $id: got ($spans,$dupToks), reference ${want(id)}")
        assert(ppm === 1000000L * dupToks / math.max(nToks, 1L),
          s"doc $id: ppm arithmetic drifted")
        assert(dupToks <= nToks)
      }
    }
  }
}
