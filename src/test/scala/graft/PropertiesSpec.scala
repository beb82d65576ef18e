package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedupe, Impute, Ledger}
import graft.pipeline.JobsPipeline
import graft.schema.Schemas.RawScrapedUrl

/** Property tests (SURVEY §5.4): idempotency, imputation interval
  * semantics, dedup bounds — over generated sighting batches. Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest-scalacheck bridge
  * is not in the offline dependency cache), so failures are reproducible.
  */
class PropertiesSpec extends AnyFunSuite with SharedSpark {

  /** Run `body` over `n` deterministic samples of `gen`. */
  private def forAll[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val genRow: Gen[RawScrapedUrl] = for {
    kw <- Gen.oneOf("data scientist", "data engineer", "analyst")
    job <- Gen.chooseNum(1, 12).map(i => s"J$i")
    lo <- Gen.oneOf(11000, 15000, 20000, 30000)
    hi <- Gen.oneOf(15000, 20000, 30000, 50000)
  } yield RawScrapedUrl(kw, job, Some(lo), Some(hi),
    Date.valueOf("2022-10-08"), s"/hk/en/job-$job")

  private val genBatch: Gen[List[RawScrapedUrl]] =
    Gen.nonEmptyListOf(genRow).map(_.take(40))

  test("property: ingest is idempotent (ingest(b ++ b) == ingest(b))") {
    import spark.implicits._
    forAll(genBatch) { rows =>
      val once = JobsPipeline.ingest(Seq(rows.toDF())).collect().toSet
      val twice = JobsPipeline.ingest(Seq(rows.toDF(), rows.toDF())).collect().toSet
      assert(twice == once)
    }
  }

  test("property: imputed interval = [min of bands seen, max of bands seen]") {
    import spark.implicits._
    forAll(genBatch) { rows =>
      val got = JobsPipeline.imputeSalaries(rows.toDF())
        .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
      val expected = rows.groupBy(_.job_id).map { case (j, rs) =>
        j -> (rs.flatMap(_.salary_min).min, rs.flatMap(_.salary_max).max)
      }
      assert(got == expected)
    }
  }

  test("property: dedup output <= input rows and covers every key exactly once") {
    import spark.implicits._
    forAll(genBatch) { rows =>
      val df = rows.toDF()
      val deduped = Dedupe.arbitraryRowPerKey(df, Seq("job_id")).collect()
      assert(deduped.length <= rows.length)
      assert(deduped.map(_.getString(1)).toSet == rows.map(_.job_id).toSet)
      assert(deduped.map(_.getString(1)).distinct.length == deduped.length)
    }
  }

  test("property: newRowsOnly(a, a) is empty; upsert never loses keys") {
    import spark.implicits._
    forAll(genBatch) { rows =>
      val df = rows.toDF()
      assert(Ledger.newRowsOnly(df, df, Seq("job_id")).isEmpty)
      val half = rows.take(rows.length / 2)
      val merged = Ledger.upsertPreferExisting(half.toDF(), df, Seq("job_id"))
      assert(merged.select("job_id").collect().map(_.getString(0)).toSet ==
        rows.map(_.job_id).toSet)
    }
  }

  test("property: merge-update only fills all-null rows; others byte-identical") {
    import spark.implicits._
    val genTarget = Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(1, 20).map(i => s"J$i")
      lo <- Gen.option(Gen.chooseNum(1, 100))
      hi <- Gen.option(Gen.chooseNum(1, 100))
    } yield (id, lo, hi)).map(_.distinctBy(_._1).take(20))
    forAll(genTarget) { t =>
      val target = t.toDF("job_id", "min_salary", "max_salary")
      val updates = t.map { case (id, _, _) => (id, 777, 888) }
        .toDF("job_id", "min_salary", "max_salary")
      val out = Impute.mergeUpdateWhenAllNull(target, updates, "job_id",
        Seq("min_salary", "max_salary"))
        .collect().map(r => r.getString(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Int]),
           Option(r.get(2)).map(_.asInstanceOf[Int]))).toMap
      t.foreach { case (id, lo, hi) =>
        if (lo.isEmpty && hi.isEmpty) assert(out(id) == (Some(777), Some(888)))
        else assert(out(id) == (lo, hi))
      }
    }
  }

  test("foldSessions: any micro-batch split yields the same sessions as one batch") {
    import graft.streaming.EventStream
    val genTimes: Gen[List[Long]] = for {
      n <- Gen.chooseNum(0, 40)
      ts <- Gen.listOfN(n, Gen.chooseNum(0L, 100L).map(_ * 60000L))
    } yield ts
    val gapMs = 5 * 60000L
    forAll(genTimes, n = 40) { raw =>
      val times = raw.sorted
      val (closedAll, openAll) = EventStream.foldSessions(None, times, gapMs)
      val oneShot = closedAll ++ openAll
      // invariants of the single-batch fold
      assert(oneShot.map(_.nEvents).sum === times.length)
      oneShot.sliding(2).foreach {
        case Seq(a, b) => assert(b.start - a.last > gapMs,
          s"adjacent sessions must be separated by > gap: $a, $b")
        case _ =>
      }
      oneShot.foreach(s => assert(s.start <= s.last))
      // split the (sorted) stream at every point: folding batch 2 seeded
      // with batch 1's open session must reproduce the one-shot sessions —
      // the exact contract the streaming GroupState path relies on
      (0 to times.length).foreach { cut =>
        val (c1, o1) = EventStream.foldSessions(None, times.take(cut), gapMs)
        val (c2, o2) = EventStream.foldSessions(o1, times.drop(cut), gapMs)
        assert((c1 ++ c2 ++ o2) === oneShot, s"split at $cut diverged")
      }
    }
  }

  test("MiniHtml.parse never throws and survives malformed markup") {
    import graft.html.MiniHtml
    val genHtml: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.oneOf("<div>", "</div>", "<p class='x'>", "</p>", "<script>",
        "</script>", "<!-- c -->", "<br/>", "<td", ">", "&amp;", "&#65;",
        "&bogus;", "<![CDATA[x]]>", "<a href=\"y>z\">", "</bogus>"),
      Gen.alphaNumStr.map(_.take(8)))).map(_.mkString(" "))
    forAll(genHtml, n = 60) { html =>
      val root = MiniHtml.parse(html) // must not throw
      assert(root != null)
    }
    // targeted malformed cases beyond the generator
    Seq("", "<", "<<<>>>", "<script>never closed", "<div", "&#xZZ;",
      "<a b=c d='e' f=\"g\">h</a>", "<p><b>i</p></b>", " <x> ")
      .foreach(h => assert(MiniHtml.parse(h) != null))
  }

  test("fragment merge equals the sorted session fold on any event-time multiset") {
    import graft.streaming.EventStream
    val genTimes: Gen[List[Long]] =
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 5000L)).map(_.take(60))
    forAll(genTimes, n = 50) { times =>
      val gap = 100L
      val frags = EventStream.mergeFragments(
        times.map(t => EventStream.SessionState(t, t, 1)), gap)
      val (closed, open) = EventStream.foldSessions(None, times.sorted, gap)
      assert(frags == closed ++ open,
        s"fragment merge and linear fold disagree on $times")
    }
  }

  test("alternating CC equals min-label CC on random graphs") {
    import spark.implicits._
    import graft.ops.Components
    val genEdges: Gen[List[(Long, Long)]] = Gen.listOf(
      for (a <- Gen.chooseNum(0L, 11L); b <- Gen.chooseNum(0L, 11L) if a != b)
        yield (math.min(a, b), math.max(a, b))).map(_.take(14))
    val nodes = (0L to 11L).toDF("id")
    forAll(genEdges, n = 6) { edges =>
      val e = edges.toDF("id_a", "id_b")
      val a = Components.connectedComponents(nodes, e)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = Components.connectedComponentsAlternating(nodes, e)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, s"CC variants disagree on edges $edges")
    }
  }

  test("SortedOverlapCount equals array_intersect size on random sorted sets") {
    import spark.implicits._
    val genSet: Gen[Seq[String]] = Gen.listOf(
      Gen.oneOf("a", "b", "cc", "d", "ee", "f", "gg", "h", "ii", "jj",
        "k", "zz", "", "é", "0"))
      .map(_.distinct.take(12))
    val genPair: Gen[(Seq[String], Seq[String])] =
      for (a <- genSet; b <- genSet) yield (a, b)
    forAll(genPair, n = 40) { case (a, b) =>
      val df = Seq((a, b)).toDF("a0", "b0")
        // sort with sort_array — the SAME (UTF8String binary) order the
        // kernel's merge assumes, not Scala's UTF-16 String ordering
        .select(sort_array(col("a0")).as("a"), sort_array(col("b0")).as("b"))
        .select(
          graft.functions.SketchExpressions
            .sortedOverlapCount(col("a"), col("b")).as("merge"),
          size(array_intersect(col("a"), col("b"))).as("builtin"))
      val r = df.head()
      assert(r.getInt(0) == r.getInt(1),
        s"kernel/builtin intersection mismatch for a=$a b=$b")
    }
  }

  test("two-level globalRank equals the unpartitioned row_number on " +
      "random dicts at any shard count") {
    import spark.implicits._
    // duplicates on the rank key (same n, distinct token) + skew are the
    // interesting cases: boundary draws must never change base+local
    val genDict: Gen[List[(String, Long)]] = Gen.listOfN(60,
      for {
        t <- Gen.oneOf((('a' to 'z') ++ ('0' to '9')).map(_.toString))
        s <- Gen.oneOf("", "x", "yy")
        n <- Gen.chooseNum(1L, 8L) // tight range forces rank ties
      } yield (t + s, n)).map(_.distinctBy(_._1))
    forAll(genDict, n = 8) { dict =>
      whenNonEmpty(dict) {
        val counts = dict.toDF("token", "n")
        for (shards <- Seq(1, 3, 32)) {
          val ranked = graft.ops.Vocab.globalRank(counts,
              Seq(col("n").desc, col("token")), "rank_id", shards)
            .collect().map(r => r.getAs[String]("token") ->
              r.getAs[Int]("rank_id")).toMap
          val expected = dict.sortBy { case (t, n) => (-n, t) }
            .zipWithIndex.map { case ((t, _), i) => t -> (i + 1) }.toMap
          assert(ranked === expected,
            s"shards=$shards diverged from the global sort order")
        }
      }
    }
  }

  private def whenNonEmpty[A](xs: List[A])(body: => Unit): Unit =
    if (xs.nonEmpty) body
}
