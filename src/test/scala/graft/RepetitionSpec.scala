package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis
import graft.queries.FilterQueries

/** Contracts for the q134–q137 repetition-filter family beyond what the
  * DuckDB oracle hash-checks: the per-row HOF metrics on crafted inputs
  * (where the right answers are knowable by hand), the algebraic
  * invariants that must hold on any corpus, and collapseRuns' fixpoint
  * property.
  */
class RepetitionSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  import spark.implicits._

  test("topElementCount / wordBigramsAll / collapseRuns on crafted rows") {
    val rows = Seq(
      ("a a a",       3L, 2L, 2L, "a"),       // pure repetition
      ("a b c",       1L, 1L, 0L, "a b c"),   // all distinct
      ("a b a b a",   3L, 2L, 0L, "a b a b a"), // alternation: no runs
      ("x",           1L, 0L, 0L, "x"),       // single token: no bigrams
      ("a a b b b c", 3L, 2L, 3L, "a b c"))   // mixed runs
      .toDF("text", "top", "topBg", "removed", "cleaned")

    val got = rows.select(
      col("top"), col("topBg"), col("removed"), col("cleaned"),
      TextAnalysis.topElementCount(TextAnalysis.tokens(col("text")))
        .as("gTop"),
      TextAnalysis.topElementCount(
        TextAnalysis.wordBigramsAll(TextAnalysis.tokens(col("text"))))
        .as("gTopBg"),
      array_join(TextAnalysis.collapseRuns(TextAnalysis.tokens(col("text"))),
        " ").as("gCleaned"))
      .collect()

    got.foreach { r =>
      assert(r.getAs[Long]("gTop") === r.getAs[Long]("top"), r.toString)
      assert(r.getAs[Long]("gTopBg") === r.getAs[Long]("topBg"), r.toString)
      assert(r.getAs[String]("gCleaned") === r.getAs[String]("cleaned"),
        r.toString)
    }
  }

  test("runStats equals the separate size/array_distinct/topElementCount") {
    val toks = filter(TextAnalysis.tokens(col("text")), t => length(t) > 0)
    val diverged = graft.queries.Tables.documents(spark, sf)
      .select(
        TextAnalysis.runStats(toks).as("st"),
        size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("nd"),
        TextAnalysis.topElementCount(toks).as("top"))
      .filter(col("st.n_tokens") =!= col("n") ||
        col("st.n_distinct") =!= col("nd") ||
        col("st.top_cnt") =!= col("top"))
    assert(diverged.count() === 0L)
  }

  test("packed bigram keys count the same tops as real string bigrams") {
    // collision canary: if a 32-bit token-hash collision ever merged two
    // bigrams inside one document, the key-based top count would diverge
    // from the string-based one
    val toks = TextAnalysis.tokens(col("text"))
    val diverged = graft.queries.Tables.documents(spark, sf)
      .select(
        TextAnalysis.topElementCount(TextAnalysis.wordBigramKeys(toks))
          .as("byKey"),
        TextAnalysis.topElementCount(TextAnalysis.wordBigramsAll(toks))
          .as("byStr"))
      .filter(col("byKey") =!= col("byStr"))
    assert(diverged.count() === 0L)
  }

  test("floorLog2 agrees with the bit-length definition on longs") {
    val xs = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 1025L, 999999937L)
    val got = xs.toDF("x")
      .select(TextAnalysis.floorLog2(col("x")).as("l")).as[Long].collect()
    val want = xs.map(x => 63L - java.lang.Long.numberOfLeadingZeros(x))
    assert(got.toSeq === want)
  }

  test("q134 invariants: ppm bounds, distinct<=tokens, top>=1") {
    val rows = FilterQueries.q134_word_repetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d, top) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("top_cnt"))
      assert(d >= 1 && d <= n && top >= 1 && top <= n - d + 1)
      val dup = r.getAs[Long]("dup_ppm")
      assert(dup >= 0 && dup <= 1000000 && (dup == 0) == (d == n))
      val tp = r.getAs[Long]("top_ppm")
      assert(tp >= 1000000L / n && tp <= 1000000)
    }
  }

  test("collapseRuns is a fixpoint (second pass removes nothing)") {
    val once = FilterQueries.q137_collapse_runs(spark, sf)
    val twice = once.select(col("doc_id"),
        TextAnalysis.collapseRuns(TextAnalysis.tokens(col("cleaned")))
          .as("c2"),
        col("cleaned"))
      .filter(array_join(col("c2"), " ") =!= col("cleaned"))
    assert(twice.count() === 0L)
  }

  test("q136: surprisal of the rarest word bounds every doc's per-token max") {
    // every per-token surprisal is <= floorLog2(T) - 0 and >= 0, so the
    // mean (avg_q6 / 1e6) must sit in [0, floorLog2(T)]
    val tok = graft.queries.Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val t = tok.count()
    val maxLog = 63 - java.lang.Long.numberOfLeadingZeros(t)
    val rows = FilterQueries.q136_surprisal(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avg = r.getAs[Long]("avg_q6")
      assert(avg >= 0 && avg <= maxLog * 1000000L, r.toString)
    }
  }

  test("runEntropySum: 0 on constant arrays, n*floorLog2(n) on all-distinct, " +
      "bounded in between") {
    import spark.implicits._
    def ent(toks: Seq[String]): Long =
      Seq(Tuple1(toks)).toDF("ws")
        .select(graft.functions.TextAnalysis.runEntropySum(col("ws")).as("e"))
        .head().getLong(0)
    // all-identical: the single run has f = n, so L(n) − L(f) = 0
    assert(ent(Seq.fill(8)("x")) === 0L)
    // all-distinct: n runs of f = 1, each contributes L(n) − 0
    assert(ent(Seq("a", "b", "c", "d", "e", "f", "g", "h")) === 8L * 3L)
    assert(ent(Seq()) === 0L)
    assert(ent(Seq("solo")) === 0L)
    // mixed: 4×a + 4 distinct → 4·(L(8)−L(4)) + 4·(L(8)−0) = 4·1 + 4·3
    assert(ent(Seq("a", "a", "a", "a", "w", "x", "y", "z")) === 16L)
    // q146 corpus invariant: 0 <= avg_q6 <= 1e6 * floorLog2(n_tokens)
    val rows = FilterQueries.q146_doc_entropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val avg = r.getAs[Long]("avg_q6")
      val lg = 63 - java.lang.Long.numberOfLeadingZeros(n)
      assert(avg >= 0 && avg <= lg * 1000000L, r.toString)
    }
  }
}
