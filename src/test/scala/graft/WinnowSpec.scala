package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** The winnowing guarantee (Schleimer et al. 2004, thm. on the (k+w−1)
  * match threshold): two documents sharing a substring of length ≥ k+w−1
  * (after normalization) share at least one selected fingerprint — the
  * property that makes the selection usable for partial-overlap detection,
  * checked on constructed docs rather than the corpus so the overlap is
  * known by design.
  */
class WinnowSpec extends AnyFunSuite with SharedSpark {

  // q140's own selection (k=8, w=4), keeping the full fingerprint SET
  // per doc so overlap is observable; q140's query itself only exposes
  // counts + min (the oracle-checkable readout)
  private def fingerprints(texts: Seq[(Long, String)]): Map[Long, Set[String]] = {
    import spark.implicits._
    val df = ExtensionQueries.winnowSel(texts.toDF("doc_id", "text"))
      .select(col("doc_id"), array_distinct(col("sel")).as("fps"))
    df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
  }

  test("docs sharing a >= k+w-1 substring share a fingerprint; " +
      "disjoint docs do not") {
    // the shared run is 16 normalized chars > k+w-1 = 11
    val shared = "quick brown fox jumps"
    val fps = fingerprints(Seq(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"zeta eta theta $shared iota",
      3L -> "completely different words with no run in common at all"))
    assert((fps(1L) & fps(2L)).nonEmpty,
      "a shared >= k+w-1 substring must yield a shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "no shared 8-gram (the test doc shares no 8-char normalized run) " +
        "must mean no shared fingerprint")
  }

  test("identical docs select identical fingerprint sets; selection is " +
      "position-robust (a long prefix shifts positions, not the shared set)") {
    val body = "the training corpus deduplication pipeline selects minima"
    val fps = fingerprints(Seq(
      1L -> body,
      2L -> body,
      3L -> s"unrelated leading sentence padding here $body"))
    assert(fps(1L) === fps(2L))
    // winnowing selects by LOCAL minima, so a prefix shift must still
    // reproduce the body's fingerprints (up to boundary windows)
    assert((fps(1L) & fps(3L)).size >= (fps(1L).size * 3) / 4,
      s"prefix shift destroyed locality: ${fps(1L).size} vs shared " +
        s"${(fps(1L) & fps(3L)).size}")
  }

  test("q143 detector: a planted shared quote surfaces as a pair; " +
      "unrelated docs do not pair") {
    import spark.implicits._
    val quote = "for a limited time only terms and conditions apply " +
      "see store for details"
    val docs = Seq(
      1L -> s"entirely original opening content here $quote and an ending",
      2L -> s"$quote surrounded by totally different prose on either side",
      3L -> "no common material with anything else whatsoever in this row",
      4L -> "another fully distinct document about unrelated subject matter")
      .toDF("doc_id", "text")
    // q143's own helpers: the re-keyed per-doc fingerprints + the pair
    // algebra (the detector under test IS the production code path)
    val pairs = ExtensionQueries.winnowOverlapPairs(
        ExtensionQueries.winnowFpKeys(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      s"expected exactly the planted quote pair, got $pairs")
  }

  test("TextAnalysis.winnowSelect (the SQL-surface builder) == " +
      "winnowSel's selection column") {
    val docs = graft.queries.Tables
      .documents(spark, "/root/testdata/sf0.001").limit(100)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaSel = keyed(ExtensionQueries.winnowSel(docs)
      .select(col("doc_id"), col("sel")))
    val viaColumn = keyed(docs.select(col("doc_id"),
      graft.functions.TextAnalysis.winnowSelect(col("text"), 8, 4).as("sel")))
    assert(viaColumn === viaSel)
  }

  test("re-keyed (xxhash64) pair detection ≡ the md5-string algebra") {
    // the oracle groups on the md5 hex string; the engine groups on the
    // 8-byte re-key — this pins that the key choice is invisible in the
    // output (per-doc distinctness taken over the HASHED values)
    import spark.implicits._
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val strFps = ExtensionQueries.winnowSel(docs)
      .select(col("doc_id"), explode(array_distinct(col("sel"))).as("fp"))
    val strRare = strFps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 64).select("fp")
    val p = strFps.join(strRare, "fp")
    val strPairs = p.as("a").join(p.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared")).filter(col("n_shared") >= 2)
      .as[(Long, Long, Long)].collect().toSet
    val keyPairs = ExtensionQueries.winnowOverlapPairs(
        ExtensionQueries.winnowFpKeys(docs))
      .as[(Long, Long, Long)].collect().toSet
    assert(keyPairs === strPairs)
  }

  test("q140 runs and its counts are internally consistent") {
    val out = ExtensionQueries.q140_winnow_fingerprint(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nGrams, nWin, nFp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nWin === math.max(nGrams - 3, 0L),
        s"doc ${r.getLong(0)}: windows must be grams - w + 1")
      assert(nFp <= nWin && (nWin == 0L || nFp > 0L),
        s"doc ${r.getLong(0)}: distinct fingerprints within (0, windows]")
    }
  }
}
