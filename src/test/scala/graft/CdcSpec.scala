package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** Content-defined chunking beyond its DuckDB oracle (q193 proves
  * engine equivalence of the readout; this proves the PROPERTY the
  * technique exists for): boundaries are functions of local content
  * only, so a prefix edit re-chunks the edit's neighborhood and leaves
  * every later chunk identical — where fixed-width chunking would shift
  * and change every chunk after the edit. Plus structural invariants:
  * chunk lengths tile the document exactly, short/empty inputs behave.
  */
class CdcSpec extends AnyFunSuite with SharedSpark {

  /** (length, key) chunk sequence of a string through the shared kernel. */
  private def chunksOf(texts: String*): Seq[Seq[(Long, Long)]] = {
    import spark.implicits._
    texts.zipWithIndex.map(_.swap).toDF("i", "t")
      .select(col("i"), ExtensionQueries.cdcChunks(col("t")).as("ch"))
      .orderBy("i").collect()
      .map(_.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getLong(0), r.getLong(1))).toSeq).toSeq
  }

  // a deterministic pseudo-text long enough to contain many boundaries
  private val base: String = (1 to 400)
    .map(i => s"w${(i * 2654435761L % 97)}")
    .mkString(" ")

  test("chunk lengths tile the document exactly and boundaries exist " +
      "at this length") {
    val Seq(ch) = chunksOf(base)
    assert(ch.map(_._1).sum === base.length.toLong, "lengths must tile")
    assert(ch.size > 5, s"expected many chunks, got ${ch.size}")
  }

  test("shift resistance: a prefix edit re-chunks only its " +
      "neighborhood — every chunk after the first post-edit boundary " +
      "is identical") {
    val edited = "XYZQ " + base
    val Seq(a, b) = chunksOf(base, edited)
    // fixed-width chunking would shift every chunk; CDC must preserve
    // the entire tail. The edit can only affect chunks whose content
    // overlaps the first 5 chars + the 8-char window straddling them —
    // i.e. the FIRST chunk of each version (both versions' first
    // boundary lands on unchanged content well past the edit).
    val tailA = a.tail
    val tailB = b.drop(b.size - tailA.size)
    assert(tailA.nonEmpty && tailA === tailB,
      s"CDC tail diverged after a prefix edit: ${a.take(3)} vs ${b.take(3)}")
    // and the shared tail is essentially the whole document
    assert(tailA.map(_._1).sum >= base.length * 3L / 4,
      "the preserved tail should cover most of the document")
  }

  test("an interior edit leaves chunks before AND after the edit window " +
      "identical") {
    val mid = base.length / 2
    val edited = base.substring(0, mid) + "#" + base.substring(mid)
    val Seq(a, b) = chunksOf(base, edited)
    // common prefix of chunk sequences: everything ending before the edit
    val commonPrefix = a.zip(b).takeWhile { case (x, y) => x == y }.size
    // common suffix: everything starting after the edit's window
    val commonSuffix = a.reverse.zip(b.reverse)
      .takeWhile { case (x, y) => x == y }.size
    assert(commonPrefix > 0, "chunks before the edit must be unchanged")
    assert(commonSuffix > 0, "chunks after the edit must be unchanged")
    // the disturbed region is local: prefix + suffix cover all but a
    // couple of chunks
    assert(commonPrefix + commonSuffix >= a.size - 3,
      s"edit disturbed more than its neighborhood: " +
        s"prefix=$commonPrefix suffix=$commonSuffix of ${a.size}")
  }

  test("short and empty inputs: no boundaries under 8 chars, empty text " +
      "yields zero chunks, 8-char text yields one") {
    val Seq(e, s7, s8) = chunksOf("", "abcdefg", "abcdefgh")
    assert(e === Seq.empty)
    assert(s7.size === 1 && s7.head._1 === 7L)
    // 8 chars has exactly one window; whether it cuts or not, the
    // lengths must tile and produce at most 2 chunks
    assert(s8.map(_._1).sum === 8L && s8.size <= 2)
  }

  test("rolling hash ≡ windowed definition: the expression's cut " +
      "positions match a per-position Horner evaluation of the same " +
      "polynomial") {
    import graft.functions.CdcChunksExpr.{B, M}
    // independent reference: hash EVERY trailing-8 window from scratch
    // (interior cuts only — a cut at the very end does not create an
    // empty tail chunk, so it is invisible in the length sequence)
    def refCuts(s: String): Seq[Int] = {
      val cps = s.codePoints().toArray
      (8 until cps.length).filter { i =>
        val h = (i - 8 until i).foldLeft(0L)((a, k) => (a * B + cps(k)) % M)
        h % 64L == 0L
      }
    }
    for (t <- Seq(base, "XYZQ " + base, base.take(100), "abcdefgh")) {
      val Seq(ch) = chunksOf(t)
      val expCuts = ch.map(_._1).scanLeft(0L)(_ + _).drop(1).dropRight(1)
      assert(expCuts === refCuts(t).map(_.toLong),
        s"rolling-hash cuts diverged from the window definition on " +
          s"'${t.take(20)}...'")
    }
  }

  test("identical substrings in different documents yield identical " +
      "interior chunk keys (the cross-doc dedup signal)") {
    val shared = base.substring(40, 360)
    val docA = "prefix-one " + shared + " tail-one"
    val docB = "a different and longer prefix " + shared + " other tail"
    val Seq(a, b) = chunksOf(docA, docB)
    val interA = a.map(_._2).toSet
    val interB = b.map(_._2).toSet
    val common = interA.intersect(interB)
    assert(common.size >= 2,
      s"expected shared interior chunks, got ${common.size}")
  }
}
