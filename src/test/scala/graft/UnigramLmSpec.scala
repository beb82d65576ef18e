package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.UnigramLm

class UnigramLmSpec extends AnyFunSuite with SharedSpark {

  test("log2Fix: exact on powers of two, strictly monotone on the " +
      "doubling ladder, order-preserving on representative values, " +
      "loud outside its domain") {
    // 2^k must map to exactly k << 16 (mantissa 1.0 -> all fraction
    // bits zero; any drift here would shift every cost in the engine)
    for (k <- 0 to 31)
      assert(UnigramLm.log2Fix(1L << k) === (k.toLong << 16),
        s"log2Fix(2^$k)")
    // monotone (not strictly for adjacent ints at high magnitude —
    // 16 fractional bits saturate — but strictly across doublings)
    val vals = Seq(1L, 2L, 3L, 5L, 7L, 11L, 100L, 1000L, 12345L,
      1000000L, (1L << 32) - 1)
    vals.sliding(2).foreach { case Seq(a, b) =>
      assert(UnigramLm.log2Fix(a) < UnigramLm.log2Fix(b), s"$a vs $b")
    }
    // value check: log2(3) = 1.58496...; fixed-point 16-bit -> the
    // recurrence's value must sit within 2 ulp of 1.58496*65536=103872
    val l3 = UnigramLm.log2Fix(3)
    assert(math.abs(l3 - 103872L) <= 2, s"log2Fix(3) = $l3")
    intercept[IllegalArgumentException](UnigramLm.log2Fix(0))
    intercept[IllegalArgumentException](UnigramLm.log2Fix(1L << 32))
  }

  test("viterbi: picks the cheapest segmentation; ties break by fewer " +
      "pieces then longer last piece; unreachable/oversized words are " +
      "loud") {
    // 'abcd' decomposable as ab+cd (cost 2+2=4) or abcd (cost 5) or
    // chars (4x3=12): cheapest wins
    val c1 = Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "ab" -> 2L, "cd" -> 2L, "abcd" -> 5L)
    val s1 = UnigramLm.viterbi("abcd", c1)
    assert(s1.cost === 4L && s1.cuts === List(2, 2))
    // equal cost: 'abcd'(4) vs ab+cd (2+2): k=1 beats k=2
    val c2 = c1 + ("abcd" -> 4L)
    assert(UnigramLm.viterbi("abcd", c2).cuts === List(4))
    // equal cost AND k: a+bcd vs ab+cd vs abc+d, all cost 4, k=2 —
    // the last-piece-length-desc rule prefers a+bcd (last piece 3)
    val c3 = Map("a" -> 2L, "d" -> 2L, "ab" -> 2L, "cd" -> 2L,
      "bcd" -> 2L, "abc" -> 2L, "b" -> 9L, "c" -> 9L)
    assert(UnigramLm.viterbi("abcd", c3).cuts === List(1, 3))
    // pieces() recovers the strings at the cuts
    assert(UnigramLm.pieces("abcd", UnigramLm.viterbi("abcd", c3)) ===
      List("a", "bcd"))
    // a character outside the vocabulary is a loud contract error
    intercept[IllegalArgumentException](
      UnigramLm.viterbi("ax", Map("a" -> 1L)))
    // the MaxWordLen contract is checked, not silently truncated
    intercept[IllegalArgumentException](
      UnigramLm.viterbi("a" * (UnigramLm.MaxWordLen + 1), Map("a" -> 1L)))
  }

  test("learn + tokenize: EM recounts match a hand-built dict, single " +
      "chars always survive pruning, fertility is exact integer ppm") {
    import spark.implicits._
    // dict via docs: 'aaab' x2 and 'ab' x1 -> seed counts include
    // multi-char substrings; EM segments under rarity costs
    val docs = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    val dict = graft.ops.Bpe.wordDict(docs, "text")
    val learned = UnigramLm.learn(dict)
    val rows = learned.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every single char of the corpus is in the table
    assert(rows.contains("a") && rows.contains("b"))
    // EM counts are occurrence-weighted: total pieces chosen across the
    // dict (weighted by word counts) equals the sum of em_n
    val emTotal = rows.values.map(_._2).sum
    assert(emTotal > 0L)
    // tokenize: per-doc counts and exact ppm
    val wordK = UnigramLm.wordFertility(dict,
      learned.collect().map(r => r.getString(0) -> r.getLong(2)))
    val stats = UnigramLm.tokenizeStats(docs, wordK).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (w1, p1, f1) = stats(1L)
    assert(w1 === 2L)
    assert(f1 === 1000000L * p1 / w1)
    // an empty-text doc yields the zero row, not a dropped row
    val stats0 = UnigramLm.tokenizeStats(
      Seq((9L, "")).toDF("doc_id", "text"), wordK).collect()
    assert(stats0.map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSeq === Seq((9L, 0L, 0L)))
  }

  test("state-served tokenization equals the in-query learn+apply on " +
      "real testdata (the q237 ≡ q236 engine-side pin)") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val inQuery = UnigramLm.tokenizeCorpus(docs).orderBy("doc_id")
      .collect().map(_.toSeq)
    val dir = graft.queries.TokenizerQueries.ensurePostingState(
      spark, "/root/testdata/sf0.001")
    val served = graft.pipeline.CorpusBuild
      .stateUnigramTokenize(spark, dir, docs).orderBy("doc_id")
      .collect().map(_.toSeq)
    assert(served.toSeq === inQuery.toSeq)
  }
}
