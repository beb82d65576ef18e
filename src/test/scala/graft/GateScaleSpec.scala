package graft

import org.scalatest.funsuite.AnyFunSuite

/** EVERY oracle-checked must-be-EMPTY gate (q67 SimHash precision, q88
  * ANN rescoring, q89 sketch error, q115/q120 BM25 subset, q124/q130
  * model consistency, q148/q150/q156 stored-model consistency) passes as
  * empty at the Verify scale (sf0.01). Sketch error, LSH precision, and
  * float-model consistency are SCALE-DEPENDENT — a parameterization that
  * holds at 500 docs can break at 5,000 — so this spec runs the gates at
  * sf0.1, the bench corpus, where a break would otherwise hide below the
  * bench (which times the gates but never asserts their emptiness).
  * CurationGateSpec proves the gates can fire (by poisoning); this spec
  * proves the shipped parameters hold an order of magnitude above the
  * oracle corpus.
  */
class GateScaleSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.1"

  test("q67: SimHash precision gate stays empty at sf0.1") {
    assert(graft.queries.ExtensionQueries.q67_sketch_precision(spark, sf).isEmpty,
      "SimHash emitted a sub-threshold pair at sf0.1")
  }

  test("q88: ANN rescoring gate stays empty at sf0.1") {
    assert(graft.queries.CurationQueries.q88_ann_gate(spark, sf).isEmpty,
      "an ANN tier's claimed score failed the independent cosine recompute at sf0.1")
  }

  test("q89: sketch error gate stays empty at sf0.1") {
    assert(graft.queries.CurationQueries.q89_sketch_error_gate(spark, sf).isEmpty,
      "HLL/percentile sketch error exceeded the 5% bound vs the exact tier at sf0.1")
  }

  test("q115/q120: BM25 subset gates stay empty at sf0.1") {
    assert(graft.queries.TokenizerQueries.q115_bm25_gate(spark, sf).isEmpty,
      "a BM25 top-k row left the exact match core at sf0.1")
    assert(graft.queries.TokenizerQueries
      .q120_state_bm25_gate(spark, sf).isEmpty,
      "a state-served BM25 row left the state count core at sf0.1")
  }

  test("q124/q130: k-means argmin and SemDeDup rescoring gates stay " +
      "empty at sf0.1") {
    assert(graft.queries.ExtensionQueries.q124_kmeans_gate(spark, sf).isEmpty,
      "an assignment stopped minimizing distance at sf0.1")
    assert(graft.queries.ExtensionQueries.q130_semdedup_gate(spark, sf).isEmpty,
      "a SemDeDup pair failed the independent cosine recompute at sf0.1")
  }

  test("q148/q150/q156: the stored-model gates (state k-means argmin, " +
      "state SemDeDup rescoring, state-ANN rescoring) stay empty at sf0.1") {
    assert(graft.queries.ExtensionQueries
      .q148_state_kmeans_gate(spark, sf).isEmpty,
      "a state-served assignment violated the argmin gate at sf0.1")
    assert(graft.queries.ExtensionQueries
      .q150_state_semdedup_gate(spark, sf).isEmpty,
      "a state-served pair failed the cosine recompute at sf0.1")
    assert(graft.queries.ExtensionQueries
      .q156_state_ann_gate(spark, sf).isEmpty,
      "a state-served ANN row failed the cosine recompute at sf0.1")
  }

  test("q168: the multi-probe recall-curve rescoring gate stays empty " +
      "at sf0.1") {
    assert(graft.queries.ExtensionQueries
      .q168_ivf_recall_gate(spark, sf).isEmpty,
      "a recall-curve claim failed the cosine recompute at sf0.1")
  }
}
