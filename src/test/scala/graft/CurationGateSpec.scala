package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CurationQueries

/** The must-be-empty gates are only meaningful if they can demonstrably
  * fire: poison each violation class and assert the gate surfaces it.
  */
class CurationGateSpec extends AnyFunSuite with SharedSpark {

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.6, 0.8)),
      (3L, Seq(0.0, 0.0)) // zero norm: cosine undefined
    ).toDF("vec_id", "v")
  }

  private def gate(claims: Seq[(String, Long, Long, Double)]) = {
    import spark.implicits._
    CurationQueries.annGate(
        claims.toDF("tier", "query_id", "neighbor_id", "cos"), vecs)
      .collect()
  }

  test("a correct claim passes; every violation class fires") {
    // cos(v1, v2) = 0.6 exactly
    assert(gate(Seq(("t", 1L, 2L, 0.6))).isEmpty, "correct claim must pass")
    assert(gate(Seq(("t", 1L, 2L, 0.7))).length == 1, "wrong cosine must fire")
    assert(gate(Seq(("t", 1L, 99L, 0.6))).length == 1, "missing vector must fire")
    assert(gate(Seq(("t", 1L, 1L, 1.0))).length == 1, "self-pair must fire")
    assert(gate(Seq(("t", 1L, 3L, 0.0))).length == 1,
      "zero-norm (NULL recompute) must fire, not silently pass")
  }

  test("bm25 gate: consistent top-k passes; invented candidates and " +
      "drifted statistics fire") {
    import spark.implicits._
    import graft.queries.TokenizerQueries
    val core = Seq((1L, 2L, 5L), (2L, 1L, 3L)).toDF(
      "doc_id", "n_terms", "total_tf")
    def fire(topk: Seq[(Long, Long, Long)]) = TokenizerQueries
      .bm25Gate(topk.toDF("doc_id", "n_terms", "total_tf"), core)
      .collect()
    assert(fire(Seq((1L, 2L, 5L), (2L, 1L, 3L))).isEmpty,
      "a top-k that is a subset of the core with matching stats must pass")
    assert(fire(Seq((9L, 1L, 1L))).length == 1,
      "a candidate absent from the exact match core must fire")
    assert(fire(Seq((1L, 2L, 6L))).length == 1,
      "a drifted total_tf must fire")
    assert(fire(Seq((1L, 1L, 5L))).length == 1,
      "a drifted n_terms must fire")
  }
}
