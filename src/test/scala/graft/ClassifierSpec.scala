package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.NaiveBayes

/** The NB classifier beyond its DuckDB oracle: hand-computed smoothed
  * model values on a toy corpus (the oracle proves engine equivalence;
  * this proves the MATH — Laplace smoothing, unseen-token default,
  * prior — against numbers derived on paper), plus planted-signal
  * recovery on the real corpus.
  */
class ClassifierSpec extends AnyFunSuite with SharedSpark {

  test("hand-computed model: Laplace ratios, unseen-token default, and " +
      "prior fold to the exact paper values") {
    import spark.implicits._
    val train = Seq(("cat cat", 0L), ("dog", 1L)).toDF("t", "y")
    val (model, scal) = NaiveBayes.train(train, "t", "y")
    val m = model.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // counts: c0(cat)=2, c1(dog)=1; tot0=2, tot1=1, V=2
    // ratio(cat) = ln(1/3) - ln(3/4) = ln(4/9)
    // ratio(dog) = ln(2/3) - ln(1/4) = ln(8/3)
    assert(math.abs(m("cat") - math.log(4.0 / 9)) < 1e-12)
    assert(math.abs(m("dog") - math.log(8.0 / 3)) < 1e-12)
    val s = scal.collect()(0)
    // default = ln(1/3) - ln(1/4) = ln(4/3); prior = ln(1/1) = 0
    assert(math.abs(s.getDouble(0) - math.log(4.0 / 3)) < 1e-12)
    assert(s.getDouble(1) === 0.0)
    val test = Seq((1L, "cat dog bird"), (2L, "cat cat")).toDF("id", "t")
    val p = NaiveBayes.predict(test, "t", "id", model, scal)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: ln(4/9 * 8/3 * 4/3) = ln(128/81) > 0 -> class 1
    // doc 2: 2 ln(4/9) < 0 -> class 0
    assert(p(1L) === 1L && p(2L) === 0L)
  }

  test("planted signal on the real corpus: held-out accuracy is " +
      "perfect and both classes appear in the predictions") {
    val out = graft.queries.ClassifierQueries
      .q174_nb_classifier(spark, "/root/testdata/sf0.001").cache()
    val n = out.count()
    assert(n > 0)
    assert(out.filter(col("correct") === 0).count() === 0L,
      "marker margins are O(1) log-units; every held-out doc must score " +
        "on the planted side")
    assert(out.select("predicted").distinct().count() === 2L)
    out.unpersist()
  }

  test("state tier: count deltas fold additively into exactly train()'s " +
      "model — hand scalar values, unseen-token default routing, and a " +
      "two-batch fold equal to the one-shot train") {
    import spark.implicits._
    val b1 = Seq(("cat cat", 0L)).toDF("t", "y")
    val b2 = Seq(("dog", 1L)).toDF("t", "y")
    // the stored-state shape: per-batch deltas, folded by sum
    val folded = NaiveBayes.countDelta(b1, "t", "y")
      .unionByName(NaiveBayes.countDelta(b2, "t", "y"))
      .groupBy("tk").agg(sum("c0").as("c0"), sum("c1").as("c1"))
    val priors = NaiveBayes.priorDelta(b1, "y")
      .unionByName(NaiveBayes.priorDelta(b2, "y"))
      .agg(sum("n0").as("n0"), sum("n1").as("n1"))
    val (model, scal) = NaiveBayes.modelFromCounts(folded, priors)
    val s = scal.collect()(0)
    // same paper values as the train() test: default = ln(4/3), prior 0
    assert(math.abs(s.getDouble(0) - math.log(4.0 / 3)) < 1e-12)
    assert(s.getDouble(1) === 0.0)
    val test = Seq((1L, "cat dog bird"), (2L, "cat cat")).toDF("id", "t")
    val p = NaiveBayes.predictByKey(test, "t", "id", model, scal)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: UNSEEN 'bird' must route to the default ratio ln(4/3):
    //   ln(4/9 * 8/3 * 4/3) = ln(128/81) > 0 -> class 1; a model that
    //   dropped unseen tokens instead would still say 1 here, so doc 2
    //   pins the other side: 2 ln(4/9) < 0 -> class 0
    assert(p(1L) === 1L && p(2L) === 0L)
    // and the tk-keyed path agrees with train() doc-for-doc
    val (tm, ts) = NaiveBayes.train(b1.unionByName(b2), "t", "y")
    val viaTrain = NaiveBayes.predict(test, "t", "id", tm, ts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaTrain === p)
  }

  test("DSIR state tier: two-batch bucket-count deltas fold additively " +
      "into exactly the one-shot model, and scores agree row-for-row") {
    import spark.implicits._
    import graft.ops.{Dsir, Splits}
    // ids that land in the train split (Splits.bucket is md5-derived,
    // so membership is discovered, not assumed)
    val ids = spark.range(0, 60).select(col("id"))
      .filter(Splits.bucket(col("id")) < 90)
      .as[Long].collect().toSeq
    val docs = ids.map { id =>
      val aug = if (id % 2 == 0) "x y alpha alpha alpha"
                else "x y gamma gamma gamma"
      (id, aug, id % 2)
    }.toDF("doc_id", "aug", "label")
    val (b1, b2) = (docs.filter(col("doc_id") < 30),
      docs.filter(col("doc_id") >= 30))
    val folded = Dsir.countDelta(b1).unionByName(Dsir.countDelta(b2))
      .groupBy("fb").agg(sum("ct").as("ct"), sum("cr").as("cr"))
    val oneshot = Dsir.countDelta(docs)
    // the fold IS the one-shot table
    val foldMap = folded.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val oneMap = oneshot.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(foldMap === oneMap)
    // and the served scores agree row-for-row
    val viaFold = Dsir.scores(Dsir.pairs(docs), folded)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val viaOne = Dsir.scores(Dsir.pairs(docs), oneshot)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(viaFold === viaOne)
  }

  test("DSIR sign semantics: target-exclusive bigrams never score " +
      "negative, target-absent bigrams score strictly negative, " +
      "sub-2-token docs survive with zero pairs") {
    import spark.implicits._
    import graft.ops.{Dsir, Splits}
    val ids = spark.range(0, 60).select(col("id"))
      .filter(Splits.bucket(col("id")) < 90)
      .as[Long].collect().toSeq
    // class 0 (the DSIR target) writes only alpha-bigrams, class 1 only
    // gamma-bigrams. Hand algebra: on alpha buckets ct = cr, so
    // λ = L(Tr+B) − L(Tt+B) ≥ 0 (Tr ≥ Tt always — quantization may
    // round the gap to 0, never below); on gamma buckets ct = 0, so
    // λ = (L(Tr+B) − L(Tt+B)) − L(cr+1) ≤ 1 − L(3·n_odd+1) < 0 at
    // this corpus size. Sign-test selection must follow exactly.
    val docs = ids.map { id =>
      val aug = if (id % 2 == 0) "alpha alpha alpha alpha"
                else "gamma gamma gamma gamma"
      (id, aug, id % 2)
    }.toDF("doc_id", "aug", "label")
      .unionByName(Seq((997L, "solo", 997L % 2)).toDF(
        "doc_id", "aug", "label"))
    val out = Dsir.scores(Dsir.pairs(docs), Dsir.countDelta(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    ids.foreach { id =>
      val (n, s, sel) = out(id)
      assert(n === 3, s"doc $id pair count")
      if (id % 2 == 0) assert(s >= 0 && sel === 1L, s"doc $id: ($s, $sel)")
      else assert(s < 0 && sel === 0L, s"doc $id: ($s, $sel)")
    }
    // the single-token doc survives explode_outer with zero pairs
    assert(out(997L) === ((0L, 0L, 0L)))
  }

  test("state tier single-class guard: a fold holding only one class " +
      "fails loudly from modelFromCounts, same contract as train()") {
    import spark.implicits._
    val only1 = Seq(("dog barks", 1L)).toDF("t", "y")
    val (_, scal) = NaiveBayes.modelFromCounts(
      NaiveBayes.countDelta(only1, "t", "y")
        .groupBy("tk").agg(sum("c0").as("c0"), sum("c1").as("c1")),
      NaiveBayes.priorDelta(only1, "y"))
    val e = intercept[Throwable](scal.collect())
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("both classes"))))
  }

  test("REGRESSION (r11 single-class guard): training on a corpus with " +
      "only one class fails LOUDLY at first action instead of returning " +
      "an Infinity prior that silently degenerates every prediction") {
    import spark.implicits._
    val only1 = Seq(("dog barks", 1L), ("dog runs", 1L)).toDF("t", "y")
    val (_, scal) = NaiveBayes.train(only1, "t", "y")
    val e = intercept[Throwable](scal.collect())
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("both classes"),
      s"expected the assert_true message in the failure chain, got: $chain")
    val only0 = Seq(("cat", 0L)).toDF("t", "y")
    val e0 = intercept[Throwable](NaiveBayes.train(only0, "t", "y")._2.collect())
    assert(Iterator.iterate(e0)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("both classes"))))
  }
}
