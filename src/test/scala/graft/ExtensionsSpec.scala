package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.ops.{Similarity, TextDedup}
import graft.queries.{ExtensionQueries, Tables}

/** The sketch-based scale tiers (MinHash-LSH, SimHash, hyperplane-LSH) have
  * no DuckDB oracle; these tests pin them to their oracle-checked exact
  * counterparts on the sf0.001 corpus.
  */
class ExtensionsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** Exact near-dup pairs with no language blocking — the ground truth the
    * unblocked sketch tiers are measured against.
    */
  private def exactPairsUnblocked: Set[(Long, Long)] =
    TextDedup.ngramJaccardPairs(
        Tables.documents(spark, sf).withColumn("all", lit(1)),
        "doc_id", "text", "all", n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash-LSH finds exactly the exact-Jaccard near-dup pairs (recall + precision)") {
    val exact = exactPairsUnblocked
    val lsh = ExtensionQueries.q19_minhash_lsh(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // exact-verify step makes precision 1 by construction; recall is the
    // probabilistic part — at jaccard>=0.95 pairs and 16 bands it is ~1
    assert(lsh == exact, s"LSH pairs $lsh != exact pairs $exact")
  }

  test("SimHash pairs: high unigram similarity (precision) and 3-gram recall") {
    val docs = Tables.documents(spark, sf)
    val uni = udf((a: Seq[String], b: Seq[String]) => {
      val (sa, sb) = (a.toSet, b.toSet)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    })
    val pairs = ExtensionQueries.q20_simhash(spark, sf)
      .join(docs.select(col("doc_id").as("id_a"), split(col("text"), " ").as("wa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), split(col("text"), " ").as("wb")), "id_b")
      .select(col("id_a"), col("id_b"), uni(col("wa"), col("wb")).as("uj"))
      .collect()
    assert(pairs.nonEmpty)
    // Hamming<=6 on a 64-bit token sketch ⇒ highly similar token sets.
    // (SimHash is order-insensitive, so it legitimately finds MORE than the
    // 3-gram tier — precision is measured against unigram Jaccard.)
    // Precision is distributional: the sketch weights repeated tokens and
    // these docs share a tiny vocabulary, so individual Hamming-6 pairs can
    // dip — but the bulk of returned pairs must be true token-set near-dups.
    val jaccards = pairs.map(_.getDouble(2)).sorted
    val median = jaccards(jaccards.length / 2)
    assert(median >= 0.8, s"median unigram jaccard of simhash pairs too low: $median")
    val simPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactPairsUnblocked
    val recall = (exact intersect simPairs).size.toDouble / exact.size
    assert(recall >= 0.7, s"simhash recall of 3-gram near-dups too low: $recall")
  }

  /** The driver corpus has no planted vector near-dups (max pairwise cosine
    * ≈0.48), so LSH recall is validated on constructed ones: each corpus
    * vector gets a slightly-scaled twin (cosine 1 up to float noise) and the
    * LSH tiers must reunite the twins.
    */
  test("LSH tiers reunite planted near-identical vectors (recall ≈ 1 at cos ≈ 1)") {
    val emb = Tables.embeddings(spark, sf)
    val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(twins)

    val nearDups = Similarity.embeddingNearDupPairs(
      corpus, "vec_id", "embedding", threshold = 0.99, dim = 64)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    val expected = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    val recall = (expected intersect nearDups).size.toDouble / n
    assert(recall >= 0.95, s"near-dup LSH recall $recall on planted twins")

    val top1 = Similarity.lshCosineTopK(corpus, "vec_id", "embedding",
      k = 1, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = expected.count { case (a, b) =>
      top1.get(a).contains(b) || top1.get(b).contains(a) }
    assert(hits.toDouble / n >= 0.95, s"LSH top-1 found only $hits/$n planted twins")

    val ivfTop1 = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      k = 1, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfHits = expected.count { case (a, b) =>
      ivfTop1.get(a).contains(b) || ivfTop1.get(b).contains(a) }
    assert(ivfHits.toDouble / n >= 0.95, s"IVF top-1 found only $ivfHits/$n planted twins")

    // IVF-PQ: byte codes + ADC shortlist must still surface the twin into
    // the exact re-rank (a twin's approximate cosine dominates every
    // non-twin's, so PQ quantization noise cannot push it out of a
    // rerank·k=4 shortlist)
    val pqTop1 = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      k = 1, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pqHits = expected.count { case (a, b) =>
      pqTop1.get(a).contains(b) || pqTop1.get(b).contains(a) }
    assert(pqHits.toDouble / n >= 0.95,
      s"IVF-PQ top-1 found only $pqHits/$n planted twins")

    // empty / all-zero corpora return the empty result shape instead of
    // dying in quantizer training (same contract as ivfTopK)
    val emptyPq = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 0),
      "vec_id", "embedding", k = 1, dim = 64)
    assert(emptyPq.collect().isEmpty)
    assert(emptyPq.columns.toSeq ===
      Seq("query_id", "neighbor_id", "cos", "rank"))
  }

  test("OPQ rotation carries IVF-PQ recall at HALF the codebook budget") {
    val emb = Tables.embeddings(spark, sf)
    val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(twins)
    val n = emb.count()
    val expected = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    // pqK halved 16 → 8: the variance-balanced rotation, not the entry
    // budget, must carry the planted-twin recall
    val top1 = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      k = 1, dim = 64, pqK = 8, rotate = true)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = expected.count { case (a, b) =>
      top1.get(a).contains(b) || top1.get(b).contains(a) }
    assert(hits.toDouble / n >= 0.95,
      s"rotated half-budget IVF-PQ found only $hits/$n planted twins")
  }

  test("cluster-blocked (SemDeDup) near-dup reunites planted twins, and " +
      "every emitted pair re-verifies against brute-force cosine") {
    val emb = Tables.embeddings(spark, sf)
    val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(twins)

    val pairs = Similarity.clusterNearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.99, k = 8, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // recall: a twin pair's two nearly-identical vectors land in the same
    // cluster (same argmin up to knife-edge ties), so the block never
    // separates them
    val n = emb.count()
    val expected = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    val recall = (expected intersect got).size.toDouble / n
    assert(recall >= 0.95, s"cluster-blocked recall $recall on planted twins")
    // precision: brute-force recompute of every emitted cosine
    // twin components were scaled in FLOAT (the column type) before the
    // operator's cast to double — replicate that rounding exactly
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def vecOf(id: Long): Array[Double] =
      if (id >= 100000L) vecs(id - 100000L).map(f => (f * 1.001f).toDouble)
      else vecs(id).map(_.toDouble)
    pairs.foreach { case (a, b, cos) =>
      val (va, vb) = (vecOf(a), vecOf(b))
      val dotAb = va.zip(vb).map { case (x, y) => x * y }.sum
      val ref = dotAb / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum))
      assert(ref >= 0.99 - 1e-6 && math.abs(ref - cos) < 1e-6,
        s"pair ($a,$b) emitted cos $cos but brute-force $ref")
    }
  }

  test("nearDupFromScored over the shared scored relation equals " +
      "embeddingNearDupPairs exactly") {
    val emb = Tables.embeddings(spark, sf)
    val scored = Similarity.lshScoredPairs(emb, "vec_id", "embedding", dim = 64)
    val viaShared = Similarity.nearDupFromScored(scored, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Similarity.embeddingNearDupPairs(
        emb, "vec_id", "embedding", threshold = 0.3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaShared == direct)
  }

  test("multimodal frame-offset sampling is pure metadata arithmetic") {
    import spark.implicits._
    val df = Seq((1L, 1000L), (2L, 150L), (3L, 50L)).toDF("media_id", "n_bytes")
    val out = df.select(col("media_id"),
      Multimodal.frameOffsets(col("n_bytes"), frameSize = 100, stride = 2).as("offsets"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(0L, 200L, 400L, 600L, 800L)) // every 2nd of 10 frames
    assert(out(2L) == Seq(0L))
    assert(out(3L) == Seq.empty)                        // payload smaller than a frame
  }

  test("simhash64 is deterministic and order-sensitive to content") {
    import spark.implicits._
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy dog"),
      ("c", "completely different words entirely unrelated text here"))
      .toDF("id", "text")
    val out = df.select(col("id"), TextDedup.simhash64(col("text")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") == out("b"), "identical text => identical sketch")
    assert(out("a") != out("c"), "different text => different sketch")
    assert(java.lang.Long.bitCount(out("a") ^ out("c")) > 3,
      "unrelated text should be far in Hamming space")
  }
}
