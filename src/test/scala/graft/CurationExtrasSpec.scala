package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CurationQueries

/** The round-9 curation trio beyond their DuckDB oracles: q159 must FIND
  * a planted cross-split near-dup (the oracle only proves engine
  * equivalence — this proves the operator detects the contamination it
  * exists for), and the q160/q163 rollups must satisfy their structural
  * invariants on the real corpus.
  */
class CurationExtrasSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("cross-modal clusters: planted modality-specific near-dups merge " +
      "through the shared doc id — an image-only edge and an audio-only " +
      "edge chain into ONE cluster no single modality could form") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // 1,2: identical text -> near-dup in ALL THREE modalities.
    // 3: 48 strictly-ascending chars 48..95; 4: ascending 74..121 —
    //    both render strictly-increasing pixel ramps (image dHash
    //    all-ones, hamming 0) but have very different |sample|
    //    envelopes (no audio pair) and no shared word shingles
    //    (single-token texts have none) -> IMAGE-ONLY pair.
    // 8: the char-mirror of 4 (c -> 128-c): |(128-c)-64| = |c-64|, so
    //    the audio fingerprint is IDENTICAL to 4's, while the pixel
    //    ramp DESCENDS (dHash all-zeros, hamming 64 from 4) and no
    //    shingles exist -> AUDIO-ONLY pair with 4.
    // 7: unrelated singleton.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, (48 to 95).map(_.toChar).mkString),
      (4L, (74 to 121).map(_.toChar).mkString),
      (8L, (74 to 121).map(c => (128 - c).toChar).mkString),
      (7L, "unrelated singleton with entirely separate vocabulary here"))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val text = pairSet(graft.ops.TextDedup.minhashLshPairs(docs,
      "doc_id", "text", n = 3, numHashes = 48, bands = 8, threshold = 0.5))
    val image = pairSet(Multimodal.dhashNearDupPairs(
      Multimodal.decodeImageDHash(
        Multimodal.imagesFromText(spark, docs, "doc_id", "text")),
      maxDist = 3))
    val audio = pairSet(Multimodal.bandedHammingPairs(
      Multimodal.decodeAudioFingerprint(
        Multimodal.wavFromText(spark, docs, "doc_id", "text")).toDF(),
      "media_id", maxDist = 3))
    assert(text === Set((1L, 2L)), s"text pairs: $text")
    assert(image.contains((3L, 4L)) && !audio.contains((3L, 4L)),
      s"(3,4) must be image-only: image=$image audio=$audio")
    assert(audio.contains((4L, 8L)) && !image.contains((4L, 8L)),
      s"(4,8) must be audio-only: image=$image audio=$audio")
    assert(image.contains((1L, 2L)) && audio.contains((1L, 2L)),
      "the exact dup must pair in every modality")
    // the union edge list clusters 3-4-8 via two different modalities
    val edges = (text ++ image ++ audio).toSeq.toDF("id_a", "id_b")
    val comp = graft.ops.Components.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) === comp(2L))
    assert(comp(3L) === comp(4L) && comp(4L) === comp(8L),
      s"cross-modal transitivity failed: $comp")
    assert(comp(7L) === 7L)
    assert(comp(7L) != comp(1L) && comp(7L) != comp(3L))
    assert(comp(1L) != comp(3L),
      "unrelated planted clusters must stay separate")
  }

  test("split leakage: a planted train/test near-dup pair is detected " +
      "with its split labels") {
    import spark.implicits._
    // ids 0 (train) and 20 (test) — md5-bucket arithmetic, precomputed;
    // identical text => jaccard 1 pair crossing the split boundary
    val quote = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    val docs = Seq(
      (0L, quote), (20L, quote),
      (1L, "completely different words live here one two three four"),
      (2L, "and a third unrelated document padding the corpus five six"))
      .toDF("doc_id", "text")
    val leaked = graft.ops.TextDedup.minhashLshPairs(docs,
        "doc_id", "text", n = 3, numHashes = 48, bands = 8, threshold = 0.5)
      .withColumn("split_a", graft.ops.Splits.split(col("id_a")))
      .withColumn("split_b", graft.ops.Splits.split(col("id_b")))
      .filter(col("split_a") =!= col("split_b"))
      .collect()
    assert(leaked.length == 1, s"expected exactly the planted pair, got " +
      s"${leaked.mkString(", ")}")
    val r = leaked.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 20L)
    assert(r.getString(3) == "train" && r.getString(4) == "test")
  }

  test("q159 on the corpus: every emitted pair crosses splits and clears " +
      "the jaccard threshold") {
    val rows = CurationQueries.q159_split_leakage(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getString(2) != r.getString(3),
        s"pair does not cross splits: $r")
      assert(r.getDouble(4) >= 0.5, s"sub-threshold pair leaked: $r")
    }
  }

  test("q160 budget curve: buckets bounded, cumulative sums consistent " +
      "best-bucket-down, totals equal the corpus") {
    // the query's rows are unordered: replay the prefix sums in q_bucket
    // DESC order
    val rows = CurationQueries.q160_budget_curve(spark, sf).collect()
      .sortBy(-_.getLong(0))
    assert(rows.nonEmpty)
    var cd = 0L; var ct = 0L
    rows.foreach { r =>
      val bucket = r.getLong(0)
      assert(bucket >= 0L && bucket <= 20L, s"bucket out of range: $r")
      cd += r.getLong(1); ct += r.getLong(2)
      assert(r.getLong(3) == cd && r.getLong(4) == ct,
        s"cumulative drifted from replayed prefix sum at $r")
    }
    val docs = graft.queries.Tables.documents(spark, sf)
    assert(cd == docs.count(), "cum_docs total != corpus size")
  }

  test("q163 dataset card: one row per source, ppm figures in range, " +
      "totals equal the corpus") {
    val rows = CurationQueries.q163_dataset_card(spark, sf).collect()
    val docs = graft.queries.Tables.documents(spark, sf)
    val nSources = docs.select("source").distinct().count()
    assert(rows.length.toLong == nSources, "not one row per source")
    rows.foreach { r =>
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L,
        s"dup_ppm out of range: $r")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L,
        s"mean_quality_ppm out of range: $r")
      assert(r.getLong(3) >= 1L, s"a source with docs has no language: $r")
    }
    assert(rows.map(_.getLong(1)).sum == docs.count(),
      "per-source doc counts do not sum to the corpus")
  }

  test("epoch allocation (q195): the waterfall never exceeds the budget, " +
      "epochs are monotone non-increasing down the quality order, the " +
      "best bucket is fully funded, and a boundary bucket is partial") {
    val rows = graft.queries.CurationQueries
      .q195_epoch_allocation(spark, sf).collect().sortBy(-_.getLong(0))
    // rows in q_bucket DESC order: (bucket, docs, tokens, epochs, alloc)
    val totalTokens = rows.map(_.getLong(2)).sum
    val budget = 2L * totalTokens
    val alloc = rows.map(_.getLong(4)).sum
    assert(alloc <= budget,
      s"allocated $alloc exceeds budget $budget")
    val epochs = rows.map(_.getLong(3)).toSeq
    assert(epochs === epochs.sorted.reverse,
      s"epochs must be non-increasing down the quality order: $epochs")
    assert(epochs.forall(e => e >= 0L && e <= 4L),
      s"epochs outside the 0..4 cap: $epochs")
    // budget = 2x corpus at a 4-epoch cap guarantees the top bucket is
    // fully funded and that SOME bucket gets nothing (4x everything
    // would need twice the budget) — the waterfall's shape, not a
    // tuning accident
    assert(epochs.head === 4L, "the best bucket must be fully funded")
    assert(epochs.last === 0L || alloc === budget,
      "with a 2x budget under a 4x cap, allocation must exhaust either " +
        "the budget or the low-quality tail")
    // every epoch value is exactly the closed-form waterfall:
    // clamp((B - 4*tokens_above) / tokens, 0, 4)
    var above = 0L
    rows.foreach { r =>
      val (toks, e) = (r.getLong(2), r.getLong(3))
      val want = math.min(4L,
        math.max(0L, (budget - 4L * above) / math.max(toks, 1L)))
      assert(e === want, s"bucket ${r.getLong(0)}: epochs $e != $want")
      above += toks
    }
  }
}
