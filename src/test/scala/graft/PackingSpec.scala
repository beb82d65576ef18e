package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Packing, Splits}

/** Property tests for the packing and split arithmetic (q84/q95): the
  * `// 2048` exact-arithmetic and hierarchical-rebase claims are pinned by
  * generators over adversarial token counts — 0-token docs, exact
  * 2048-multiples, id gaps — not just the oracle corpus. Raw ScalaCheck
  * generators with fixed seeds (the scalatest bridge is not in the
  * offline cache), so failures are reproducible.
  */
class PackingSpec extends AnyFunSuite with SharedSpark {

  private def forAll[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(1337L + i)).foreach(body)
    }

  /** (doc_id, source, n_toks) with id gaps, 0-token docs, and exact
    * seqLen multiples — every boundary the floor/mod arithmetic can hit.
    */
  private val genCorpus: Gen[List[(Long, String, Long)]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, for {
      gap <- Gen.chooseNum(1L, 50L) // sparse, non-contiguous ids
      src <- Gen.oneOf("cc", "wiki", "code")
      toks <- Gen.frequency(
        3 -> Gen.chooseNum(0L, 5000L),
        1 -> Gen.const(0L),
        1 -> Gen.oneOf(2048L, 4096L, 2047L, 2049L))
    } yield (gap, src, toks))
  } yield {
    var id = 0L
    rows.map { case (gap, src, toks) => id += gap; (id, src, toks) }
  }

  /** Driver-side single-pass reference: the definition of packing. */
  private def refPack(rows: Seq[(Long, String, Long)],
      seqLen: Long): Map[Long, (Long, Long)] =
    rows.groupBy(_._2).flatMap { case (_, rs) =>
      var cum = 0L
      rs.sortBy(_._1).map { case (id, _, toks) =>
        val out = id -> (cum / seqLen, cum % seqLen)
        cum += toks
        out
      }
    }

  private def runPack(rows: Seq[(Long, String, Long)], seqLen: Long,
      shardRows: Long): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Packing.packSequences(rows.toDF("doc_id", "source", "n_toks"),
        "doc_id", "source", "n_toks", seqLen, shardRows)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
  }

  test("property: packSequences equals the single-pass reference for ANY " +
      "shard width (the hierarchical rebase is exact)") {
    forAll(genCorpus) { rows =>
      val expected = refPack(rows, 2048L)
      // shard widths spanning one-doc-per-shard → everything-in-one-shard
      for (shardRows <- Seq(1L, 3L, 100L, 1L << 20)) {
        assert(runPack(rows, 2048L, shardRows) === expected,
          s"shardRows=$shardRows diverged from the reference pack")
      }
      // NON-power-of-two seqLen: placement is long integer division, so
      // any divisor must be exact (the old double-division form was only
      // exact for power-of-two seqLen)
      for (seqLen <- Seq(1000L, 7L)) {
        assert(runPack(rows, seqLen, 3L) === refPack(rows, seqLen),
          s"seqLen=$seqLen diverged from the reference pack")
      }
    }
  }

  test("property: offsets are canonical — 0 <= seq_offset < seqLen, " +
      "seq_id*seqLen + seq_offset reconstructs the running total, and " +
      "each source starts at (0, 0)") {
    forAll(genCorpus) { rows =>
      val got = runPack(rows, 2048L, 7L)
      val bySrc = rows.groupBy(_._2)
      bySrc.foreach { case (_, rs) =>
        var cum = 0L
        rs.sortBy(_._1).zipWithIndex.foreach { case ((id, _, toks), i) =>
          val (seqId, off) = got(id)
          assert(off >= 0 && off < 2048, s"doc $id offset $off out of range")
          assert(seqId * 2048 + off === cum,
            s"doc $id landed at ($seqId,$off), running total was $cum")
          if (i == 0) assert((seqId, off) === ((0L, 0L)),
            s"first doc of a source must land at (0,0), got ($seqId,$off)")
          cum += toks
        }
      }
    }
  }

  test("packing boundaries: a doc ending exactly on a 2048 multiple puts " +
      "its successor at offset 0 of the next sequence") {
    import spark.implicits._
    val rows = Seq((1L, "s", 2048L), (2L, "s", 4096L), (3L, "s", 0L),
      (4L, "s", 1L), (5L, "s", 2047L), (6L, "s", 5L))
    val got = runPack(rows, 2048L, 2L)
    assert(got(1L) === ((0L, 0L)))
    assert(got(2L) === ((1L, 0L)))   // 2048 → next sequence, offset 0
    assert(got(3L) === ((3L, 0L)))   // 2048+4096 → sequence 3
    assert(got(4L) === ((3L, 0L)))   // 0-token doc consumed no space
    assert(got(5L) === ((3L, 1L)))
    assert(got(6L) === ((4L, 0L)))   // 6144+1+2047 = 8192 → boundary again
  }

  test("property: N incremental pack batches == one full pack over the " +
      "concatenation, with totals threading through stored state") {
    import spark.implicits._
    forAll(genCorpus, n = 5) { rows =>
      val full = refPack(rows, 2048L)
      // cut the id-sorted corpus into up to 3 append-only (id-range)
      // batches — the ingest contract incremental packing rides on
      val sorted = rows.sortBy(_._1)
      val cuts = sorted.grouped(math.max(1, (sorted.size + 2) / 3)).toSeq
      var totals = Seq.empty[(String, Long)].toDF("source", "_base_toks")
      val placed = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      cuts.foreach { batch =>
        val (p, t) = Packing.packSequencesIncremental(
          batch.toDF("doc_id", "source", "n_toks"),
          "doc_id", "source", "n_toks", 2048L, 7L, totals)
        p.collect().foreach(r =>
          placed(r.getLong(0)) = (r.getLong(3), r.getLong(4)))
        totals = t
        totals.collect() // force: totals must be consumable as plain data
      }
      assert(placed.toMap === full,
        "incremental placements diverged from the full pack")
      // stored totals after the last batch = per-source corpus totals
      val gotTotals = totals.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantTotals = rows.groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toMap
      assert(gotTotals === wantTotals)
    }
  }

  test("property: shuffleKey is collision-free and hash-ordered past the " +
      "2^20 id boundary when idBits widens, and overflow raises per-row") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def refKey(id: Long, idBits: Int): Long = {
      val nibbles = (60 - idBits) / 4
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(nibbles)
      java.lang.Long.parseLong(hex, 16) * (1L << idBits) + id
    }
    // ids straddling the 2^20 boundary the default split caps at
    val genIds = Gen.listOfN(40, Gen.oneOf(
      Gen.chooseNum(0L, (1L << 20) - 1),
      Gen.chooseNum(1L << 20, (1L << 32) - 1)))
    forAll(genIds, n = 4) { raw =>
      val ids = raw.distinct
      val got = ids.toDF("doc_id")
        .select(col("doc_id"),
          Packing.shuffleKey(col("doc_id"), idBits = 32).as("k"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // exact construction match → collision-freedom and ordering follow
      ids.foreach { id =>
        assert(got(id) === refKey(id, 32), s"key($id) diverged from JVM md5")
      }
      assert(got.values.toSeq.distinct.size === ids.size, "key collision")
      // key order == (hash prefix, id) order — the shuffled-epoch contract
      val byKey = ids.sortBy(got)
      val byHash = ids.sortBy(id => (refKey(id, 32) >> 32, id))
      assert(byKey === byHash, "key order diverged from (hash, id) order")
    }
    // the default 20-bit split REFUSES ids past its boundary rather than
    // silently colliding
    val e = intercept[Exception] {
      Seq(1L << 20).toDF("doc_id")
        .select(Packing.shuffleKey(col("doc_id"), idBits = 20)).collect()
    }
    assert(e.getMessage.contains("overflow") ||
      Option(e.getCause).exists(_.getMessage.contains("overflow")))
  }

  test("property: the split arithmetic matches an independent JVM md5 " +
      "reference, buckets stay in [0,100), and labels follow 90/5/5") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def refBucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    forAll(Gen.listOfN(50, Gen.chooseNum(0L, Long.MaxValue / 2)), n = 5) { ids =>
      val got = ids.distinct.toDF("doc_id")
        .select(col("doc_id"), Splits.bucket(col("doc_id")).as("b"),
          Splits.split(col("doc_id")).as("s"))
        .collect()
      got.foreach { r =>
        val (id, b, s) = (r.getLong(0), r.getLong(1), r.getString(2))
        assert(b === refBucket(id), s"bucket($id) diverged from JVM md5")
        assert(b >= 0 && b < 100)
        val want = if (b < 90) "train" else if (b < 95) "val" else "test"
        assert(s === want)
      }
    }
  }
}
