package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq

/** Sequence packing: GPT-style concat-then-chunk placement. Docs
  * concatenate in id order within each source; each doc's landing position
  * is (seq_id, seq_offset) over fixed-length token sequences — both pure
  * functions of the per-source running token total.
  *
  * Scale design — the naive form is a window PARTITIONED BY source ORDER
  * BY id, which serializes ALL of one source's rows through a single task;
  * a dominant source (Common Crawl is >50% of any real mix) makes that the
  * job's straggler at 100 TB. This implementation packs HIERARCHICALLY:
  *
  *  1. shard every source by id range (`shard = id / shardRows` — range,
  *     not hash, so shard order IS id order within a source);
  *  2. a per-(source, shard) window computes each doc's LOCAL running
  *     total — parallel across shards, each sort bounded by `shardRows`;
  *  3. per-shard token totals (one row per (source, shard) — tiny: ~1e5
  *     rows for 1e11 docs at the default shard size) get a per-source
  *     prefix sum, the only source-partitioned window left, over
  *     shard-count rows instead of doc-count rows;
  *  4. the broadcast shard bases rebase every local total to the global
  *     running total — identical output to the single-window form for any
  *     shardRows (PackingSpec pins this by property).
  *
  * This is the same two-stage partial/rebase trick Skew.saltedAgg uses for
  * skewed aggregation, applied to a prefix sum.
  */
object Packing {

  /** Deterministic global-shuffle key: the doc's md5 prefix in the high
    * bits, its own id in the low `idBits` — so key order is a
    * pseudo-random permutation (hash-prefix order) that stays
    * collision-free BY CONSTRUCTION for any distinct in-range ids, with
    * no global ranking step. The split is width-configurable: hash
    * nibbles = (60 − idBits)/4, keeping every key under 2^61 (exact in a
    * long, and in DuckDB's BIGINT for oracle parity). idBits=20 (the
    * q100 default) gives 40 hash bits; a 10⁹-doc deployment passes
    * idBits=32 and trades 12 hash bits for the wider id space.
    *
    * Out-of-range ids fail LOUDLY per row (raise_error inside the
    * projection — one codegen'd comparison): a key collision would
    * silently make packing placement run-dependent, which is exactly the
    * byte-identical-feed guarantee this key exists to provide.
    */
  def shuffleKey(id: Column, idBits: Int = 20): Column = {
    require(idBits >= 4 && idBits <= 56 && idBits % 4 == 0,
      s"idBits must be a multiple of 4 in [4, 56], got $idBits")
    val lim = 1L << idBits
    val hashNibbles = (60 - idBits) / 4
    val guard = when(id.cast("long") < 0 || id.cast("long") >= lim,
      raise_error(format_string(
        s"shuffleKey(idBits=$idBits) overflow: doc_id %s outside [0, $lim)" +
          " — widen idBits", id.cast("long"))).cast("long"))
      .otherwise(lit(0L))
    conv(substring(md5(id.cast("string")), 1, hashNibbles), 16, 10)
      .cast("long") * lit(lim) + id.cast("long") + guard
  }

  /** @param counts    one row per doc, carrying at least (idCol, srcCol,
    *                  tokCol); idCol must be numeric and unique (packing
    *                  order is idCol asc); extra columns pass through
    * @param seqLen    tokens per packed sequence (any positive value —
    *                  placement math is long integer division throughout)
    * @param shardRows id-range width of one packing shard
    * @return the input columns + (seq_id, seq_offset)
    */
  def packSequences(counts: DataFrame, idCol: String, srcCol: String,
      tokCol: String, seqLen: Long, shardRows: Long): DataFrame =
    place(cumBefore(counts, idCol, srcCol, tokCol, shardRows),
      ArraySeq.unsafeWrapArray(counts.columns), seqLen)

  /** INCREMENTAL pack: place an id-monotone batch as the CONTINUATION of
    * an already-packed corpus, using a stored per-source token total
    * (`baseTotals`: one row per source, `_base_toks`) instead of
    * re-packing the standing corpus — the streaming-append shape of the
    * training feed (per-batch cost, like [[graft.pipeline.CorpusBuild]]'s
    * ingest tiers). Sources absent from `baseTotals` start at 0. Returns
    * the batch's placements plus the UPDATED totals to store back; N
    * sequential calls produce exactly the placements of one full
    * [[packSequences]] over the concatenation (PackingSpec property) —
    * provided batches respect the append-only id contract the caller's
    * ingest pipeline already enforces.
    */
  def packSequencesIncremental(counts: DataFrame, idCol: String,
      srcCol: String, tokCol: String, seqLen: Long, shardRows: Long,
      baseTotals: DataFrame): (DataFrame, DataFrame) = {
    val based = cumBefore(counts, idCol, srcCol, tokCol, shardRows)
      // per-source scalar totals: broadcast-sized by construction
      .join(broadcast(baseTotals), Seq(srcCol), "left")
      .withColumn("_cum_before",
        coalesce(col("_base_toks"), lit(0L)) + col("_cum_before"))
    val placements =
      place(based, ArraySeq.unsafeWrapArray(counts.columns), seqLen)
    val newTotals = counts.groupBy(col(srcCol))
      .agg(sum(col(tokCol)).as("_batch_toks"))
      .join(baseTotals, Seq(srcCol), "full")
      .select(col(srcCol),
        (coalesce(col("_base_toks"), lit(0L)) +
          coalesce(col("_batch_toks"), lit(0L))).as("_base_toks"))
    (placements, newTotals)
  }

  /** The hierarchical running-total core: every input column plus
    * `_cum_before` (tokens strictly before this doc within its source).
    */
  private def cumBefore(counts: DataFrame, idCol: String, srcCol: String,
      tokCol: String, shardRows: Long): DataFrame = {
    require(shardRows > 0, "shardRows must be positive")
    val sharded = counts.withColumn("_shard",
      floor(col(idCol) / shardRows).cast("long"))
    val wLocal = Window.partitionBy(col(srcCol), col("_shard"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sharded.withColumn("_local_before",
      coalesce(sum(col(tokCol)).over(wLocal), lit(0L)))
    // one row per (source, shard): the per-source prefix sum over these is
    // over shard-count rows, never doc-count rows
    val wShard = Window.partitionBy(col(srcCol)).orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = sharded.groupBy(col(srcCol), col("_shard"))
      .agg(sum(col(tokCol)).as("_shard_toks"))
      .withColumn("_shard_base",
        coalesce(sum(col("_shard_toks")).over(wShard), lit(0L)))
      .select(col(srcCol), col("_shard"), col("_shard_base"))
    local.join(broadcast(bases), Seq(srcCol, "_shard"))
      .withColumn("_cum_before", col("_shard_base") + col("_local_before"))
  }

  /** (seq_id, seq_offset) from `_cum_before`. DIV, not `/`: Column./ is
    * double division, whose long round-trip is only exact for power-of-two
    * divisors under 2^53 — integer division is exact for ANY seqLen and
    * corpus size.
    */
  private def place(withCum: DataFrame, outCols: Seq[String],
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    withCum.select(outCols.map(col) :+
      expr(s"_cum_before DIV ${seqLen}L").as("seq_id") :+
      pmod(col("_cum_before"), lit(seqLen)).as("seq_offset"): _*)
  }
}
