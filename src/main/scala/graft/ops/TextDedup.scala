package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Deduplication operators for document corpora, exact → near-dup.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is a hash group-by — one shuffle on a 128-bit digest, with
  *    map-side partial aggregation;
  *  - MinHash+LSH avoids the O(n²) pair space entirely: signatures are
  *    computed per row (narrow), banded keys are exploded (×bands), and the
  *    only shuffle is a self-join on (band, band-hash) buckets whose
  *    candidate set is linear in the number of true near-dups;
  *  - SimHash gives a 64-bit sketch joined on 16-bit bands (Hamming ≤ k by
  *    pigeonhole: any pair within distance k collides on ≥1 of k+1 bands);
  *  - exact n-gram Jaccard is kept for block-scoped verification (and as
  *    the oracle-checkable reference implementation).
  *
  * All candidate generation uses codegen'd built-ins (xxhash64, transform,
  * explode) — no UDF in the hot path.
  */
object TextDedup {

  /** Eager materialization at the `spark.graft.checkpointMode` tier (see
    * [[Materialize]]: localCheckpoint locally, persist/reliable checkpoint
    * on a cluster), unless `spark.graft.eagerMaterialize=false` — the
    * escape hatch for plan-only inspection (PlanSpec's suite audit), where
    * executing the shingle pipeline just to look at a physical plan is
    * waste. Queries and benchmarks run with the default (true).
    */
  def maybeMaterialize(df: DataFrame): DataFrame = Materialize.maybe(df)

  /** Exact duplicate groups by content digest: survivor = min id per digest.
    * (Digest-collision risk at 100 TB: md5 over normalized text; swap for
    * sha2-256 via `hashCol` if paranoia demands.)
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String,
      hashCol: Column => Column = md5): DataFrame =
    df.groupBy(hashCol(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The (id, block, sh) shingle relation every dedup tier consumes: sh is
    * the doc's DISTINCT word n-grams, SORTED so verification is a single
    * linear merge (SortedOverlapCount). Build it once, `localCheckpoint()`
    * (or persist(MEMORY_AND_DISK) on a cluster) and feed the
    * `...FromShingles` tiers — a multi-tier pipeline (e.g. the q67
    * precision gate) then pays the scan+shingle cost once.
    */
  def shingleRelation(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, n: Int): DataFrame =
    df.select(
      col(idCol).as("id"), blockCol.as("block"),
      sort_array(TextAnalysis.shingles(col(textCol), n)).as("sh"))
      .filter(size(col("sh")) > 0)

  /** EXACT pairwise n-gram Jaccard ≥ threshold within a blocking column,
    * via prefix filtering (the AllPairs/PPJoin family): sort every doc's
    * shingle set by global rarity, emit only the first
    * |S| - ⌈t·|S|⌉ + 1 shingles, and generate candidates from docs sharing
    * a prefix shingle — any pair with J ≥ t is guaranteed to collide
    * (pigeonhole over the common total order), so recall is exactly 1 while
    * the pair space drops from O(block²) to near-linear in true matches.
    * A size-ratio prune (J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t) is applied in the
    * candidate join; survivors are verified with exact set Jaccard.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, threshold: Double,
      materialize: Boolean = true): DataFrame = {
    // The shingle relation is referenced three times in this DAG (frequency
    // derivation + both verify join-backs) and the prefix relation twice
    // (the candidate self-join). Without materialization Spark re-executes
    // the scan+shingle pipeline per reference; an eager localCheckpoint
    // computes each once and serves the re-reads from executor-local blocks
    // (reclaimed by the ContextCleaner once the plan is unreferenced). At
    // cluster scale the same role is played by persist(MEMORY_AND_DISK) on
    // a corpus-sized shingle relation.
    val shRaw = shingleRelation(df, idCol, textCol, col(blockCol), n)
    val sh = if (materialize) maybeMaterialize(shRaw) else shRaw
    ngramJaccardPairsFromShingles(sh, threshold)
  }

  /** The shared pair + connected-components substrate behind the dedup
    * cluster family — q56 groups, q74 survivor selection, q97 cluster-size
    * distribution are all readouts over THIS relation: exact n-gram
    * Jaccard pairs within a blocking column, closed into min-label
    * components over every doc (singletons label themselves). Returns
    * ("id", "component").
    *
    * Factored to one definition so a driver that caches (or a pipeline
    * that materializes it q88-style, one scored relation → N consumers)
    * pays the pair+CC cost once for all three readouts; the caching
    * consumer is [[dedupClusterRelationShared]].
    */
  def dedupClusterRelation(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, threshold: Double): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, blockCol, n, threshold)
      .select("id_a", "id_b")
    Components.connectedComponents(docs.select(col(idCol).as("id")), pairs)
  }

  /** The memo key of the shared labeling: (session, `corpusKey`,
    * blocking params). `corpusKey` names the corpus (the sf dir in the
    * query suite) so different scales in one process cannot mix
    * labelings; the second parameter list carries what the build reads
    * and stays out of equality.
    */
  private case class ClusterKey(spark: org.apache.spark.sql.SparkSession,
      corpusKey: String, blockCol: String, n: Int, threshold: Double)(
      val docs: DataFrame, val idCol: String, val textCol: String)

  // The q56/q74/q97/q179 readouts consume ONE labeling. connectedComponents
  // returns checkpoint-backed labels, so the build is not materialized
  // again: later readouts re-scan doc-count-sized blocks.
  private val clusters = new Materialize.Shared[ClusterKey](k =>
    dedupClusterRelation(k.docs, k.idCol, k.textCol, k.blockCol, k.n,
      k.threshold))

  /** [[dedupClusterRelation]] computed ONCE per (session, `corpusKey`,
    * blocking params) and served to every readout over the same corpus.
    */
  def dedupClusterRelationShared(docs: DataFrame, corpusKey: String,
      idCol: String, textCol: String, blockCol: String, n: Int,
      threshold: Double): DataFrame =
    clusters.serve(ClusterKey(docs.sparkSession, corpusKey, blockCol, n,
      threshold)(docs, idCol, textCol))

  /** Always BUILD the labeling, then publish it into the memo — q56's
    * path, so a per-query benchmark bills the pair+CC build to it.
    */
  def dedupClusterRelationPublish(docs: DataFrame, corpusKey: String,
      idCol: String, textCol: String, blockCol: String, n: Int,
      threshold: Double): DataFrame =
    clusters.publish(ClusterKey(docs.sparkSession, corpusKey, blockCol, n,
      threshold)(docs, idCol, textCol))

  /** The prefix-filtered exact tier over a prebuilt [[shingleRelation]]. */
  def ngramJaccardPairsFromShingles(sh: DataFrame,
      threshold: Double): DataFrame =
    ngramJaccardPairsImpl(sh.withColumn("fresh", lit(true)), threshold,
      touchingFreshOnly = false)

  /** The INCREMENTAL exact tier: pairs with at least one endpoint in
    * `shNew`, over the union rarity order — the stored-CC fold's pair
    * source. Standing×standing pairs are never candidates (their
    * closure already lives in the stored labels), so per-batch work is
    * sized by the batch's candidates, not the corpus's. The prefix
    * recall proof is pair-wise over a shared total order, which the
    * union df provides, so recall stays exactly 1.
    */
  def ngramJaccardPairsTouching(shNew: DataFrame, shStand: DataFrame,
      threshold: Double): DataFrame =
    ngramJaccardPairsImpl(
      shNew.withColumn("fresh", lit(true))
        .unionByName(shStand.withColumn("fresh", lit(false))),
      threshold, touchingFreshOnly = true)

  private def ngramJaccardPairsImpl(sh: DataFrame, threshold: Double,
      touchingFreshOnly: Boolean): DataFrame = {
    // global shingle document-frequency = the rarity order, computed over
    // the 8-byte xxhash64 of the shingle rather than the string: the df
    // shuffle and the rank join then move long keys, not n-gram text. A
    // hash collision only MERGES two shingles' df (a different — still
    // shared — total order) and can only ADD candidates, both of which
    // the exact-Jaccard verify absorbs; recall needs just a deterministic
    // order common to both endpoints, which (df, hash) is. nsz rides
    // along from the array size (shingles are distinct by construction).
    val exploded = sh.select(col("id"), col("block"), col("fresh"),
      size(col("sh")).as("nsz"),
      explode(transform(col("sh"), s => xxhash64(s))).as("p"))
    val freq = exploded.groupBy("p").agg(count(lit(1)).as("df"))

    // the rarity prefix directly from a per-doc rank — no collect/sort/
    // re-explode array round-trip; one shuffle on the doc id either way.
    // The 1e-9 slack makes float-boundary cases (nsz·t landing exactly on
    // an integer but computed as x.000000001) err toward a LONGER prefix —
    // never a shorter one, so the recall guarantee survives rounding.
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "p")
    val prefixRowsRaw = exploded.join(freq, "p")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <=
        (col("nsz") - ceil(col("nsz") * threshold - 1e-9) + 1).cast("int"))
      .select(col("id"), col("block"), col("fresh"), col("nsz"), col("rn"),
        col("p"))
    // NOT materialized: both sides of the candidate self-join are this
    // same plan, so Spark's ReuseExchange serves the second side from the
    // first's shuffle files — measured FASTER than an eager checkpoint,
    // which serializes a full materialization job before the join starts
    val prefixRows = prefixRowsRaw

    // Overlap needed for J >= t: |A∩B| >= t/(1+t) · (|A|+|B|). The 1e-9
    // slack errs toward a SMALLER required overlap — candidates at the
    // boundary are kept, never pruned.
    val overlapNeeded =
      ceil((col("a.nsz") + col("b.nsz")) * (threshold / (1d + threshold))
        - 1e-9)

    // candidates: shared prefix shingle + size-ratio prune + PPJoin-style
    // positional prune; ids only (the shingle arrays are joined back after
    // dedup, not dragged through the explode).
    //
    // Positional bound: for a match at rarity ranks (i, j), common shingles
    // are totally ordered the same way in both docs, so at most min(i,j)−1
    // precede the match and at most min(|A|−i, |B|−j) follow it:
    //   |A∩B| ≤ min(i,j) + min(|A|−i, |B|−j).
    // The bound holds for EVERY matching row (not just the first common
    // shingle), so pruning rows whose bound can't reach the needed overlap
    // keeps recall at exactly 1.
    val a = prefixRows.as("a")
    val b = prefixRows.as("b")
    val touching =
      if (touchingFreshOnly) col("a.fresh") || col("b.fresh") else lit(true)
    val candidates = a.join(b,
        touching &&
          col("a.p") === col("b.p") && col("a.block") === col("b.block") &&
          col("a.id") < col("b.id") &&
          // same 1e-9 slack: a boundary-exact size ratio must not be pruned
          col("a.nsz") * threshold <= col("b.nsz") + 1e-9 &&
          col("b.nsz") * threshold <= col("a.nsz") + 1e-9 &&
          (least(col("a.rn"), col("b.rn")) +
            least(col("a.nsz") - col("a.rn"), col("b.nsz") - col("b.rn")))
            >= overlapNeeded)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    verifyPairs(candidates, sh, threshold)
  }

  /** EXACT asymmetric containment pairs — C(A→B) = |A∩B| / |A| ≥ tNum/tDen
    * within a blocking column: the quote/boilerplate detector Jaccard
    * can't be (a 50-shingle notice pasted into a 5000-shingle doc sits at
    * J ≈ 0.01 but containment 1.0). The threshold is a RATIONAL tNum/tDen
    * and every filter is integer arithmetic, so the emitted pair set and
    * ppm scores are bit-identical across engines — no float boundary
    * cases by construction.
    *
    * Prefix filtering, containment variant (AllPairs/PPJoin family, as
    * [[ngramJaccardPairsFromShingles]]): a match needs
    * o = ⌈t·|A|⌉ common shingles, so if none of A's |A|−o+1 rarest
    * shingles hits B, at most the o−1 remaining can — pigeonhole gives
    * recall exactly 1 with only the CONTAINED side exploded to a prefix.
    * The container side indexes ALL its shingles (B may be arbitrarily
    * larger than A — that asymmetry is the point), with a one-sided size
    * prune (|B|·tDen ≥ |A|·tNum, since |A∩B| ≤ |B|) and the same
    * positional bound as the Jaccard tier. Survivors verify with one
    * sorted-merge intersection count.
    *
    * Returns (id_a = contained, id_b = container, containment_ppm) —
    * ppm as exact integer division, BIGINT on both engines.
    */
  def containmentPairsFromShingles(sh: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"containment threshold must be a rational in (0,1]: $tNum/$tDen")
    val exploded = sh.select(col("id"), col("block"),
      size(col("sh")).as("nsz"), explode(col("sh")).as("s"))
    val freq = exploded.groupBy("s").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "s")
    // needed overlap o = ⌈tNum·|A| / tDen⌉, exactly, in integers
    val needed = expr(s"CAST((nsz * $tNum + $tDen - 1) DIV $tDen AS INT)")
    // NOT materialized: an eager checkpoint of this relation was A/B'd
    // in round 16 and LOST (2.00 -> 2.65 s on q125) — the probe and
    // index sides differ only above the shared scan+df exchange, which
    // ReuseExchange already serves from one shuffle, so the checkpoint
    // job bought less than it cost
    val ranked = exploded.join(freq, "s")
      .withColumn("rn", row_number().over(byRarity))
      .select(col("id"), col("block"), col("nsz"), col("rn"),
        needed.as("need"), xxhash64(col("s")).as("p"))
    // probe side = potential CONTAINED docs, rarity prefix only; index
    // side = every doc on every shingle (the container is never pruned
    // by its own size, only by the pair-level size bound below)
    val probe = ranked.filter(col("rn") <= col("nsz") - col("need") + 1)
    val candidates = probe.as("a").join(ranked.as("b"),
        col("a.p") === col("b.p") && col("a.block") === col("b.block") &&
          col("a.id") =!= col("b.id") &&
          // |A∩B| ≤ |B|, so a match forces |B|·tDen ≥ |A|·tNum
          col("b.nsz") * tDen >= col("a.nsz") * tNum &&
          // positional bound (identical argument to the Jaccard tier):
          // |A∩B| ≤ min(i,j) + min(|A|−i, |B|−j) for every matching row
          (least(col("a.rn"), col("b.rn")) +
            least(col("a.nsz") - col("a.rn"), col("b.nsz") - col("b.rn")))
            >= col("a.need"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        size(col("sh")).as("na")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("ov", graft.functions.SketchExpressions
        .sortedOverlapCount(col("sh_a"), col("sh_b")))
      .filter(col("ov").cast("long") * tDen >= col("na").cast("long") * tNum)
      .select(col("id_a"), col("id_b"),
        expr("(1000000L * CAST(ov AS BIGINT)) DIV CAST(na AS BIGINT)")
          .as("containment_ppm"))
  }

  /** [[containmentPairsFromShingles]] over fresh shingles. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, tNum: Int, tDen: Int,
      materialize: Boolean = true): DataFrame = {
    val shRaw = shingleRelation(df, idCol, textCol, col(blockCol), n)
    val sh = if (materialize) maybeMaterialize(shRaw) else shRaw
    containmentPairsFromShingles(sh, tNum, tDen)
  }

  /** MinHash signature: H independent permutations approximated by a
    * SplitMix64 family over one xxhash64 per shingle — a native expression
    * (graft.functions.MinHashSignature); the interpreted nested-lambda
    * formulation cost ~10⁸ boxed evals at sf0.1.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.SketchExpressions.minhashSignature(shingleCol, numHashes)

  /** LSH banding: split the signature into `bands` groups and hash each
    * group; two docs sharing any banded hash become candidates.
    */
  def lshBandKeys(sigCol: Column, numHashes: Int, bands: Int): Column = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — zero-width bands " +
        "put every doc in one bucket and the self-join degenerates to O(n²)")
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws("_", slice(sigCol, b * rows + 1, rows))).as("bucket"))
    }: _*)
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → bucket
    * self-join → exact-Jaccard verify ≥ threshold. Returns (id_a, id_b,
    * jaccard) candidate-verified pairs.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      materialize: Boolean = true): DataFrame = {
    // referenced 3× (signature pipeline + both verify join-backs) — same
    // materialize-once rationale as ngramJaccardPairs
    val shRaw = shingleRelation(df, idCol, textCol, lit(""), n)
    val sh = if (materialize) maybeMaterialize(shRaw) else shRaw
    minhashLshPairsFromShingles(sh, numHashes, bands, threshold)
  }

  /** The banded MinHash tier over a prebuilt [[shingleRelation]]. */
  def minhashLshPairsFromShingles(sh: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val banded = bandedKeys(sh, numHashes, bands)
    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, sh, threshold)
  }

  /** Banded MinHash bucket keys only — the shingle arrays are joined back
    * onto the deduped candidate pairs, never replicated through the band
    * explode.
    */
  private def bandedKeys(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sh.withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"),
        explode(lshBandKeys(col("sig"), numHashes, bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    * shingle relation, shared by the prefix-filter and every MinHash
    * tier: one sorted-merge intersection count; |A∪B| = |A|+|B|−|A∩B|
    * (both sides distinct), so the double division has the identical
    * integer numerator/denominator as the intersect/union formulation —
    * bit-for-bit the same jaccard.
    */
  private def verifyPairs(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        size(col("sh")).as("na")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
        size(col("sh")).as("nb")), "id_b")
      .withColumn("ov", graft.functions.SketchExpressions
        .sortedOverlapCount(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("ov").cast("double") /
          (col("na") + col("nb") - col("ov")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Incremental near-dup detection for a daily ingest: candidate pairs
    * must touch the NEW batch — new×standing bucket collisions plus
    * new×new within the batch — so the standing corpus is never re-paired
    * against itself. At scale the standing side's shingle/signature
    * relation is a stored artifact (built once per corpus version, cf.
    * shingleRelation's doc); the per-ingest cost is proportional to the
    * batch, not the corpus. Ids of the two sides must be disjoint (the
    * ingest contract); pairs normalize to id_a < id_b.
    */
  def minhashLshPairsIncremental(newDf: DataFrame, standingDf: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val shNew = maybeMaterialize(shingleRelation(newDf, idCol, textCol, lit(""), n))
    val shStand = shingleRelation(standingDf, idCol, textCol, lit(""), n)
    minhashLshPairsIncrementalFromShingles(shNew, shStand, numHashes, bands,
      threshold)
  }

  /** The incremental tier over prebuilt shingle relations — for pipelines
    * that already hold the standing corpus's (materialized) shingles,
    * e.g. q103's standing-CC + incremental-merge pair, which pays the
    * standing scan+shingle cost once for both tiers.
    */
  def minhashLshPairsIncrementalFromShingles(shNew: DataFrame,
      shStand: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val bNew = bandedKeys(shNew, numHashes, bands)
    val bStand = bandedKeys(shStand, numHashes, bands)
    val cross = bNew.select(col("id").as("new_id"), col("band"), col("bucket"))
      .join(bStand.select(col("id").as("std_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(least(col("new_id"), col("std_id")).as("id_a"),
        greatest(col("new_id"), col("std_id")).as("id_b"))
    val within = bNew.as("x").join(bNew.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val candidates = cross.unionByName(within).dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, shNew.unionByName(shStand), threshold)
  }

  /** 64-bit SimHash from token hashes: bit i of the sketch is set when more
    * than half the token hashes have bit i set. Native expression
    * (graft.functions.SimHash64) — one pass over the tokens per row.
    */
  def simhash64(textCol: Column): Column =
    graft.functions.SketchExpressions.simhash64(TextAnalysis.tokens(textCol))

  /** SimHash near-dup pairs within Hamming distance ≤ maxDist, using band
    * blocking (bands of sigBits/bands bits; by pigeonhole any pair within
    * distance bands-1 collides on ≥1 band) and bit_count(xor) verification.
    * Band width trades candidate volume for guaranteed distance: 8×8-bit
    * bands (default) guarantee ≤7; huge corpora should widen bands (4×16)
    * and accept ≤3, or add a second LSH round. `crossEngine = true`
    * switches to the 60-bit md5-head sketch (see [[SketchExpressions
    * .simhash60]]) so a second engine can reprice every signature —
    * bands must then divide 60 (q20 uses 10×6-bit bands).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, bands: Int = 8, crossEngine: Boolean = false): DataFrame = {
    val sigBits = if (crossEngine) 60 else 64
    require(sigBits % bands == 0, s"bands must divide $sigBits")
    require(maxDist <= bands - 1,
      s"$bands bands guarantee recall only for distance <= ${bands - 1}")
    val width = sigBits / bands
    val mask = (1L << width) - 1
    val sk =
      if (crossEngine)
        graft.functions.SketchExpressions.simhash60(
          TextAnalysis.tokens(col(textCol)))
      else simhash64(col(textCol))
    val sketched = df.select(col(idCol).as("id"), sk.as("sk"))
    val bandStructs = array((0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        shiftright(col("sk"), bi * width).bitwiseAND(mask).as("bucket"))
    }: _*)
    val banded = sketched.select(col("id"), col("sk"), explode(bandStructs).as("bk"))
      .select(col("id"), col("sk"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val a = banded.as("a")
    val b = banded.as("b")
    // verify (one xor+popcount, codegen'd) BEFORE deduping: the candidate
    // stream can be ~n²/2^width per band and must never hit a shuffle; only
    // the tiny verified set pays the dropDuplicates exchange
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }
}
