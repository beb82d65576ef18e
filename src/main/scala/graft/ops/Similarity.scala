package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two tiers:
  *  - `cosineTopK` — brute-force exact top-k: broadcast the (small) query
  *    set against the corpus, dot products via zip_with/aggregate (codegen'd,
  *    left-to-right fold so results are bit-reproducible), window top-k.
  *    Exact but O(|queries|·|corpus|): the verification/baseline tier.
  *  - `lshCosineTopK` — random-hyperplane LSH: each vector gets a sign-bit
  *    bucket from `planes` deterministic hyperplanes; candidates are pairs
  *    sharing a bucket, ranked per query. Approximate, but the pair space
  *    shrinks from n² to Σ bucket², and buckets shard the shuffle — the
  *    100 TB path. Recall is tested against the exact tier.
  *
  * Cosines are rounded to 9 decimals before ranking: scores equal to within
  * float noise collapse to ties broken by neighbor id, keeping top-k
  * deterministic across engines and partitionings.
  */
object Similarity {

  /** Elementwise double cast (a native array Cast — codegen'd, unlike a
    * per-element transform lambda).
    */
  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Left-to-right dot product of two double arrays (native codegen
    * expression; bit-identical to the interpreted fold and DuckDB list_sum).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  /** Constant vector as ONE array Literal: codegen references a single
    * constant object instead of inlining a CreateArray of `dim` literal
    * children. The inline form scales code size with entries×dim — the
    * OPQ pullback's 128 entries × 64-wide vectors blew Janino's 64 KB
    * method limit and silently dropped the PQ encode stage to
    * interpreted; a Literal keeps the stage codegen'd at any width.
    */
  private def vecLit(xs: Array[Double]): Column = typedlit(xs.toSeq)

  /** Constant matrix as one array-of-array Literal (same rationale). */
  private def matLit(xss: Seq[Array[Double]]): Column =
    typedlit(xss.map(_.toSeq))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / (l2norm(ad) * l2norm(bd))
  }

  /** Exact top-k neighbors for each query vector (excluding self-pairs).
    * Output: (query_id, neighbor_id, cos, rank). The query side is
    * broadcast — at scale the corpus stays partitioned and never shuffles.
    * Norms are computed once per ROW before the join (not once per pair):
    * per-pair work is a single codegen'd dot product.
    */
  /** @param excludeSelfIds drop pairs with equal ids — correct when
    *        `queries` IS (a subset of) `corpus`; pass false when the two
    *        sides are distinct datasets whose id spaces may coincide.
    * Zero-norm (or empty) vectors are excluded up front: they have no
    * defined cosine, and under ANSI mode the division would abort the job.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelfIds: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", l2norm(col("qv")))
      .filter(col("qn") > 0d))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", l2norm(col("cv")))
      .filter(col("cn") > 0d)
    val scored = q.join(c,
        if (excludeSelfIds) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("cos"))
    if (k == 1) top1ByCos(scored)
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** Argmax over (query_id, neighbor_id, cos) WITHOUT a window: the pair
    * stream combines map-side down to one row per query (a window would
    * shuffle and sort every scored pair). (cos, tie-break) packs into ONE
    * orderable long — `max(long)` stays in the primitive-buffer hash
    * aggregate with whole-stage codegen, where `max(struct)` falls back to
    * object aggregation (the packed form benched ~3× faster at 4M pairs).
    *
    * Encoding: c9 = cos rounded to 9 decimals ×1e9 (|c9| ≤ 1e9, 31 bits);
    * pack = c9·2³² + (2³²−1 − neighbor_id). Max pack ⇒ max cos, then min
    * neighbor id. Requires 0 ≤ neighbor_id < 2³². The decode
    * c9/1e9 is IEEE-exact (correctly-rounded division reproduces the
    * 9-decimal rounding), so results are bit-identical to the struct form.
    */
  private val IdMask = 4294967295L // 2^32 - 1
  private def top1ByCos(scored: DataFrame): DataFrame = {
    // round(cos·1e9): cos is already 9-decimal-rounded so the product is
    // within float noise of an integer; the second round snaps it exactly.
    val c9 = round(col("cos") * 1e9).cast("long")
    // the packing precondition is ENFORCED, not just documented: an id
    // outside [0, 2^32) would silently decode to a different neighbor
    val idChecked = when(
      col("neighbor_id") >= 0L && col("neighbor_id") <= IdMask,
      col("neighbor_id"))
      .otherwise(raise_error(concat(
        lit("top1ByCos: neighbor_id outside [0, 2^32): "),
        col("neighbor_id").cast("string"))))
    scored
      .select(col("query_id"),
        (c9 * lit(IdMask + 1L) + (lit(IdMask) - idChecked)).as("pk"))
      .groupBy("query_id")
      .agg(max(col("pk")).as("pk"))
      .select(col("query_id"),
        (lit(IdMask) - col("pk").bitwiseAND(lit(IdMask))).as("neighbor_id"),
        (shiftright(col("pk"), 32).cast("double") / 1e9).as("cos"),
        lit(1).as("rank"))
  }

  /** Deterministic hyperplanes: component (j,i) drawn from a seeded PRNG so
    * every run/engine sees identical planes. numPlanes sign bits → bucket.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** CORPUS-DERIVED hyperplanes (r16): plane p = v(2p) − v(2p+1) over
    * the 2·numTables·planesPerTable smallest-id corpus vectors —
    * difference pairs are ~zero-mean, the collect is bounded model
    * state (the quantizer-sample discipline, ≤ 128 vectors), and —
    * the point — a SECOND ENGINE can rederive every plane from the
    * corpus table itself, which is what lets the LSH tiers (q26, q53)
    * be hash-checked by the DuckDB oracle instead of rows-only.
    * Returns planesPerTable planes per table, sliced in global plane
    * order (table t owns planes [t·ppt, (t+1)·ppt)).
    */
  def dataHyperplanes(corpus: DataFrame, idCol: String, vecCol: String,
      numTables: Int, planesPerTable: Int): Seq[Seq[Seq[Double]]] = {
    val n = numTables * planesPerTable
    val sample = corpus
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy("id").limit(2 * n)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length == 2 * n,
      s"dataHyperplanes: corpus has ${sample.length} < ${2 * n} vectors")
    (0 until numTables).map { t =>
      (0 until planesPerTable).map { j =>
        val p = t * planesPerTable + j
        sample(2 * p).zip(sample(2 * p + 1)).map { case (a, b) => a - b }.toSeq
      }
    }
  }

  /** Sign-bit bucket id for a vector under the given hyperplanes. */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column = {
    val vd = asDouble(vecCol)
    planes.zipWithIndex.map { case (p, j) =>
      val plane = vecLit(p.toArray)
      when(dot(vd, plane) > 0d, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-table bucketing: `numTables` independent hash tables of
    * `planesPerTable` sign bits each; a pair is a candidate when it
    * collides in ANY table (amplified recall: 1-(1-p^k)^L — a single
    * table's p^k recall is useless for near-neighbors at p<1).
    * Emits (table, bucket) rows, one per table per vector.
    */
  private def bucketedByTable(corpus: DataFrame, idCol: String, vecCol: String,
      numTables: Int, planesPerTable: Int, dim: Int,
      dataPlanes: Boolean = false): DataFrame = {
    val planesByTable: Int => Seq[Seq[Double]] =
      if (dataPlanes) {
        val all = dataHyperplanes(corpus, idCol, vecCol, numTables,
          planesPerTable)
        all(_)
      } else
        t => hyperplanes(planesPerTable, dim, seed = 42L + t)
    val tables = (0 until numTables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(col("v"), planesByTable(t)).as("bucket"))
    }
    corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d) // zero vectors have no cosine; ANSI would throw
      .select(col("id"), col("v"), col("nrm"), explode(array(tables: _*)).as("tb"))
      .select(col("id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** Approximate top-k: candidates limited to vectors sharing an LSH bucket
    * in at least one table. Trades recall (tested vs the exact tier) for an
    * n²→Σ bucket² pair space and a bucket-sharded shuffle — the 100 TB path.
    */
  def lshCosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, numTables: Int = 8, planesPerTable: Int = 8,
      dataPlanes: Boolean = false): DataFrame =
    lshCosineTopKFromScored(
      lshScoredPairs(corpus, idCol, vecCol, dim, numTables, planesPerTable,
        dataPlanes), k)

  /** Directed LSH candidate pairs with rounded cosines — the shared
    * substrate of the top-k tier, the near-dup tier, and the q88 gate that
    * audits both: ONE bucketed relation, ONE candidate join, ONE scoring
    * pass. A suite needing several LSH consumers should build this once
    * (localCheckpoint / persist) and derive each tier from it.
    */
  def lshScoredPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, numTables: Int = 8, planesPerTable: Int = 8,
      dataPlanes: Boolean = false): DataFrame = {
    val bucketed = bucketedByTable(corpus, idCol, vecCol, numTables,
      planesPerTable, dim, dataPlanes)
    // candidate generation on (id, bucket) only — vectors join back onto the
    // deduped pair set instead of riding the band explode and pair shuffle
    val keys = bucketed.select(col("id"), col("tbl"), col("bucket"))
    val a = keys.select(col("id").as("query_id"), col("tbl"), col("bucket"))
    val b = keys.select(col("id").as("neighbor_id"), col("tbl"), col("bucket"))
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    candidates
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")),
        "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("cos"))
  }

  /** Top-k over a prebuilt [[lshScoredPairs]] relation. */
  def lshCosineTopKFromScored(scored: DataFrame, k: Int): DataFrame =
    if (k == 1) top1ByCos(scored)
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }

  /** Near-dup pairs over a prebuilt [[lshScoredPairs]] relation: the
    * directed candidate set contains both orientations of every undirected
    * collision, so `query < neighbor` + the threshold reproduces exactly
    * the pair set [[embeddingNearDupPairs]] emits.
    */
  def nearDupFromScored(scored: DataFrame, threshold: Double): DataFrame =
    scored
      .filter(col("query_id") < col("neighbor_id") && col("cos") >= threshold)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos"))

  /** IVF (inverted-file) approximate top-k — the second scale tier the
    * training-data pipelines use when hyperplane LSH recall is too blunt:
    * a coarse spherical-k-means quantizer (trained driver-side on a
    * deterministic sample — standard IVF practice; the corpus itself never
    * leaves the cluster) maps every vector to its nearest centroid, and a
    * query probes only its `nProbe` closest inverted lists. Candidate
    * volume ≈ nProbe/nClusters of the corpus per query, shuffles are
    * sharded by cluster id.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, nClusters: Int = 16, nProbe: Int = 2,
      sampleSize: Int = 512, iters: Int = 5): DataFrame = {
    // deterministic sample: lowest ids (TakeOrdered — no full sort); a bare
    // limit() depends on partition layout and would retrain the quantizer
    // differently between runs
    val sample = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
      .filter(v => v.exists(_ != 0d))
    if (sample.isEmpty) {
      // empty (or all-zero) corpus: empty result in the output shape
      return corpus.select(col(idCol).as("query_id"), col(idCol).as("neighbor_id"),
        lit(0d).as("cos"), lit(1).as("rank")).limit(0)
    }
    val centroids = sphericalKMeans(sample, nClusters, iters)

    def centroidDots(v: Column): Seq[Column] = centroids.zipWithIndex.map {
      case (c, j) => struct(dot(v, vecLit(c)).as("d"), lit(j).as("j"))
    }
    // nearest list per corpus vector; nProbe nearest lists per query vector
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d)
    val assigned = vecs.withColumn("cluster",
      sort_array(array(centroidDots(col("v")): _*), asc = false)(0).getField("j"))
    ivfSearch(vecs, assigned, centroidDots, k, nProbe)
  }

  /** IVF search SERVED FROM A STORED MODEL: the coarse quantizer
    * (`centroids`) and the inverted lists (`assignments`, (id, cluster)
    * rows) come from persisted state — no sample collect, no training
    * iterations, no corpus reassignment at query time. Each query
    * vector probes its `nProbe` nearest stored centroids and scores
    * only those lists' members with exact rounded cosines — the search
    * stage of [[ivfTopK]] verbatim, which is what makes the emitted
    * cosines bit-identical to the exact tier's for the same pairs (the
    * q88 gate property). At 100 TB this is the serving path: the index
    * is a table, queries pay `nProbe/nClusters` of a full scan, and the
    * one corpus-sized shuffle keys on an int cluster id.
    */
  def ivfTopKFromModel(corpus: DataFrame, idCol: String, vecCol: String,
      assignments: DataFrame, centroids: Seq[Array[Double]],
      k: Int, nProbe: Int = 2): DataFrame = {
    require(centroids.nonEmpty, "stored model has no centroids")
    // The stored inverted lists are EUCLIDEAN-argmin assignments over
    // unnormalized mean centroids (Clustering.kMeans), so probe ranking
    // must use the same metric: argmin ‖v−c‖² ⇔ argmax v·c − ‖c‖²/2.
    // Raw max-dot (the spherical-centroid rule of [[ivfTopK]]) would be
    // biased toward large-norm centroids and could rank a query's OWN
    // list below a big stranger's, silently losing recall.
    def centroidDots(v: Column): Seq[Column] = centroids.zipWithIndex.map {
      case (c, j) =>
        val halfSqNorm = 0.5 * c.map(x => x * x).sum
        struct((dot(v, vecLit(c)) - lit(halfSqNorm)).as("d"), lit(j).as("j"))
    }
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d)
    val assigned = vecs.join(
      assignments.select(col("id"), col("cluster")), Seq("id"))
    ivfSearch(vecs, assigned, centroidDots, k, nProbe)
  }

  /** The IVF search stage of [[ivfTopK]] and [[ivfTopKFromModel]]: each
    * query vector of `vecs` (id, v, nrm) probes its `nProbe` best lists
    * under `centroidDots` and scores only those lists' members of
    * `assigned` (id, v, nrm, cluster) with exact rounded cosines; the
    * top `k` per query.
    */
  private def ivfSearch(vecs: DataFrame, assigned: DataFrame,
      centroidDots: Column => Seq[Column], k: Int, nProbe: Int): DataFrame = {
    val probes = vecs.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(slice(sort_array(array(centroidDots(col("v")): _*), asc = false),
          1, nProbe)).as("p"))
      .select(col("query_id"), col("qv"), col("qn"), col("p.j").as("cluster"))
    val scored = probes.join(
        assigned.select(col("id").as("neighbor_id"), col("v").as("cv"),
          col("nrm").as("cn"), col("cluster")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("cos"))
    if (k == 1) top1ByCos(scored)
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** The WHOLE recall-vs-nProbe curve from a stored model in ONE
    * candidate-generation pass: instead of re-running the search once
    * per probe width (the sum over widths re-scores every narrower
    * width's candidates again — ~1.9× the widest search for widths
    * 1/2/4/8), each query's probes carry their RANK in the Euclidean
    * probe order, every candidate is scored once at the widest width,
    * and one aggregate takes the per-query top-1 under each `r ≤ p`
    * cut simultaneously (the [[top1ByCos]] packing, one max per
    * width). `stack` unpivots the per-width maxima — no union, no
    * recomputation of the scored relation. Per width the output is
    * EXACTLY `ivfTopKFromModel(..., k = 1, nProbe = p)`'s (same
    * metric-consistent probe ranking, same rounded cosines, same
    * tie-breaks), which ClusteringSpec asserts directly. At 100 TB
    * this is the only sane way to draw the curve: candidate
    * generation is the expensive part and it happens once.
    */
  def ivfTopKFromModelCurve(corpus: DataFrame, idCol: String,
      vecCol: String, assignments: DataFrame,
      centroids: Seq[Array[Double]], probes: Seq[Int]): DataFrame = {
    require(centroids.nonEmpty, "stored model has no centroids")
    require(probes.nonEmpty && probes == probes.sorted && probes.distinct == probes,
      s"probe widths must be sorted and distinct: $probes")
    val maxP = probes.max
    def centroidDots(v: Column): Seq[Column] = centroids.zipWithIndex.map {
      case (c, j) =>
        val halfSqNorm = 0.5 * c.map(x => x * x).sum
        struct((dot(v, vecLit(c)) - lit(halfSqNorm)).as("d"), lit(j).as("j"))
    }
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d)
    val assigned = vecs.join(
      assignments.select(col("id"), col("cluster")), Seq("id"))
    val probesDf = vecs.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        posexplode(slice(sort_array(array(centroidDots(col("v")): _*),
          asc = false), 1, maxP)))
      .select(col("query_id"), col("qv"), col("qn"),
        (col("pos") + 1).as("r"), col("col.j").as("cluster"))
    val scored = probesDf.join(
        assigned.select(col("id").as("neighbor_id"), col("v").as("cv"),
          col("nrm").as("cn"), col("cluster")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("r"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("cos"))
    val c9 = round(col("cos") * 1e9).cast("long")
    val idChecked = when(
      col("neighbor_id") >= 0L && col("neighbor_id") <= IdMask,
      col("neighbor_id"))
      .otherwise(raise_error(concat(
        lit("ivfTopKFromModelCurve: neighbor_id outside [0, 2^32): "),
        col("neighbor_id").cast("string"))))
    val aggd = scored
      .select(col("query_id"), col("r"),
        (c9 * lit(IdMask + 1L) + (lit(IdMask) - idChecked)).as("pk"))
      .groupBy("query_id")
      .agg(max(when(col("r") <= probes.head, col("pk"))).as(s"pk_${probes.head}"),
        probes.tail.map(p =>
          max(when(col("r") <= p, col("pk"))).as(s"pk_$p")): _*)
    aggd
      .select(col("query_id"), expr(
        s"stack(${probes.length}, " +
          probes.map(p => s"CAST($p AS BIGINT), pk_$p").mkString(", ") +
          ") AS (nprobe, pk)"))
      .filter(col("pk").isNotNull)
      .select(col("nprobe"), col("query_id"),
        (lit(IdMask) - col("pk").bitwiseAND(lit(IdMask))).as("neighbor_id"),
        (shiftright(col("pk"), 32).cast("double") / 1e9).as("cos"),
        lit(1).as("rank"))
  }

  /** IVF-PQ — the memory-bound third scale tier: inverted lists from the
    * coarse quantizer (as [[ivfTopK]]) plus PRODUCT-QUANTIZED residuals
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search" —
    * public literature). Each vector stores its list id + `pqSubs` byte
    * codes + two scalars (exact norm, centroid projection) instead of
    * `dim` floats, so a 100 TB embedding corpus's index fits
    * ~dim·4/pqSubs× less memory; scoring a candidate is `pqSubs` table
    * lookups (ADC) instead of a `dim`-wide dot product.
    *
    * Two-stage search keeps the OUTPUT exact-scored: ADC approximate
    * cosines shortlist `rerank·k` candidates per query via the k-bounded
    * [[graft.functions.TopKAggregate]] (map-side heaps — the shortlist
    * never rides a corpus-scale window), then ONLY the shortlist joins
    * back to true vectors for exact rounded cosines and the final top-k.
    * Emitted cosines are therefore bit-identical to the exact tier's for
    * the same pairs — the q88 gate property; PQ approximation affects
    * RECALL only (spec-tested against the exact tier).
    *
    * Codebooks train driver-side on the same deterministic sample as the
    * coarse quantizer (standard practice; the corpus never collects):
    * per subspace, plain k-means on residuals with deterministic init.
    */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, nClusters: Int = 16, nProbe: Int = 2,
      pqSubs: Int = 8, pqK: Int = 16, rerank: Int = 4,
      sampleSize: Int = 512, iters: Int = 5,
      rotate: Boolean = true): DataFrame = {
    require(dim % pqSubs == 0, s"dim=$dim must divide into pqSubs=$pqSubs")
    val subDim = dim / pqSubs
    val sample = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
      .filter(v => v.exists(_ != 0d))
    if (sample.isEmpty) {
      return corpus.select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(0d).as("cos"), lit(1).as("rank"))
        .limit(0)
    }
    val centroids = sphericalKMeans(sample, nClusters, iters)
    // PROJECTION residual: r = v − (v·c)c against the assigned unit
    // centroid, with the scalar v·c stored per vector. Embeddings are not
    // unit-norm, so the plain difference v − c is nearly v itself and PQ
    // error swamps score gaps; the orthogonal residual is the small part.
    // dot(q, v) = (v·c)·dot(q, c) + dot(q, r) EXACTLY — ADC only
    // approximates the residual term.
    def assign(v: Array[Double]): Int = centroids.indices.maxBy { j =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * centroids(j)(i); i += 1 }
      s
    }
    val residuals = sample.map { v =>
      val c = centroids(assign(v))
      var vc = 0.0
      var i = 0
      while (i < v.length) { vc += v(i) * c(i); i += 1 }
      v.indices.map(i => v(i) - vc * c(i)).toArray
    }
    // OPQ-style rotation (Ge et al., "Optimized Product Quantization" —
    // public literature, the parametric/eigenvalue-allocation variant):
    // residual energy is anisotropic, so contiguous slices hand a few
    // subspaces most of the variance and PQ error concentrates there.
    // A rotation R built from the residual covariance's eigenvectors,
    // greedily allocated so every subspace gets a balanced eigenvalue
    // product, equalizes per-subspace variance. Trained on the SAME
    // deterministic 512-sample as the quantizers; R is orthonormal, so
    // dot(q, r) = dot(Rq, Rr) and the exact dot decomposition is
    // untouched — and because codebook entries live in rotated space,
    // the rotation FOLDS INTO the plan-time literals (entries pulled
    // back through Rᵀ become full-width dot literals): no per-row
    // rotation, no intermediate rotated column, same plan shape.
    val rot: Option[Array[Array[Double]]] =
      if (rotate) Some(opqRotation(residuals, subDim)) else None
    def applyRot(v: Array[Double]): Array[Double] = rot match {
      case Some(rm) => rm.map { row =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += row(i) * v(i); i += 1 }
        s
      }
      case None => v
    }
    val rotResiduals = residuals.map(applyRot)
    val rotCentroids = centroids.map(applyRot)
    val codebooks: Seq[Seq[Array[Double]]] = (0 until pqSubs).map { s =>
      val subs = rotResiduals.map(_.slice(s * subDim, (s + 1) * subDim))
      euclideanKMeans(subs, pqK, iters)
    }
    // codebook entry e of subspace s, pulled back to ORIGINAL space:
    // dot((Rv)_s, e) = dot(v, w) with w_i = Σ_j R[s·subDim+j][i]·e[j] —
    // a plan-time literal, so encode/LUT dots stay native and codegen'd
    def pullback(s: Int, e: Array[Double]): Array[Double] = rot match {
      case Some(rm) => Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < subDim) { acc += rm(s * subDim + j)(i) * e(j); j += 1 }
        acc
      }
      case None => e // caller slices v instead
    }

    def centroidDots(v: Column): Seq[Column] = centroids.zipWithIndex.map {
      case (c, j) => struct(dot(v, vecLit(c)).as("d"), lit(j).as("j"))
    }
    val centroidLit = matLit(centroids)

    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d)

    // ---- index side: list id + projection scalar + stored norm +
    // pqSubs codes (no vector) --
    val withCluster = vecs.withColumn("cluster",
      sort_array(array(centroidDots(col("v")): _*), asc = false)(0)
        .getField("j"))
      .withColumn("vc",
        dot(col("v"), element_at(centroidLit, col("cluster") + 1)))
    // argmin ||sub − e||² ⇔ argmax dot(sub, e) − ||e||²/2 (||e||² constant).
    // dot(resid_s, e) decomposes as dot(v_s, e) − vc·dot(c_s, e): the
    // second dot is a per-(cluster, entry) CONSTANT, so encoding never
    // materializes the residual vector — a naive zip_with residual would
    // be re-evaluated inside all pqSubs·pqK entry expressions (an
    // interpreted 64-wide lambda ×128 per row — measured 10× slower).
    // The whole per-subspace argmax is ONE fused native expression
    // (ArgMaxAffineDots): the earlier per-entry expression form (pqK
    // dots + structs + a sort, ×pqSubs in one Project) exceeded the
    // 64 KB codegen method limit once the OPQ pullback widened every
    // dot to dim — a WSCG Project never splits its consume path, so the
    // stage silently fell back to interpreted execution.
    // Under rotation w rows are Rᵀ-pulled-back full-width entries
    // (dot((Rv)_s, e) = dot(v, Rᵀe)); unrotated they are the raw
    // subDim-wide entries read at offset s·subDim.
    def codeFor(s: Int): Column = {
      val w = codebooks(s).map(e =>
        if (rot.isDefined) pullback(s, e) else e).toArray
      val cdm = codebooks(s).map(e => rotCentroids.map(c =>
        (0 until subDim).map(i => c(s * subDim + i) * e(i)).sum).toArray).toArray
      val half = codebooks(s).map(e => e.map(x => x * x).sum / 2).toArray
      graft.functions.VectorExpressions.argMaxAffineDots(
        col("v"), col("vc"), col("cluster"), w, cdm, half,
        offset = if (rot.isDefined) 0 else s * subDim)
    }
    val indexed = withCluster.select(
      Seq(col("id").as("neighbor_id"), col("nrm").as("cn"), col("cluster"),
        col("vc")) ++
        (0 until pqSubs).map(s => codeFor(s).as(s"c$s")): _*)

    // ---- query side: nProbe lists + per-subspace ADC lookup tables ----
    def lutFor(s: Int): Column = {
      val w = codebooks(s).map(e =>
        if (rot.isDefined) pullback(s, e) else e).toArray
      graft.functions.VectorExpressions.matVecDots(col("qv"), w,
        offset = if (rot.isDefined) 0 else s * subDim)
    }
    val probes = vecs.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(slice(sort_array(array(centroidDots(col("v")): _*),
          asc = false), 1, nProbe)).as("p"))
      .select(Seq(col("query_id"), col("qn"), col("p.j").as("cluster"),
        // dot(q, coarse centroid) rides along from the probe ranking
        col("p.d").as("dq")) ++
        (0 until pqSubs).map(s => lutFor(s).as(s"lut$s")): _*)

    // ---- ADC shortlist: approx cos via pqSubs lookups, k-bounded agg --
    val adc = (0 until pqSubs).map(s =>
      element_at(col(s"lut$s"), col(s"c$s").cast("int") + 1))
      .reduce(_ + _)
    val approx = probes.join(indexed, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        ((col("vc") * col("dq") + adc) / (col("qn") * col("cn")))
          .as("approx_cos"),
        col("neighbor_id"))
    val shortlist = approx.groupBy("query_id")
      .agg(graft.functions.TopKAggregate.topKByScore(
        col("approx_cos"), col("neighbor_id"), rerank * k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"))

    // ---- exact re-rank of the shortlist only ----
    val exact = shortlist
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9)
          .as("cos"))
    if (k == 1) top1ByCos(exact)
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** OPQ parametric rotation from a residual sample: eigendecompose the
    * residual second-moment matrix (cyclic Jacobi — deterministic sweep
    * order), then allocate eigen-directions to subspaces GREEDILY by
    * descending eigenvalue onto the subspace with the smallest current
    * log-eigenvalue product (Ge et al.'s eigenvalue allocation): every
    * subspace ends with a balanced share of residual variance. Returns R
    * as `dim` rows — rows s·subDim..(s+1)·subDim−1 are subspace s's
    * basis; R is orthonormal by construction (eigenvectors of a
    * symmetric matrix).
    */
  private[ops] def opqRotation(residuals: Array[Array[Double]],
      subDim: Int): Array[Array[Double]] = {
    val dim = residuals.head.length
    val nSub = dim / subDim
    val n = residuals.length.toDouble
    val a = Array.ofDim[Double](dim, dim)
    residuals.foreach { r =>
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { a(i)(j) += r(i) * r(j); j += 1 }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      a(i)(j) /= n; a(j)(i) = a(i)(j)
    }
    // cyclic Jacobi: rotate out each off-diagonal pair, fixed sweep order
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-12) {
      off = 0.0
      for (p <- 0 until dim - 1; q <- p + 1 until dim) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = 0.5 * math.atan2(2 * a(p)(q), a(q)(q) - a(p)(p))
          val c = math.cos(theta)
          val s = math.sin(theta)
          var i = 0
          while (i < dim) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
            i += 1
          }
          i = 0
          while (i < dim) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    // eigenpairs sorted by descending eigenvalue (index tiebreak keeps
    // the order deterministic under exact ties)
    val order = (0 until dim).sortBy(i => (-a(i)(i), i))
    // greedy balanced allocation of eigen-directions to subspaces
    val logSum = new Array[Double](nSub)
    val fill = new Array[Int](nSub)
    val rows = Array.fill(nSub)(List.newBuilder[Int])
    order.foreach { ei =>
      val s = (0 until nSub).filter(fill(_) < subDim).minBy(s => (logSum(s), s))
      rows(s) += ei
      fill(s) += 1
      logSum(s) += math.log(math.max(a(ei)(ei), 1e-12))
    }
    rows.flatMap(_.result()).map(ei => Array.tabulate(dim)(i => v(i)(ei)))
  }

  /** Driver-side plain k-means (Euclidean) for the PQ codebooks:
    * deterministic init (first k sample points), empty clusters keep
    * their previous centroid.
    */
  private[ops] def euclideanKMeans(points: Array[Array[Double]], k: Int,
      iters: Int): Seq[Array[Double]] = {
    if (points.isEmpty) return Seq.fill(k)(new Array[Double](0))
    var cents = (0 until k).map(i => points(i % points.length).clone()).toArray
    (0 until iters).foreach { _ =>
      val sums = Array.fill(cents.length)(new Array[Double](points.head.length))
      val counts = new Array[Int](cents.length)
      points.foreach { p =>
        val best = cents.indices.minBy { j =>
          var s = 0.0; var i = 0
          while (i < p.length) {
            val d = p(i) - cents(j)(i); s += d * d; i += 1
          }
          s
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { j =>
        if (counts(j) == 0) cents(j)
        else sums(j).map(_ / counts(j))
      }.toArray
    }
    cents.toIndexedSeq
  }

  /** Driver-side spherical k-means on a sample: deterministic init (first K
    * sample points), assignments by max dot over normalized centroids.
    */
  private[ops] def sphericalKMeans(sample: Array[Array[Double]], k: Int,
      iters: Int): Seq[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    var centroids = sample.take(k).map(normalize)
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val nv = normalize(v)
        val best = centroids.indices.maxBy { j =>
          var s = 0.0; var i = 0
          while (i < nv.length) { s += nv(i) * centroids(j)(i); i += 1 }
          s
        }
        var i = 0
        while (i < nv.length) { sums(best)(i) += nv(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { j =>
        if (counts(j) == 0) centroids(j) else normalize(sums(j))
      }.toArray
    }
    centroids.toIndexedSeq
  }

  /** Cluster-blocked semantic near-duplicate pairs (the SemDeDup shape —
    * Abbas et al. 2023): k-means the embedding space, then compute exact
    * pairwise cosine only WITHIN each cluster. The cluster is the
    * blocking key that bounds the quadratic: per cluster ~n/k vectors →
    * (n/k)² candidate pairs instead of n², and the only corpus-scale
    * shuffle is one hash exchange on the cluster id (k-means assignment
    * itself is shuffle-free — centroids ride as plan-time constants in
    * the fused [[graft.functions.VectorExpressions.ArgMaxAffineDots]]
    * expression). Complementary to [[embeddingNearDupPairs]]'s LSH
    * blocking: hyperplane tables catch pairs that straddle a centroid
    * boundary; cluster blocking gives each candidate pair a semantic
    * prior and an (id, cluster) audit trail ([[Clustering.assignmentGate]]).
    *
    * Rows-only by nature (float cosines, float centroid means) — the
    * emitted pairs are re-verified by the q130 gate through the
    * independent HOF arithmetic path.
    */
  def clusterNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 16, iters: Int = 5): DataFrame = {
    val (assigned, _) = Clustering.kMeans(corpus, idCol, vecCol, k, iters)
    clusterNearDupPairsFromAssignments(corpus, idCol, vecCol, threshold,
      assigned)
  }

  /** [[clusterNearDupPairs]] against an already-trained blocking: callers
    * serving several queries from one k-means model (q123/q124/q129 share
    * the train-once/serve-many discipline) pass its assignments here
    * instead of re-running Lloyd's per query.
    */
  def clusterNearDupPairsFromAssignments(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, assigned: DataFrame): DataFrame = {
    // vectors join their cluster label once; the self-join carries the
    // array payload only into the per-cluster block it can match in
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d)
      .join(assigned, "id")
    vecs.as("a").join(vecs.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cluster").as("cluster"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 9)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-based near-duplicate pairs: cosine ≥ threshold via
    * multi-table LSH candidates (the embedding leg of the dedup suite).
    */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, numTables: Int = 8, planesPerTable: Int = 8,
      dataPlanes: Boolean = false): DataFrame = {
    val bucketed = bucketedByTable(corpus, idCol, vecCol, numTables,
      planesPerTable, dim, dataPlanes)
    // candidates on keys only; vectors join back after pair dedup (never
    // drag array payloads through the band explode + dedup shuffle)
    val keys = bucketed.select(col("id"), col("tbl"), col("bucket"))
    val candidates = keys.as("a").join(keys.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // vectors come straight from the corpus — re-deriving them from
    // `bucketed` would recompute all numTables×planes hyperplane dots a
    // third time and pay a dedup shuffle just to undo the band explode
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d)
    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
