package etlbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.CorpusBuild
import graft.streaming.DocStream
import graft.web.WebLake

/** `corpus_ingest`: seeded documents staged as id-monotone `.warc.gz`
  * archive segments, then streamed one segment per op through
  * `WebLake.readArchiveStream` → `warcToDocs` → `DocStream.ingestToState`
  * (AvailableNow) with all five door screens set. */
final class CorpusIngest(spark: SparkSession, seed: Long, size: Size, work: Path,
    trace: Trace) extends Workload {
  private val staged = work.resolve("corpus/segments")
  private val lake = work.resolve("corpus/lake")
  private val state = work.resolve("corpus/state").toString
  private val ckpt = work.resolve("corpus/ckpt").toString
  private val embPath = work.resolve("corpus/embeddings.parquet")
  private var segFiles: IndexedSeq[Path] = IndexedSeq.empty
  private var textBytes = 0L

  /** The trackers `ensurePostingState` maintains; the near-dup tier stays on
    * so the survivor check covers the fold's dedup decisions. */
  val cfg: CorpusBuild.Config = CorpusBuild.Config(
    trackPostings = true, trackPack = true, trackDrift = true,
    trackPositions = true, trackMerges = true,
    trackFingerprints = true, trackCentroids = true,
    trackClassifier = true, trackDsir = true, trackBigramLm = true,
    trackCdc = true, trackReleaseCc = true)

  /** Door-callback wall times, by door (timed inside the callbacks). */
  private val screenNs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def stage(): String = {
    val n = size.segments * size.docsPerSegment
    Files.createDirectories(staged)
    val docsPath = work.resolve("corpus/documents.parquet")
    Gen.writeParquetFile(Gen.documents(spark, seed, n), docsPath)
    // one vector per doc (vec_id = doc_id) so vector batches follow the doc ids
    Gen.writeParquetFile(Gen.embeddings(spark, seed, n), embPath)
    val docs = spark.read.parquet(docsPath.toString)
    textBytes = docs.agg(sum(length(col("text")))).head().getLong(0)
    segFiles = (0 until size.segments).map { g =>
      val f = staged.resolve(f"seg$g%03d.parquet")
      Gen.writeParquetFile(WebLake.warcHttpFromDocs(spark, docs.filter(
          col("doc_id") >= g * size.docsPerSegment && col("doc_id") < (g + 1) * size.docsPerSegment),
        nArchives = 4).toDF(), f)
      f
    }
    val segBytes = segFiles.map(Files.size).sum
    f"segments=${size.segments} docs=$n text_mb=${textBytes / 1e6}%.2f segment_mb=${segBytes / 1e6}%.2f"
  }

  private def door(name: String): DataFrame => Unit = df => {
    val t0 = Util.now()
    trace.span(s"state.screen.$name")(df.count())
    screenNs(name) += System.nanoTime() - t0
  }

  private def segment(g: Int): Unit = {
    Files.createDirectories(lake)
    Files.copy(segFiles(g), lake.resolve(segFiles(g).getFileName))
    val emb = spark.read.parquet(embPath.toString)
    val q = DocStream.ingestToState(
      WebLake.warcToDocs(spark, WebLake.readArchiveStream(spark, lake.toString)),
      state, ckpt, cfg,
      vecsFor = b => emb.join(b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
      onCrossSplit = door("cross_split"), onQuality = door("quality"),
      onDsir = door("dsir"), onPerplexity = door("perplexity"), onCdc = door("cdc"))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def warmUp(): Unit = {
    val wl = new CorpusIngest(spark, seed + 7919L, Size.tiny, work.resolve("warm"), new Trace)
    wl.stage(); wl.ops.foreach(_.run())
    Util.deleteTree(work.resolve("warm"))
  }

  def ops: IndexedSeq[Op] = segFiles.indices.map(g => Op(g, f"seg$g%03d", () => segment(g)))

  def reset(): Unit = {
    Seq(lake, work.resolve("corpus/state"), work.resolve("corpus/ckpt")).foreach(Util.deleteTree)
    screenNs.clear()
  }

  /** The streamed state's survivors equal a one-shot `survivors` over the
    * documents recovered from the same archive bytes. A mismatch fails the
    * last op (the state after it is what diverged). */
  def check(plant: Boolean): Set[Int] = {
    import spark.implicits._
    val recovered = WebLake.warcToDocs(spark,
      spark.read.parquet(lake.toString).as[WebLake.ArchiveRow])
    val streamed = CorpusBuild.stateSurvivors(spark, state).collect().map(_.getLong(0)).toSet
    val full = CorpusBuild.survivors(recovered).collect().map(_.getLong(0)).toSet
    val got = if (plant) streamed - streamed.min else streamed
    if (got == full && full.nonEmpty) Set.empty else Set(segFiles.size - 1)
  }

  def storedBytes: Double = Util.treeBytes(work.resolve("corpus/state")).toDouble
  def ingestedBytes: Double = textBytes.toDouble

  /** Driver-side decoder throughput over the staged archive bytes. */
  def layerProbes(): Map[String, Double] = {
    import graft.web.{Gzip, Http, Warc}
    val archives = spark.read.parquet(segFiles.map(_.toString): _*)
      .select("content").collect().map(_.getAs[Array[Byte]](0))
    def timed[T](body: => T): (T, Double) = { val t0 = Util.now(); val r = body; (r, Util.secs(t0)) }
    val (members, tGz) = timed(archives.map(Gzip.members))
    val gzMb = archives.map(_.length.toLong).sum / 1e6
    val datas = members.flatten.map(_.data)
    val (records, tWarc) = timed(datas.map(Warc.decodeRecords))
    val payloads = records.flatten.filter(_.warcType == "response").map(_.payload)
    val (responses, tHttp) = timed(payloads.map(Http.parseResponse))
    val byCoding = responses.groupBy(_.contentEncoding)
    def bodyMbS(coding: String): Double = byCoding.get(coding).map { rs =>
      val (out, t) = timed(rs.map(Http.decodedBody))
      out.map(_.length.toLong).sum / 1e6 / t
    }.getOrElse(0.0)
    val stateBytes = Util.treeBytes(work.resolve("corpus/state"))
    Map("web.gzip_mb_s" -> gzMb / tGz,
      "web.warc_records_per_s" -> records.map(_.size).sum / tWarc,
      "web.http_parse_per_s" -> payloads.length / tHttp,
      "web.body_gzip_mb_s" -> bodyMbS("gzip"),
      "web.body_deflate_mb_s" -> bodyMbS("deflate"),
      "web.body_br_mb_s" -> bodyMbS("br"),
      "state.bytes_written" -> stateBytes.toDouble,
      "state.files_written" -> Util.treeFiles(work.resolve("corpus/state")).toDouble) ++
      Seq("cross_split", "quality", "dsir", "perplexity", "cdc").map(d =>
        s"state.screen.${d}_s" -> screenNs(d) / 1e9)
  }
}
