package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, TextAnalysis, TextAnalysisEval}
import graft.ops.TextDedup

/** The SQL surface: every registered function callable from spark.sql and
  * consistent with its Column-API twin; the plain-Scala evals cross-check
  * the Column formulations on the driver corpus.
  */
class SqlSurfaceSpec extends AnyFunSuite with SharedSpark {

  override protected lazy val spark: SparkSession = {
    val s = SharedSpark.session
    GraftFunctions.registerAll(s)
    s
  }

  test("native expressions callable from SQL: dot, minhash, simhash, shingles") {
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  size(graft_minhash(array('a', 'b'), 16)) AS mh_len,
        |  graft_simhash(array('x', 'y')) AS sh,
        |  graft_shingles(array('a', 'b', 'c', 'b', 'a', 'b', 'c'), 3) AS sg,
        |  graft_overlap(array('a', 'b', 'd'), array('b', 'c', 'd')) AS ov
      """.stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 16)
    assert(r.getLong(2) != 0L)
    assert(r.getSeq[String](3) == Seq("a b c", "b c b", "c b a", "b a b"))
    assert(r.getInt(4) == 2)
  }

  test("graft_overlap rejects non-string arrays; null elements match as in array_intersect") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_overlap(array(1, 2), array(2, 3))").head()
    }
    assert(e.getMessage.contains("array<string>"),
      s"type mismatch must be an analysis error, got: ${e.getMessage}")
    val r = spark.sql(
      """SELECT graft_overlap(
        |  sort_array(array('a', cast(null as string))),
        |  sort_array(array(cast(null as string), 'b')))""".stripMargin).head()
    assert(r.getInt(0) == 1, "null matches null, once")
  }

  test("html family callable from SQL") {
    val html = """<div data-automation="detailsTitle"><h1> T1 </h1><span>Co</span></div>"""
    val r = spark.sql(
      s"""SELECT
         |  html_select_text('$html', 'div', 'data-automation', 'detailsTitle') AS t,
         |  parse_job('$html', '2026-01-01').job_title AS jt
       """.stripMargin).head()
    assert(r.getString(0) == "T1 Co")
    assert(r.getString(1) == "T1")
  }

  test("graft_winnow_select / graft_run_entropy callable from SQL and " +
      "equal to their Column-API twins on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    docs.createOrReplaceTempView("sql_surface_docs")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    val viaSql = keyed(spark.sql(
      """SELECT doc_id,
        |  graft_winnow_select(text, 8, 4) AS sel,
        |  graft_run_entropy(
        |    filter(split(trim(text), '\\s+'), t -> length(t) > 0)) AS ent
        |FROM sql_surface_docs""".stripMargin))
    val viaCols = keyed(docs.select(col("doc_id"),
      TextAnalysis.winnowSelect(col("text"), 8, 4).as("sel"),
      TextAnalysis.runEntropySum(
        filter(TextAnalysis.tokens(col("text")),
          t => length(t) > 0)).as("ent")))
    assert(viaSql === viaCols)
  }

  test("composition builders evaluate a computed argument outside every " +
      "per-element lambda body") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate,
      Expression, HigherOrderFunction, Lower}
    import spark.implicits._
    Seq((1L, "Plain Text here")).toDF("doc_id", "text")
      .createOrReplaceTempView("sql_surface_audit")
    // every Column-derived builder, over an argument computed by lower():
    // a lambda body holding that subtree recomputes it per array element
    val calls = Seq(
      "graft_winnow_select(lower(text), 8, 4)",
      "graft_run_entropy(split(lower(text), ' '))",
      "graft_token_count(lower(text))",
      "graft_lang_id(lower(text))",
      "graft_quality_ppm(lower(text))",
      "graft_split(lower(text))").map { call =>
        call -> spark.sql(s"SELECT $call FROM sql_surface_audit")
      } :+
      // a Column function with no SQL builder, audited through a select
      ("collapseRuns(split(lower(text), ' '))" -> spark
        .table("sql_surface_audit")
        .select(TextAnalysis.collapseRuns(split(lower(col("text")), " "))))
    def perElementBodies(e: Expression): Seq[Expression] = e.flatMap {
      case a: ArrayAggregate => Seq(a.merge) // finish runs once per row
      case h: HigherOrderFunction => h.functions
      case _ => Nil
    }
    val leaks = calls.collect {
      case (call, df) if df.queryExecution.analyzed
          .flatMap(_.expressions).flatMap(perElementBodies)
          .exists(_.exists(_.isInstanceOf[Lower])) => call
    }
    assert(leaks.isEmpty, s"argument re-evaluated per element by: $leaks")
  }

  test("graft_quality_ppm / graft_split callable from SQL and equal to " +
      "their Column-API twins on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
    docs.createOrReplaceTempView("sql_surface_docs2")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getInt(3), r.getString(4))).toMap
    val viaSql = keyed(spark.sql(
      """SELECT doc_id, graft_quality_ppm(text) AS q,
        |  graft_split(doc_id) AS s,
        |  graft_token_count(text) AS tc,
        |  graft_lang_id(text) AS lang
        |FROM sql_surface_docs2""".stripMargin))
    val viaCols = keyed(docs.select(col("doc_id"),
      TextAnalysis.qualityScorePpm(col("text")).as("q"),
      graft.ops.Splits.split(col("doc_id")).as("s"),
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.langId(col("text")).as("lang")))
    assert(viaSql === viaCols)
  }

  test("graft_image_stats / graft_audio_stats: the codec tier callable " +
      "from SQL — PPM, PNG, and JPEG payloads sniffed by magic, WAV " +
      "chunk-walked, structs equal to the Dataset decode path") {
    import graft.multimodal.Multimodal
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    def viaSql(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) = {
      media.toDF().createOrReplaceTempView("sql_surface_media")
      spark.sql(
        """SELECT media_id, s.* FROM (
          |  SELECT media_id, graft_image_stats(content) AS s
          |  FROM sql_surface_media)""".stripMargin)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getInt(6), r.getDouble(7))).toMap
    }
    def viaDs(stats: org.apache.spark.sql.Dataset[Multimodal.ImageStats]) =
      stats.collect().map(s => s.media_id ->
        (s.width, s.height, s.n_pixels, s.sum_channel, s.sum_channel_sq,
          s.max_channel, s.mean_channel)).toMap
    val ppm = Multimodal.imagesFromText(spark, docs, "doc_id", "text")
    assert(viaSql(ppm) === viaDs(Multimodal.decodeImageStats(ppm)),
      "SQL PPM decode diverged from the Dataset path")
    val png = Multimodal.pngFromText(spark, docs, "doc_id", "text")
    assert(viaSql(png) === viaDs(Multimodal.decodePngStats(png)),
      "SQL PNG decode (magic-sniffed) diverged from the Dataset path")
    val jpg = Multimodal.jpegFromText(spark, docs, "doc_id", "text")
    assert(viaSql(jpg) === viaDs(Multimodal.decodeJpegStats(jpg)),
      "SQL JPEG decode (SOI-sniffed) diverged from the Dataset path")
    def audioViaSql(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) = {
      media.toDF().createOrReplaceTempView("sql_surface_media")
      spark.sql(
        """SELECT media_id, s.* FROM (
          |  SELECT media_id, graft_audio_stats(content) AS s
          |  FROM sql_surface_media)""".stripMargin)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5))).toMap
    }
    def audioViaDs(stats: org.apache.spark.sql.Dataset[Multimodal.AudioStats]) =
      stats.collect().map(s => s.media_id ->
        (s.n_samples, s.duration_ms, s.sum_sample, s.min_sample,
          s.max_sample)).toMap
    val wav = Multimodal.wavFromText(spark, docs, "doc_id", "text")
    assert(audioViaSql(wav) === audioViaDs(Multimodal.decodeAudioStats(wav)),
      "SQL WAV decode diverged from the Dataset path")
    val flac = Multimodal.flacFromText(spark, docs, "doc_id", "text")
    assert(audioViaSql(flac) === audioViaDs(Multimodal.decodeFlacStats(flac)),
      "SQL FLAC decode (magic-sniffed) diverged from the Dataset path")
  }

  test("NULL text: SQL builders and Column twins share the same " +
      "null-propagation contract") {
    import spark.implicits._
    // Contract documented at the registration site (GraftFunctions):
    // token_count/quality_ppm propagate NULL, lang_id yields 'und'.
    val df = Seq((1L, Option.empty[String]), (2L, Some("plain text here")))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("sql_surface_nulls")
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getLong(0) -> (
        if (r.isNullAt(1)) null else r.get(1),
        if (r.isNullAt(2)) null else r.get(2),
        if (r.isNullAt(3)) null else r.get(3))
    }.toMap
    val viaSql = keyed(spark.sql(
      """SELECT doc_id, graft_token_count(text) AS tc,
        |  graft_lang_id(text) AS lang, graft_quality_ppm(text) AS q
        |FROM sql_surface_nulls""".stripMargin).collect())
    val viaCols = keyed(df.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScorePpm(col("text")).as("q")).collect())
    assert(viaSql === viaCols)
    // and the documented values on the NULL row specifically:
    assert(viaSql(1L)._1 == null)
    assert(viaSql(1L)._2 == "und")
    assert(viaSql(1L)._3 == null)
  }

  test("Column-API text formulas agree with independent Scala evaluation") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200)
    val viaColumns = docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.langId(col("text")).as("lid"),
      TextAnalysis.qualityScorePpm(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2), r.getLong(3))).toMap
    val viaScala = docs.collect().map { r =>
      val t = r.getString(1)
      r.getLong(0) -> (TextAnalysisEval.tokenCount(t), TextAnalysisEval.langId(t),
        TextAnalysisEval.qualityPpm(t))
    }.toMap
    assert(viaColumns == viaScala)
  }

  test("simhash SQL function equals the Column-API sketch") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "lorem ipsum dolor sit amet").toDF("text")
    df.createOrReplaceTempView("t_sketch")
    val viaSql = spark.sql(
      "SELECT graft_simhash(split(trim(text), '\\\\s+')) FROM t_sketch")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = df.select(TextDedup.simhash64(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
  }

  test("graft_bloom_contains and graft_frequent_items callable from SQL") {
    import spark.implicits._
    val bloom = graft.ops.Bloom.build((0L until 100L).toDF("k"), "k", 100L)
    val hex = bloom.map("%02X".format(_)).mkString
    spark.range(0, 200).createOrReplaceTempView("t_bloom")
    val hits = spark.sql(
      s"""SELECT count(*) AS n FROM t_bloom
         |WHERE graft_bloom_contains(X'$hex', xxhash64(id))""".stripMargin)
      .head().getLong(0)
    assert(hits >= 100, s"inserted keys must all probe true, got $hits")
    assert(hits < 150, s"false-positive rate implausible: $hits of 200")

    Seq("a", "a", "a", "b", "b", "c").toDF("item")
      .createOrReplaceTempView("t_mg")
    val mg = spark.sql(
      "SELECT graft_frequent_items(item, 2) AS mg FROM t_mg").head()
    val items = mg.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(items.contains("a"), s"dominant item missing from $items")
  }

  test("graft_cdc_chunks callable from SQL and equal to the Column-API " +
      "kernel") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
      .createOrReplaceTempView("t_cdc")
    val viaSql = spark.sql(
      """SELECT doc_id, c.l, c.ck FROM (
        |  SELECT doc_id,
        |    explode(graft_cdc_chunks(coalesce(text, ''))) AS c
        |  FROM t_cdc)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaCol = spark.table("t_cdc")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(
          graft.queries.ExtensionQueries.cdcChunks(
            org.apache.spark.sql.functions.col("text"))).as("c"))
      .select("doc_id", "c.l", "c.ck")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSql === viaCol,
      "SQL CDC chunking diverged from the Column-API kernel")
    assert(viaSql.nonEmpty)
  }
}
