package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}

/** SQL-surface registration for the engine's function family (SURVEY §4.2):
  * after `GraftFunctions.registerAll(spark)`, every capability is callable
  * from `spark.sql(...)` as well as the Column API.
  *
  * Native expressions register through the FunctionRegistry (stay
  * codegen/eval-native, no UDF wrapping); the HTML family registers as
  * struct-returning UDFs.
  */
object GraftFunctions {

  /** One SQL function: its name, its usage line (DESCRIBE FUNCTION) and
    * a builder that checks the argument count. [[registerAll]] and
    * [[graft.GraftExtensions]] both install [[sqlFunctions]].
    */
  final case class SqlFunction(name: String, usage: String,
      build: Seq[Expression] => Expression)

  private def fn(name: String, n: Int, usage: String)(
      build: Seq[Expression] => Expression): SqlFunction =
    SqlFunction(name, usage, exprs => {
      require(exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      build(exprs)
    })

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  val sqlFunctions: Seq[SqlFunction] = Seq(
    fn("graft_dot", 2,
      "graft_dot(a, b) - left-to-right dot product of two double arrays")(
      e => DotProduct(e(0), e(1))),
    fn("graft_minhash", 2,
      "graft_minhash(shingles, h) - MinHash signature of h permutations")(
      e => MinHashSignature(e(0), e(1).eval().asInstanceOf[Int])),
    fn("graft_simhash", 1,
      "graft_simhash(tokens) - 64-bit SimHash sketch")(
      e => SimHash64(e(0))),
    fn("graft_shingles", 2,
      "graft_shingles(text, n) - word n-gram shingle set")(
      e => WordShingles(e(0), e(1).eval().asInstanceOf[Int])),
    fn("graft_overlap", 2,
      "graft_overlap(a, b) - intersection size of two SORTED string arrays")(
      e => SortedOverlapCount(e(0), e(1))),
    fn("graft_bloom_contains", 2,
      "graft_bloom_contains(bloom, key) - bloom-filter membership probe " +
        "(bytes from graft.ops.Bloom.build, key a 64-bit hash)")(
      e => graft.ops.Bloom.BloomMightContain(e(0), e(1))),
    // aggregate: the analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression, same as the built-in aggregates
    fn("graft_frequent_items", 2,
      "graft_frequent_items(item, k) - Misra-Gries frequent-items " +
        "summary: array<struct<item,lb>> of at most k candidates")(
      e => MisraGriesTopK(e(0), intArg(e(1)))),
    // composition builders (not custom Expressions): each calls its
    // TextAnalysis / Splits Column function on the argument expressions
    // and returns the composed Column's Catalyst tree, which the analyzer
    // resolves in place — UDF-free, fully codegen'd, and the same formula
    // the Column API runs, so SQL ≡ Column by construction.
    fn("graft_winnow_select", 3,
      "graft_winnow_select(text, k, w) - winnowing fingerprint " +
        "selection (Schleimer et al. 2004): md5 of every k-gram of " +
        "the normalized text, minimum per w-window")(
      e => expression(TextAnalysis.winnowSelect(column(e(0)),
        intArg(e(1)), intArg(e(2))))),
    fn("graft_run_entropy", 1,
      "graft_run_entropy(arr) - integer-log2 self-entropy sum of a " +
        "string array: sum over distinct elements of " +
        "f*(floor(log2 n) - floor(log2 f)), one sorted-run pass")(
      e => expression(TextAnalysis.runEntropySum(column(e(0))))),
    // NULL contract: SQL null propagation, as the Column functions have
    // it — graft_token_count(NULL) and graft_quality_ppm(NULL) are NULL,
    // graft_lang_id(NULL) is 'und' (its CASE falls through to the ELSE
    // branch); SqlSurfaceSpec's NULL-input case pins it. The corpus
    // itself has no NULL text (documents.text is generated non-null), so
    // no query result depends on the choice.
    fn("graft_token_count", 1,
      "graft_token_count(text) - whitespace token count")(
      e => expression(TextAnalysis.tokenCount(column(e(0))))),
    fn("graft_lang_id", 1,
      "graft_lang_id(text) - stopword-ratio argmax language id " +
        "(en/de/fr/es/und)")(
      e => expression(TextAnalysis.langId(column(e(0))))),
    fn("graft_quality_ppm", 1,
      "graft_quality_ppm(text) - exact-integer composite quality " +
        "score in parts-per-million (length saturation, punctuation " +
        "cleanliness, stopword presence, token-length sanity)")(
      e => expression(TextAnalysis.qualityScorePpm(column(e(0))))),
    fn("graft_split", 1,
      "graft_split(id) - canonical deterministic 90/5/5 " +
        "train/val/test label from an id (md5-bucket arithmetic)")(
      e => expression(graft.ops.Splits.split(column(e(0))))),
    // the codec tier's SQL surface (binary -> decoded struct): native
    // expressions over the from-scratch image/audio decoders
    fn("graft_image_stats", 1,
      "graft_image_stats(content) - decode an image payload (P6 PPM, " +
        "PNG, GIF, or baseline JPEG, sniffed from the magic bytes) " +
        "and return the pixel statistics struct (width, height, " +
        "n_pixels, sum_channel, sum_channel_sq, max_channel, " +
        "mean_channel)")(
      e => ImageStatsExpr(e(0))),
    fn("graft_audio_stats", 1,
      "graft_audio_stats(content) - decode a RIFF/WAVE PCM16 payload " +
        "(real chunk walk) and return the sample statistics struct " +
        "(n_samples, duration_ms, sum_sample, min_sample, max_sample)")(
      e => AudioStatsExpr(e(0))),
    // content-defined chunking (rolling polynomial window hash, one
    // pass per row — the q193/q194 kernel)
    fn("graft_cdc_chunks", 1,
      "graft_cdc_chunks(text) - content-defined chunking: " +
        "array<struct(l, ck)> of chunk code-point lengths and " +
        "xxhash64 chunk keys; boundaries from a Rabin-style rolling " +
        "polynomial over the trailing 8 code points (bucket 64)")(
      e => CdcChunksExpr(e(0))))

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f =>
      reg.createOrReplaceTempFunction(f.name, f.build, "built-in"))
    JobParse.register(spark)
  }
}

/** Plain-Scala evaluations of the TextAnalysis formulas: an independent
  * cross-check of the Column formulations (SqlSurfaceSpec).
  */
object TextAnalysisEval {

  def tokens(s: String): Array[String] = {
    val t = s.trim
    if (t.isEmpty) Array("") else t.split("\\s+")
  }

  def tokenCount(s: String): Int = tokens(s).length

  def stopwordRatio(s: String, lang: String): Double = {
    val toks = tokens(s)
    val list = TextAnalysis.stopwords(lang).toSet
    toks.count(list.contains).toDouble / math.max(toks.length, 1)
  }

  def langId(s: String): String = {
    if (s == null) return "und"
    val langs = Seq("en", "de", "fr", "es")
    val ratios = langs.map(l => l -> stopwordRatio(s, l))
    val best = ratios.map(_._2).max
    if (best <= 0d) "und" else ratios.find(_._2 == best).map(_._1).getOrElse("und")
  }

  // Same character classes as TextAnalysis.punctCount's [^A-Za-z0-9\s]
  // (Java \s = ASCII whitespace) so the SQL UDF and Column API agree on
  // non-ASCII text; Character.isLetterOrDigit would diverge on e.g. 'é'.
  private def isAsciiAlnum(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def qualityPpm(s: String): Long = {
    if (s == null) return 0L
    val M = 1000000L
    val len = s.length.toLong
    val toks = math.max(tokenCount(s), 1).toLong
    val punct = s.count(c => !isAsciiAlnum(c) && !isAsciiSpace(c)).toLong
    val stops = {
      val list = TextAnalysis.stopwords("en").toSet
      tokens(s).count(list.contains).toLong
    }
    val lenScore = math.min(len * M / 500L, M)
    val punctScore = M - punct * M / math.max(len, 1L)
    val stopScore = math.min(stops * 4L * M / toks, M)
    val tokScore = math.min(len * M / (toks * 8L), M)
    (lenScore + punctScore + stopScore + tokScore) / 4L
  }
}
