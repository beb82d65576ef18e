package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.PiiQueries

/** The PII screen beyond its DuckDB oracle: the oracle proves engine
  * equivalence on the planted corpus; this proves the DETECTOR finds
  * what it exists to find — hand-written PII strings in free text —
  * and that redaction removes every match while leaving clean text
  * byte-identical.
  */
class PiiSpec extends AnyFunSuite with SharedSpark {

  test("hand-written PII strings are detected, typed, and redacted; " +
      "clean text passes through byte-identical") {
    import spark.implicits._
    // doc_ids chosen so no planted segment is appended (id % 3,5,7 != 0)
    val docs = Seq(
      (1L, "reach me at jane.doe+spam@corp-mail.co.uk or x@y.io today"),
      (2L, "server 192.168.001.250 and 8.8.8.8 went down"),
      (4L, "call 555-123-4567 and 011-222-3333 now"),
      (8L, "mixed: a@b.com via 10.0.0.1 dial 999-888-7777"),
      (11L, "no pii here, just 42 words and 3.14 constants"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    // run the detection columns directly over the hand corpus (the
    // query itself reads the parquet tables; same Column definitions)
    val r = docs.withColumn("aug", PiiQueries.plantedText)
      .select(col("doc_id"), col("aug"),
        size(regexp_extract_all(col("aug"),
          lit(PiiQueries.EmailRe), lit(0))).as("ne"),
        size(regexp_extract_all(col("aug"),
          lit(PiiQueries.Ipv4Re), lit(0))).as("ni"),
        size(regexp_extract_all(col("aug"),
          lit(PiiQueries.PhoneRe), lit(0))).as("np"),
        regexp_replace(regexp_replace(regexp_replace(col("aug"),
          PiiQueries.EmailRe, "<EMAIL>"),
          PiiQueries.Ipv4Re, "<IP>"),
          PiiQueries.PhoneRe, "<PHONE>").as("red"))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(2), x.getInt(3), x.getInt(4), x.getString(5))).toMap
    assert(r(1L) === ((2, 0, 0,
      "reach me at <EMAIL> or <EMAIL> today")))
    assert(r(2L) === ((0, 2, 0, "server <IP> and <IP> went down")))
    assert(r(4L) === ((0, 0, 2, "call <PHONE> and <PHONE> now")))
    assert(r(8L) === ((1, 1, 1, "mixed: <EMAIL> via <IP> dial <PHONE>")))
    assert(r(11L) === ((0, 0, 0,
      "no pii here, just 42 words and 3.14 constants")),
      "clean text must pass through byte-identical")
  }

  test("hand-written URLs: normalization strips fragments and utm_* " +
      "params wherever they sit, keeps meaningful params, and leaves " +
      "tracking-free URLs untouched") {
    import spark.implicits._
    import graft.queries.UrlQueries
    val cases = Seq(
      // utm leads the query: the next param is promoted back to '?'
      (1L, "https://a.io/p?utm_source=x&id=7#sec",
            "https://a.io/p?id=7"),
      // utm in the middle and at the end
      (2L, "http://b.co/x?id=1&utm_campaign=c&page=2&utm_medium=m",
            "http://b.co/x?id=1&page=2"),
      // nothing to strip
      (3L, "https://c.org/plain?keep=1", "https://c.org/plain?keep=1"),
      // fragment only
      (4L, "https://d.net/path#top", "https://d.net/path"),
      // only tracking params: the whole query (and its '?') drops
      (5L, "https://e.com/q?utm_source=s#f", "https://e.com/q"))
      .toDF("id", "u", "want")
    val got = cases.select(col("id"), UrlQueries.normalize(col("u"))
        .as("got"), col("want"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    for ((id, g, w) <- got)
      assert(g === w, s"case $id")
  }

  test("planted corpus: q172 residuals are all zero (redaction is " +
      "complete), densities follow the id arithmetic, and the q173 " +
      "rollup sums tie out against q172") {
    val sf = "/root/testdata/sf0.001"
    val q172 = PiiQueries.q172_pii_redact(spark, sf).cache()
    // completeness: nothing the detectors match survives redaction
    assert(q172.filter(col("n_residual") > 0).count() === 0L)
    // density: ids divisible by 3 carry exactly one planted email
    val bad = q172.filter(
      (col("doc_id") % 3 === 0 && col("n_emails") =!= 1) ||
      (col("doc_id") % 3 =!= 0 && col("n_emails") =!= 0) ||
      (col("doc_id") % 7 === 0 && col("n_phones") =!= 1) ||
      (col("doc_id") % 7 =!= 0 && col("n_phones") =!= 0)).count()
    assert(bad === 0L, "planted densities must follow the id arithmetic")
    val q173 = PiiQueries.q173_pii_audit(spark, sf)
    val totals = q173.agg(sum("docs"), sum("emails"), sum("phones"),
      sum("residual_after_redaction")).collect()(0)
    val expect = q172.agg(count(lit(1)), sum("n_emails"), sum("n_phones"))
      .collect()(0)
    assert(totals.getLong(0) === expect.getLong(0))
    assert(totals.getLong(1) === expect.getLong(1))
    assert(totals.getLong(2) === expect.getLong(2))
    assert(totals.getLong(3) === 0L)
    q172.unpersist()
  }
}
