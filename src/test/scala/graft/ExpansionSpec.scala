package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.RangeJoin
import graft.queries.{ExpansionQueries, Tables}

/** Contracts for the round-2 expansion operators that the DuckDB oracle
  * can't check: range-join equivalence to the naive predicate join, sketch
  * error bounds against the exact tier, and hash-sampling determinism.
  */
class ExpansionSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("withinTime equals the naive inequality join (recall AND precision)") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "us")
    val views = ev.filter(col("event_type") === "view").select("event_id", "us")

    val binned = RangeJoin.withinTime(clicks, views, "us", window = 60000000L)
      .select(col("p_event_id"), col("b_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    val naive = clicks.as("c").join(views.as("v"),
        abs(col("c.us") - col("v.us")) <= 60000000L)
      .select(col("c.event_id"), col("v.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    assert(binned.length === naive.length, "no duplicate pairs from binning")
    assert(binned.toSet === naive.toSet)
    assert(binned.nonEmpty, "fixture must exercise the join")
  }

  test("pointInInterval finds exactly the containing intervals") {
    import spark.implicits._
    val points = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 100L))
      .toDF("pid", "x")
    val intervals = Seq((10L, 0L, 10L), (20L, 8L, 30L), (30L, 50L, 60L))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "x", "lo", "hi",
        binWidth = 10L)
      .select(col("p_pid"), col("i_iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)))
  }

  test("sketch aggregates stay within 5% of the exact tier") {
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
        expr("percentile(l_extendedprice, 0.9)").as("exact_p90"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = ExpansionQueries.q51_sketches(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (flag, (aOrders, aMed, aP90)) =>
      val (eOrders, eMed, eP90) = exact(flag)
      assert(math.abs(aOrders - eOrders).toDouble / eOrders <= 0.05,
        s"$flag approx_count_distinct off by >5%: $aOrders vs $eOrders")
      assert(math.abs(aMed - eMed) / eMed <= 0.05,
        s"$flag approx median off by >5%: $aMed vs $eMed")
      assert(math.abs(aP90 - eP90) / eP90 <= 0.05,
        s"$flag approx p90 off by >5%: $aP90 vs $eP90")
    }
  }

  test("hash sampling is deterministic, disjoint across buckets, ~uniform") {
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
    val n = all.count()
    val sampled = ExpansionQueries.q52_hash_sample(spark, sf)
    val again = ExpansionQueries.q52_hash_sample(spark, sf)
    // the slice is unordered: compare the two runs in doc_id order
    def byDoc(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getLong(0)).toSeq
    assert(byDoc(sampled) === byDoc(again), "same slice on every run")
    val frac = sampled.count().toDouble / n
    assert(frac > 0.02 && frac < 0.25, s"10% slice wildly off: $frac")
    // buckets partition the corpus: every doc in exactly one bucket
    assert(all.groupBy("doc_id").agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") =!= 1).isEmpty)
  }

  test("GraftExtensions installs the native functions at session build time") {
    val orig = spark // force-init the shared session first
    // a fresh SparkSession over the SAME context — getOrCreate would hand
    // back the active session and silently skip the extensions config
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // `spark.sql.extensions` is a STATIC conf — honored only at context
    // launch (spark-submit --conf), which a shared-JVM test can't redo;
    // withExtensions drives the exact same class programmatically
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("ExtensionsInstallSpec")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(dot === 11.0)
      val sh = s2.sql(
        "SELECT size(graft_shingles(split('a b c d', ' '), 3)) AS n")
        .head().getInt(0)
      assert(sh === 2)
      assert(s2.sql("SELECT graft_simhash(array('a','b')) AS h").head().getLong(0)
        === orig.range(1)
          .select(graft.functions.SketchExpressions.simhash64(
            array(lit("a"), lit("b")))).head().getLong(0),
        "extension-injected function matches the Column API expression")
      // the column-composition builders install through the same path
      val sel = s2.sql(
        "SELECT graft_winnow_select('the quick brown fox jumps', 8, 4) AS s")
        .head().getSeq[String](0)
      assert(sel.nonEmpty && sel.forall(_.length == 32),
        "winnow selection must be md5 hex fingerprints")
      // n=4 (L=2): run a (f=2, L=1) adds 2*(2-1)=2; b and c (f=1, L=0)
      // each add 1*(2-0)=2 -> total 6
      assert(s2.sql(
        "SELECT graft_run_entropy(array('a','a','b','c')) AS e")
        .head().getLong(0) === 6L)
    } finally {
      // restore the suite's session; never stop() — the context is shared
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  streamingTest("streaming dedup within watermark drops cross-batch duplicate ids") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val source = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val events = source.toDF().toDF("event_id", "ts")
    val q = graft.streaming.EventStream.dedupStream(events, "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    def ts(minute: Long) = new java.sql.Timestamp(minute * 60000L)
    try {
      source.addData((1L, ts(100)), (2L, ts(101)), (1L, ts(100)))
      q.processAllAvailable()
      source.addData((1L, ts(102)), (3L, ts(103))) // id 1 replayed within delay
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L),
        "each id emitted once despite in-batch and cross-batch replays")
    } finally q.stop()
  }

  test("connected components: paths, cliques, singletons, determinism") {
    import spark.implicits._
    // component 1: path 1-2-3-4 (diameter 3); component 2: triangle 10-11-12;
    // singletons: 20, 21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L).toDF("id")
    val got = graft.ops.Components.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L))
    // non-convergence must throw, not mislabel
    val long = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val longNodes = (1L to 30L).toDF("id")
    intercept[IllegalStateException] {
      graft.ops.Components.connectedComponents(longNodes, long, maxIter = 3)
    }
  }

  test("saltedAggMulti equals the direct single-pass aggregate") {
    val ev = Tables.events(spark, sf).select("event_type", "value")
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("value").as("mn"), max("value").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val salted = graft.ops.Skew.saltedAggMulti(ev, "event_type", "value", 16,
        partials = Seq("n" -> count(lit(1)), "mn" -> min("value"),
          "mx" -> max("value")),
        merges = Seq("n" -> sum("n"), "mn" -> min("mn"), "mx" -> max("mx")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(salted === direct)
  }

  test("merged daily HLL sketches estimate monthly distincts within 5%") {
    val exact = Tables.orders(spark, sf)
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
      .agg(countDistinct("o_custkey").as("exact"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val approx = ExpansionQueries.q60_hll_merge(spark, sf)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (m, a) =>
      val e = exact(m)
      // dense-HLL granularity floor: at tiny true counts (sf0.001
      // months hold ~20 customers) a single register collision moves
      // the linear-counting estimate by 1 — expected behavior
      // (collision odds ~ n^2/2m), not estimator drift, so the
      // relative gate carries a ±2 absolute allowance
      assert(math.abs(a - e).toDouble <= math.max(2.0, 0.05 * e),
        s"$m: $a vs $e")
    }
  }

  streamingTest("stream-stream interval join equals its batch form across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, user: Long, sec: Long) =
      (id, user, new java.sql.Timestamp(sec * 1000L))
    val clickSrc = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val viewSrc = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "ts")
    val q = graft.streaming.EventStream.clickViewJoin(
        named(clickSrc.toDF()), named(viewSrc.toDF()),
        gapSeconds = 60, delay = "2 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .start()
    try {
      // batch 1: views for users 1,2; batch 2: clicks — matches must
      // pair across micro-batches from buffered join state
      viewSrc.addData(ev(100, 1, 1000), ev(101, 1, 1030), ev(102, 2, 1030),
        ev(103, 1, 900)) // too old for the 60s window
      q.processAllAvailable()
      clickSrc.addData(ev(200, 1, 1040), ev(201, 2, 1080))
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .select("click_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.streaming.EventStream.clickViewJoin(
          Seq(ev(200, 1, 1040), ev(201, 2, 1080)).toDF("event_id", "user_id", "ts"),
          Seq(ev(100, 1, 1000), ev(101, 1, 1030), ev(102, 2, 1030),
            ev(103, 1, 900)).toDF("event_id", "user_id", "ts"),
          gapSeconds = 60, delay = "2 minutes")
        .select("click_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(streamed === Set((200L, 100L), (200L, 101L), (201L, 102L)))
    } finally q.stop()
  }

  streamingTest("foreachBatch + appendNewKeys = an idempotent streaming upsert sink") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sink = tempDir("graft_stream_upsert").toFile.getAbsolutePath + "/t"
    val source = MemoryStream[(Long, String)](spark)
    val q = source.toDF().toDF("id", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sources.Sources.appendNewKeys(spark, batch, sink, Seq("id"))
      }
      .start()
    try {
      source.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      // replayed and new keys in one batch: only key 3 may append
      source.addData((1L, "a"), (2L, "b2"), (3L, "c"))
      q.processAllAvailable()
      val got = spark.read.parquet(sink)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "a", 2L -> "b", 3L -> "c"),
        "replays must not duplicate or overwrite existing keys")
    } finally q.stop()
  }

  test("grouping sets equals the union of its component aggregates") {
    val gs = ExpansionQueries.q45_grouping_sets(spark, sf)
    val n = Tables.orders(spark, sf)
    val byStatus = n.groupBy("o_orderstatus").count().count()
    val byPrio = n.groupBy("o_orderpriority").count().count()
    assert(gs.count() === byStatus + byPrio + 1)
  }

  test("alternating CC matches min-label CC; converges on deep paths") {
    import spark.implicits._
    import graft.ops.{Components, TextDedup}
    val docs = Tables.documents(spark, sf)
    val pairs = TextDedup.ngramJaccardPairs(
        docs, "doc_id", "text", "lang", n = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val nodes = docs.select(col("doc_id").as("id"))
    val minLabel = Components.connectedComponents(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val alternating = Components.connectedComponentsAlternating(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(alternating === minLabel)
    // a 150-hop path: diameter far beyond min-label's default round bound,
    // closed by the alternating stars in O(log n) rounds
    val path = (0L until 150L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pathNodes = (0L to 150L).toDF("id")
    val got = Components.connectedComponentsAlternating(pathNodes, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0L to 150L).map(_ -> 0L).toSet,
      "every path node must label to the path minimum")
  }

  test("approx equi-depth buckets track exact ntile within sketch tolerance") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("okey"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
    val approx = graft.ops.Robust.equiDepthBuckets(o, "status", "price", k = 10)
      .groupBy("status", "bucket").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("status").orderBy("price", "okey")
    val exact = o.withColumn("tile", ntile(10).over(w))
      .groupBy("status", "tile").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // same bucket ids on both sides; per-bucket sizes within 10% of the
    // ideal depth (ties and sketch rank error both move rows at edges)
    assert(approx.keySet == exact.keySet)
    val perStatus = exact.groupBy(_._1._1).view.mapValues(_.values.sum)
    for (((st, b), n) <- approx) {
      val ideal = perStatus(st) / 10.0
      assert(math.abs(n - ideal) <= math.max(3.0, ideal * 0.1),
        s"bucket ($st, $b) depth $n drifted from ideal $ideal")
    }
  }

  test("approx MAD tier tracks the exact tier within sketch tolerance") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    def stats(exact: Boolean): Map[String, (Double, Double, Long)] =
      graft.ops.Robust.madOutliers(o, "status", "price", exact = exact)
        .groupBy("status")
        .agg(first("med").as("med"), first("mad").as("mad"),
          sum(col("is_outlier").cast("long")).as("n_out"))
        .collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
        .toMap
    val ex = stats(exact = true)
    val ap = stats(exact = false)
    assert(ex.keySet == ap.keySet)
    for (k <- ex.keySet) {
      val (em, ed, en) = ex(k)
      val (am, ad, an) = ap(k)
      assert(math.abs(am - em) / em <= 0.02,
        s"approx median for $k drifted: $am vs $em")
      assert(math.abs(ad - ed) / ed <= 0.05,
        s"approx MAD for $k drifted: $ad vs $ed")
      assert(math.abs(an - en) <= math.max(2L, en / 50),
        s"outlier count for $k drifted: $an vs $en")
    }
  }
}
