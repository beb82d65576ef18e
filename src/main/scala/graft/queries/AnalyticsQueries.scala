package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Classic analytic workloads (TPC-H-shaped) over the test corpus — the
  * headline bench queries that exercise scan-filter-join-aggregate plans at
  * their widest, plus a TF-IDF text-feature extension (SURVEY §7.5d).
  *
  * Float policy: monetary sums go through per-row decimal casts wide enough
  * for the product's exact decimal count (price×(1±x)×(1±y) has ≤6
  * decimals → DECIMAL(22,6)), then one cast back to double — exact,
  * order-insensitive, hash-stable against the DuckDB oracle.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  private def exactSum6(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(22, 6))).cast("double")
  import Tables.exactSum

  /** q28 — pricing summary report (TPC-H Q1 shape): single wide aggregate
    * over the fact table with a pushed date filter; partial+final agg, one
    * shuffle of 4 groups.
    */
  val q28_pricing_summary: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        exactSum6(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        (exactSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (exactSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (exactSum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q28Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q29 — top unshipped orders by revenue (TPC-H Q3 shape): selective
    * dimension filter broadcast against the fact, grouped revenue, top-10
    * with deterministic tie-break.
    */
  val q29_top_orders: Q = (s, d) => {
    val cutoff = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q29Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q30 — regional supplier revenue (TPC-H Q5 shape): the widest join tree
    * in the suite (6 tables); small dims broadcast, the supplier-customer
    * co-nation constraint rides the join condition.
    */
  val q30_region_revenue: Q = (s, d) => {
    val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
    val hi = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(sup),
        l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  val q30Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** q31 — TF-IDF top-3 terms per document (SURVEY §7.5d): explode → tf →
    * df → idf join → windowed top-k. All shuffles key on doc or term; the
    * corpus-size scalar is a broadcast cross join.
    */
  val q31_tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("nn"))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("nn").cast("double") / col("df")), 6).as("score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
  }

  val q31Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS nn FROM documents)
      |SELECT doc_id, term, score, rk FROM (
      |  SELECT doc_id, term, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS INTEGER) AS rk
      |  FROM (
      |    SELECT tf.doc_id, tf.term,
      |      round(tf.tf * ln(CAST(n.nn AS DOUBLE) / df.df), 6) AS score
      |    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n) t1) t2
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** q78 — EQUI-DEPTH histogram (the quantile-binned complement of q48's
    * fixed-width bins): ntile(10) per order-status over a total order
    * (price, key) so tile assignment is deterministic; per-tile count and
    * [lo, hi] bounds. The window partitions by status — no global sort;
    * at extreme per-group cardinality the approx-percentile boundary
    * variant (Robust-style) swaps in.
    */
  val q78_equidepth_hist: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("status").orderBy("price", "okey")
    Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      .withColumn("tile", ntile(10).over(w))
      .groupBy("status", "tile")
      .agg(count(lit(1)).as("n"), min("price").as("lo"), max("price").as("hi"))
      .select(col("status"), col("tile"), col("n"), col("lo"), col("hi"))
  }

  val q78SqlFull: String =
    """WITH t AS (
      |  SELECT o_orderstatus AS status,
      |    CAST(ntile(10) OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS tile,
      |    o_totalprice AS price
      |  FROM orders)
      |SELECT status, tile, count(*) AS n, min(price) AS lo, max(price) AS hi
      |FROM t GROUP BY status, tile ORDER BY status, tile""".stripMargin

  /** q79 — event FUNNEL: per user, first view, first click strictly after
    * that view, first purchase strictly after that click — the ordered
    * conversion funnel, reported as users-per-deepest-stage. Three
    * conditional min-aggregates with join-backs keyed on user (each
    * aggregate is partial+final; no window over the event stream). The
    * per-user tables grow with the user base, so they carry NO broadcast
    * hint — AQE broadcasts when they happen to be small, and shuffles on
    * user_id when they are not.
    */
  val q79_funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    val v = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("v_ts"))
    val c = ev.join(v, "user_id")
      .groupBy("user_id", "v_ts")
      .agg(min(when(col("event_type") === "click" &&
        col("ts") > col("v_ts"), col("ts"))).as("c_ts"))
    val p = ev.join(c, "user_id")
      .groupBy("user_id", "v_ts", "c_ts")
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts") > col("c_ts"), col("ts"))).as("p_ts"))
    p.select(col("user_id"),
        when(col("p_ts").isNotNull, 3)
          .when(col("c_ts").isNotNull, 2)
          .when(col("v_ts").isNotNull, 1)
          .otherwise(0).cast("int").as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
  }

  val q79Sql: String =
    """WITH v AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, v.v_ts,
      |    min(CASE WHEN e.event_type = 'click' AND e.ts > v.v_ts
      |        THEN e.ts END) AS c_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  GROUP BY e.user_id, v.v_ts),
      |p AS (
      |  SELECT e.user_id, c.v_ts, c.c_ts,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.c_ts
      |        THEN e.ts END) AS p_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  GROUP BY e.user_id, c.v_ts, c.c_ts)
      |SELECT CAST(CASE WHEN p_ts IS NOT NULL THEN 3
      |            WHEN c_ts IS NOT NULL THEN 2
      |            WHEN v_ts IS NOT NULL THEN 1
      |            ELSE 0 END AS INTEGER) AS stage,
      |  count(*) AS n_users
      |FROM p GROUP BY 1 ORDER BY stage""".stripMargin

  /** q80 — COHORT retention: users grouped by first-active day, counted as
    * active at each later day offset — the activation/retention matrix.
    * One aggregate for cohorts (joined back on user — unbounded
    * cardinality, so no broadcast hint), one distinct-activity aggregate,
    * one count — all partial+final, keyed by user or (cohort, offset).
    */
  val q80_cohort_retention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.dropDuplicates("user_id", "day")
      .join(cohort, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("int").as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  val q80Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
      |SELECT c.cohort_day,
      |  CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
      |  count(*) AS n_users
      |FROM act a JOIN cohort c ON a.user_id = c.user_id
      |GROUP BY c.cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** q126 — snapshot distribution drift: total-variation distance between
    * a reference window and the current window, per monitored dimension —
    * the training-data monitor that catches a silently shifted source
    * before it reaches a training run. One numeric dimension (o_totalprice
    * over 10 equi-width buckets laid out on the REFERENCE window's range —
    * current rows clamp into the edge buckets, so out-of-range mass is
    * itself drift) and one categorical (o_orderpriority); per-bucket
    * contributions plus a TOTAL row per dimension, TVD = ½·Σ|p_i − q_i|.
    *
    * Drift is reported in exact integer ppm: |n_ref·M − n_cur·N| keeps
    * the bucket terms in cross-multiplied integers (no per-engine float
    * division), and the only float arithmetic anywhere is the bucket
    * edge computation, written identically on both engines. At true
    * 100 TB cardinalities the n·M cross products approach BIGINT range —
    * there the counts should drop to per-partition partials cast into
    * DECIMAL(38,0) before the cross-multiply; the plan shape (two
    * grouped counts + a 20-row join) is unchanged.
    *
    * Scale shape: one scan, one 20-group partial+final aggregate, one
    * broadcast of a 1-row min/max and a ~20-row totals join — nothing
    * corpus-sized shuffles.
    */
  val q126_snapshot_drift: Q = (s, d) => {
    val split = lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00"))
    val o = Tables.orders(s, d).select(
      (col("o_orderdate") < split).as("is_ref"),
      col("o_totalprice"), col("o_orderpriority"))
    val mm = o.filter(col("is_ref"))
      .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    val priceBucket = {
      val q = (col("o_totalprice") - col("lo")) * 10.0 / (col("hi") - col("lo"))
      when(col("hi") > col("lo"),
        least(greatest(floor(q), lit(0L)), lit(9L))).otherwise(0L)
    }
    val rows = o.crossJoin(broadcast(mm))
      .select(col("is_ref"), lit("totalprice").as("dim"),
        priceBucket.cast("string").as("bucket"))
      .unionByName(o.select(col("is_ref"), lit("orderpriority").as("dim"),
        col("o_orderpriority").as("bucket")))
    tvdDrift(rows.groupBy("dim", "bucket").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur")))
  }

  /** The TVD rollup over per-(dim, bucket) reference/current counts
    * (dim, bucket, n_ref, n_cur): each bucket's drift term
    * |n_ref·M − n_cur·N| in exact integer ppm of ½·N·M, plus a TOTAL row
    * per dim. Shared by q126 (both windows counted in-query) and
    * [[graft.pipeline.CorpusBuild.stateDrift]] (reference = the folded
    * state counts).
    */
  private[graft] def tvdDrift(counts: DataFrame): DataFrame = {
    val totals = counts.groupBy("dim")
      .agg(sum("n_ref").as("tot_ref"), sum("n_cur").as("tot_cur"))
    val terms = counts.join(broadcast(totals), "dim")
      .withColumn("term",
        abs(col("n_ref") * col("tot_cur") - col("n_cur") * col("tot_ref")))
    terms.select(col("dim"), col("bucket"), col("n_ref"), col("n_cur"),
        expr("(1000000 * term) DIV (2 * tot_ref * tot_cur)").as("drift_ppm"))
      .unionByName(terms.groupBy("dim", "tot_ref", "tot_cur")
        .agg(sum("term").as("t"))
        .select(col("dim"), lit("TOTAL").as("bucket"),
          col("tot_ref").as("n_ref"), col("tot_cur").as("n_cur"),
          expr("(1000000 * t) DIV (2 * tot_ref * tot_cur)").as("drift_ppm")))
  }

  /** [[tvdDrift]] as oracle SQL: continues a WITH list whose last CTE
    * is `counts` (dim, bucket, n_ref, n_cur). Shared by q126Sql and
    * q128Sql.
    */
  private[queries] val tvdSql: String =
    """tot AS (SELECT dim, CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
      |               CAST(SUM(n_cur) AS BIGINT) AS tot_cur
      |        FROM counts GROUP BY dim),
      |terms AS (
      |  SELECT c.dim, c.bucket, c.n_ref, c.n_cur, t.tot_ref, t.tot_cur,
      |    abs(c.n_ref * t.tot_cur - c.n_cur * t.tot_ref) AS term
      |  FROM counts c JOIN tot t ON c.dim = t.dim)
      |SELECT dim, bucket, n_ref, n_cur,
      |  CAST((1000000 * term) // (2 * tot_ref * tot_cur) AS BIGINT)
      |    AS drift_ppm
      |FROM terms
      |UNION ALL
      |SELECT dim, 'TOTAL', tot_ref, tot_cur,
      |  CAST((1000000 * CAST(SUM(term) AS BIGINT))
      |    // (2 * tot_ref * tot_cur) AS BIGINT)
      |FROM terms GROUP BY dim, tot_ref, tot_cur
      |ORDER BY dim, bucket""".stripMargin

  val q126Sql: String =
    s"""WITH o AS (
      |  SELECT o_orderdate < TIMESTAMP '1998-06-01' AS is_ref,
      |    o_totalprice, o_orderpriority FROM orders),
      |mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |       FROM o WHERE is_ref),
      |rows_ AS (
      |  SELECT is_ref, 'totalprice' AS dim,
      |    CAST(CASE WHEN hi > lo THEN CAST(least(greatest(
      |        floor((o_totalprice - lo) * 10.0 / (hi - lo)), 0), 9) AS BIGINT)
      |      ELSE 0 END AS VARCHAR) AS bucket
      |  FROM o, mm
      |  UNION ALL
      |  SELECT is_ref, 'orderpriority', o_orderpriority FROM o),
      |counts AS (
      |  SELECT dim, bucket,
      |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
      |  FROM rows_ GROUP BY dim, bucket),
      |$tvdSql""".stripMargin

  /** q127 — Z-order layout audit: quantize orders onto a 1024×1024
    * (price × order-day) grid, Morton-interleave the two 10-bit ranks
    * ([[graft.ops.Layout.zValue]]), and report each 1024-wide z-range —
    * one would-be output file under [[graft.ops.Layout.clusterByZ]] —
    * with its row count and min/max span on BOTH raw dimensions. The
    * point of the readout: every z-range's price span AND day span are
    * narrow simultaneously, which is exactly the property that lets
    * parquet footer min/max prune scans on either predicate from one
    * physical copy; a 1-D sort gets one narrow span, never both.
    *
    * Day ranks are pure integer arithmetic ((days·1024) DIV (range+1));
    * the only float math is the price edge computation, written
    * identically on both engines; the interleave is shift/mask only.
    */
  val q127_zorder_layout: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val mm = o.agg(
      min("o_totalprice").as("lo_p"), max("o_totalprice").as("hi_p"),
      min(col("o_orderdate").cast("date")).as("lo_d"),
      max(col("o_orderdate").cast("date")).as("hi_d"))
    val priceRank = {
      val q = (col("o_totalprice") - col("lo_p")) * 1024.0 /
        (col("hi_p") - col("lo_p"))
      when(col("hi_p") > col("lo_p"),
        least(greatest(floor(q), lit(0L)), lit(1023L))).otherwise(0L)
    }
    val ranked = o.crossJoin(broadcast(mm))
      .withColumn("days",
        datediff(col("o_orderdate").cast("date"), col("lo_d")).cast("long"))
      .withColumn("range_days",
        datediff(col("hi_d"), col("lo_d")).cast("long"))
      .select(col("o_totalprice"), col("days"), priceRank.as("bx"),
        expr("(days * 1024) DIV (range_days + 1)").as("by"))
    ranked
      .withColumn("z", graft.ops.Layout.zValue(10, col("bx"), col("by")))
      .groupBy(expr("z DIV 1024").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"),
        min("days").as("min_day"), max("days").as("max_day"))
  }

  val q127Sql: String = {
    val zTerms = (0 until 10).flatMap(i => Seq(
      s"(((bx >> $i) & 1) << ${2 * i})",
      s"(((by >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH mm AS (
       |  SELECT min(o_totalprice) AS lo_p, max(o_totalprice) AS hi_p,
       |    min(CAST(o_orderdate AS DATE)) AS lo_d,
       |    max(CAST(o_orderdate AS DATE)) AS hi_d
       |  FROM orders),
       |ranked AS (
       |  SELECT o_totalprice,
       |    CAST(CAST(o_orderdate AS DATE) - lo_d AS BIGINT) AS days,
       |    CASE WHEN hi_p > lo_p THEN CAST(least(greatest(
       |        floor((o_totalprice - lo_p) * 1024.0 / (hi_p - lo_p)), 0),
       |        1023) AS BIGINT) ELSE 0 END AS bx,
       |    (CAST(CAST(o_orderdate AS DATE) - lo_d AS BIGINT) * 1024)
       |      // (CAST(hi_d - lo_d AS BIGINT) + 1) AS by
       |  FROM orders, mm),
       |z AS (SELECT o_totalprice, days, $zTerms AS z FROM ranked)
       |SELECT z // 1024 AS zbucket, CAST(count(*) AS BIGINT) AS n,
       |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       |  min(days) AS min_day, max(days) AS max_day
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q126_snapshot_drift" -> q126_snapshot_drift,
    "q127_zorder_layout" -> q127_zorder_layout,
    "q28_pricing_summary" -> q28_pricing_summary,
    "q29_top_orders" -> q29_top_orders,
    "q30_region_revenue" -> q30_region_revenue,
    "q31_tfidf" -> q31_tfidf,
    "q78_equidepth_hist" -> q78_equidepth_hist,
    "q79_funnel" -> q79_funnel,
    "q80_cohort_retention" -> q80_cohort_retention)

  val oracleSql: Map[String, String] = Map(
    "q126_snapshot_drift" -> q126Sql,
    "q127_zorder_layout" -> q127Sql,
    "q28_pricing_summary" -> q28Sql,
    "q29_top_orders" -> q29Sql,
    "q30_region_revenue" -> q30Sql,
    "q31_tfidf" -> q31Sql,
    "q78_equidepth_hist" -> q78SqlFull,
    "q79_funnel" -> q79Sql,
    "q80_cohort_retention" -> q80Sql)
}
