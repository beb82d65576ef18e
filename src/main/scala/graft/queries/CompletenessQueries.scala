package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engine-completeness queries: the relational surface a user of a general
  * analytics engine expects beyond the reference's own operators —
  * correlated-subquery-as-window rewrites, conditional aggregation, rollup,
  * pivot, semi/full-outer joins. All DuckDB-oracle-checked.
  */
object CompletenessQueries {
  import Tables.exactSum

  type Q = (SparkSession, String) => DataFrame

  /** q33 — min-per-group lookup (TPC-H Q2 shape): the correlated
    * `WHERE price = (SELECT min(price) ...)` decorrelated into a window
    * min — no self-join, one shuffle on the group key.
    */
  val q33_min_cost_supplier: Q = (s, d) => {
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .withColumn("min_price", min("l_extendedprice").over(w))
      .filter(col("l_extendedprice") === col("min_price"))
      .groupBy("l_partkey", "l_extendedprice")
      .agg(min("l_suppkey").as("supp"))
      .select(col("l_partkey"), col("supp"), col("l_extendedprice").as("price"))
  }

  val q33Sql: String =
    """SELECT l_partkey, min(l_suppkey) AS supp, l_extendedprice AS price
      |FROM (
      |  SELECT l_partkey, l_suppkey, l_extendedprice,
      |    min(l_extendedprice) OVER (PARTITION BY l_partkey) AS mp
      |  FROM lineitem) t
      |WHERE l_extendedprice = mp
      |GROUP BY l_partkey, l_extendedprice
      |ORDER BY l_partkey""".stripMargin

  /** q34 — conditional-aggregation share (TPC-H Q14 shape): percentage of
    * revenue from one part type; exact decimal sums, one double division.
    */
  val q34_promo_share: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .agg(
        (exactSum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0d)))
          * 100d /
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("promo_share"),
        count(lit(1)).as("n"))
  }

  val q34Sql: String =
    """SELECT
      |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
      |      AS DECIMAL(18,4))) AS DOUBLE) * 100
      |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
      |    AS promo_share,
      |  count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin

  /** q35 — top customers by returned-item revenue (TPC-H Q10 shape). */
  val q35_top_customers: Q = (s, d) => {
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q35Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q36 — rollup with grouping id: subtotal rows carry nulls, so the
    * deterministic ordering keys on grouping() first (and the oracle pins
    * NULLS FIRST to match Spark's ascending null order).
    */
  val q36_rollup: Q = (s, d) =>
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("total"),
        grouping_id(col("o_orderstatus"), col("o_orderpriority")).cast("long").as("gid"))

  val q36Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q37 — pivot: order counts + exact revenue per status column, one row
    * per priority (oracle spells the pivot as conditional aggregation).
    */
  val q37_pivot: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))

  val q37Sql: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q38 — full-outer join with coalesced keys plus a semi-join count:
    * orders↔lineitem coverage accounting (which side has unmatched rows).
    */
  val q38_outer_semi: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderkey"))
      .withColumn("has_order", lit(1))
    val l = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("l_orderkey")).as("okey"),
        when(col("has_order").isNotNull && col("n_items").isNotNull, "both")
          .when(col("has_order").isNotNull, "order_only")
          .otherwise(lit("line_only")).as("side"),
        coalesce(col("n_items"), lit(0L)).as("n_items"))
  }

  val q38Sql: String =
    """SELECT coalesce(o.o_orderkey, l.l_orderkey) AS okey,
      |  CASE WHEN o.o_orderkey IS NOT NULL AND l.l_orderkey IS NOT NULL THEN 'both'
      |       WHEN o.o_orderkey IS NOT NULL THEN 'order_only'
      |       ELSE 'line_only' END AS side,
      |  coalesce(l.n_items, 0) AS n_items
      |FROM (SELECT o_orderkey FROM orders) o
      |FULL OUTER JOIN (SELECT l_orderkey, count(*) AS n_items
      |                 FROM lineitem GROUP BY l_orderkey) l
      |ON o.o_orderkey = l.l_orderkey
      |ORDER BY okey""".stripMargin

  /** q39 — as-of join (point-in-time): each click matched to the user's
    * latest view at or before it. Composed via union+window (one shuffle,
    * one sort — see graft.ops.AsOf); the oracle spells the same semantics
    * as a correlated top-1 subquery.
    */
  val q39_asof_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "event_id", "ts")
    graft.ops.AsOf.asofJoin(clicks, views, "user_id", "ts", "event_id", "event_id")
  }

  val q39Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
      |SELECT c.user_id, c.event_id, c.ts,
      |  (SELECT v.event_id FROM views v
      |   WHERE v.user_id = c.user_id AND v.ts <= c.ts
      |   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS matched_id,
      |  (SELECT v.ts FROM views v
      |   WHERE v.user_id = c.user_id AND v.ts <= c.ts
      |   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS matched_ts
      |FROM clicks c ORDER BY c.event_id""".stripMargin

  /** q40 — exact percentiles (median / p90) per group: Spark's exact
    * `percentile` and DuckDB's quantile_cont share the linear-interpolation
    * definition, so results are comparable bit-for-bit on sorted doubles.
    */
  val q40_percentiles: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("med"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n"))

  val q40Sql: String =
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS med,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q41 — set operations (INTERSECT / EXCEPT): customers both with orders
    * in 1996 and 1999 (intersect) and with 1996 orders but none in 1999
    * (except). Spark plans these as left-semi/left-anti aggregates — the
    * same machinery as the ledger idiom, surfaced through SQL set algebra.
    */
  val q41_set_ops: Q = (s, d) => {
    val o = Tables.orders(s, d)
    def buyers(year: Int) = o.filter(expr(s"year(o_orderdate) = $year"))
      .select(col("o_custkey").as("custkey")).distinct()
    val both = buyers(1996).intersect(buyers(1999))
      .withColumn("membership", lit("both"))
    val only96 = buyers(1996).except(buyers(1999))
      .withColumn("membership", lit("only_1996"))
    both.unionByName(only96)
  }

  val q41Sql: String =
    """WITH b96 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
      |             WHERE year(o_orderdate) = 1996),
      |b99 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
      |        WHERE year(o_orderdate) = 1999)
      |SELECT custkey, 'both' AS membership FROM (SELECT custkey FROM b96 INTERSECT SELECT custkey FROM b99) t1
      |UNION ALL
      |SELECT custkey, 'only_1996' AS membership FROM (SELECT custkey FROM b96 EXCEPT SELECT custkey FROM b99) t2
      |ORDER BY membership, custkey""".stripMargin

  /** q42 — top-k per group as a TYPED IMPERATIVE AGGREGATE
    * (graft.functions.TopKByScore): the map side keeps a k-bounded counted
    * buffer per group, so the shuffle moves ≤ k·partitions rows per group
    * instead of every input row (what the q11 window form must do).
    * Semantics — (score DESC, id ASC), duplicate rows preserved — are
    * pinned to the window oracle.
    */
  val q42_topk_aggregate: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"))
      .groupBy("l_suppkey")
      .agg(graft.functions.TopKAggregate
        .topKByScore(col("l_extendedprice"), col("line_id"), 3).as("top"))
      .select(col("l_suppkey"), posexplode(col("top")))
      .select(col("l_suppkey"), (col("pos") + 1).cast("int").as("rk"),
        col("col.score").as("price"), col("col.id").as("line_id"))

  val q42Sql: String =
    """SELECT l_suppkey, rk, price, line_id FROM (
      |  SELECT l_suppkey, l_extendedprice AS price,
      |    l_orderkey * 10 + l_linenumber AS line_id,
      |    CAST(row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber ASC)
      |      AS INTEGER) AS rk
      |  FROM lineitem) t
      |WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin

  /** q43 — window FRAMES: per-customer running order total (rows unbounded
    * preceding) and a trailing 3-order moving average; decimal-exact
    * running sums so frame accumulation order cannot flap the hash.
    */
  val q43_moving_agg: Q = (s, d) => {
    val byCust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("p"))
      .withColumn("running_total",
        sum(col("p")).over(byCust.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .withColumn("trailing3_avg",
        (sum(col("p")).over(byCust.rowsBetween(-2, 0)).cast("double") /
          count(lit(1)).over(byCust.rowsBetween(-2, 0))).as("trailing3_avg"))
      .select("o_custkey", "o_orderkey", "running_total", "trailing3_avg")
  }

  val q43Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w_run AS DOUBLE) AS running_total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w_3 AS DOUBLE)
      |    / COUNT(*) OVER w_3 AS trailing3_avg
      |FROM orders
      |WINDOW
      |  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w_3   AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q44 — ordered array aggregation: deterministic list building
    * (sort_array ∘ collect_list = DuckDB list(... ORDER BY)) plus array
    * transforms over the result.
    */
  val q44_array_agg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 1000)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"),
        sort_array(collect_set(col("l_returnflag"))).as("flags"))
      .select(col("l_orderkey"),
        // string-join the arrays: scalar output hashes/sorts cleanly in any
        // compare harness while still pinning element order + content
        array_join(col("lines"), ",").as("lines"),
        array_join(col("flags"), ",").as("flags"),
        size(col("lines")).as("n_lines"),
        element_at(col("lines"), 1).as("first_line"),
        array_contains(col("flags"), "R").as("has_return"))

  val q44Sql: String =
    """SELECT l_orderkey,
      |  array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS lines,
      |  array_to_string(list(DISTINCT l_returnflag ORDER BY l_returnflag), ',') AS flags,
      |  CAST(len(list(l_linenumber ORDER BY l_linenumber)) AS INTEGER) AS n_lines,
      |  list(l_linenumber ORDER BY l_linenumber)[1] AS first_line,
      |  list_contains(list(DISTINCT l_returnflag ORDER BY l_returnflag), 'R') AS has_return
      |FROM lineitem WHERE l_orderkey <= 1000
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q43_moving_agg" -> q43_moving_agg,
    "q44_array_agg" -> q44_array_agg,
    "q42_topk_aggregate" -> q42_topk_aggregate,
    "q41_set_ops" -> q41_set_ops,
    "q39_asof_join" -> q39_asof_join,
    "q40_percentiles" -> q40_percentiles,
    "q33_min_cost_supplier" -> q33_min_cost_supplier,
    "q34_promo_share" -> q34_promo_share,
    "q35_top_customers" -> q35_top_customers,
    "q36_rollup" -> q36_rollup,
    "q37_pivot" -> q37_pivot,
    "q38_outer_semi" -> q38_outer_semi)

  val oracleSql: Map[String, String] = Map(
    "q39_asof_join" -> q39Sql,
    "q40_percentiles" -> q40Sql,
    "q41_set_ops" -> q41Sql,
    "q42_topk_aggregate" -> q42Sql,
    "q43_moving_agg" -> q43Sql,
    "q44_array_agg" -> q44Sql,
    "q33_min_cost_supplier" -> q33Sql,
    "q34_promo_share" -> q34Sql,
    "q35_top_customers" -> q35Sql,
    "q36_rollup" -> q36Sql,
    "q37_pivot" -> q37Sql,
    "q38_outer_semi" -> q38Sql)
}
