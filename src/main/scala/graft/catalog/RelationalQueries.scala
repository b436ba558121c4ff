package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Relational core: TPC-H-shaped scans, joins and aggregates, the bench headliners. */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q1_agg", 1.002, (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(expr("l_shipdate < TIMESTAMP_NTZ '1998-09-03 00:00:00'"))
        .withColumn("qty_c", expr("cast(round(l_quantity * 100) as bigint)"))
        .withColumn("price_c", expr("cast(round(l_extendedprice * 100) as bigint)"))
        .withColumn("disc_c", expr("cast(round(l_discount * 100) as bigint)"))
        .withColumn("tax_c", expr("cast(round(l_tax * 100) as bigint)"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          sum(col("qty_c")).as("sum_qty_c"),
          sum(col("price_c")).as("sum_base_c"),
          sum(col("price_c") * (lit(100L) - col("disc_c"))).as("sum_disc_c4"),
          sum(col("price_c") * (lit(100L) - col("disc_c")) * (lit(100L) + col("tax_c"))).as("sum_charge_c6"))
        .withColumn("avg_qty_c", expr("sum_qty_c div count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """WITH c AS (SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_c,
        |  CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c,
        |  CAST(ROUND(l_discount*100) AS BIGINT) AS disc_c,
        |  CAST(ROUND(l_tax*100) AS BIGINT) AS tax_c
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-03 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_base_c,
        |  CAST(SUM(price_c*(100-disc_c)) AS BIGINT) AS sum_disc_c4,
        |  CAST(SUM(price_c*(100-disc_c)*(100+tax_c)) AS BIGINT) AS sum_charge_c6,
        |  CAST(SUM(qty_c) // COUNT(*) AS BIGINT) AS avg_qty_c
        |FROM c GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    Query("q3_top_orders", 1.238, (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("price_c", expr("cast(round(l_extendedprice * 100) as bigint)"))
        .withColumn("disc_c", expr("cast(round(l_discount * 100) as bigint)"))
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("price_c") * (lit(100L) - col("disc_c"))).as("revenue_c4"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_c4").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderkey ORDER BY revenue_c4 DESC, o_orderkey LIMIT 10""".stripMargin),
    Query("q5_revenue_nation", 1.949, (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("price_c", expr("cast(round(l_extendedprice * 100) as bigint)"))
        .withColumn("disc_c", expr("cast(round(l_discount * 100) as bigint)"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_regionkey") < 3)
        .groupBy(col("n_name"))
        .agg(sum(col("price_c") * (lit(100L) - col("disc_c"))).as("revenue_c4"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)*(100-CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_regionkey < 3
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("q6_running_window", 2.28, (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .withColumn("qty_c", expr("cast(round(l_quantity * 100) as bigint)"))
        .withColumn("rn", row_number().over(w))
        .withColumn("running_qty_c",
          sum(col("qty_c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("rn") <= 20)
        .select(col("l_suppkey"), col("rn"), col("qty_c"), col("running_qty_c"))
        .orderBy(col("l_suppkey"), col("rn"))
    },
      """WITH w AS (SELECT l_suppkey, CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_c,
        |    CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS INT) AS rn,
        |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_qty_c
        |  FROM lineitem)
        |SELECT l_suppkey, rn, qty_c, running_qty_c FROM w WHERE rn <= 20
        |ORDER BY l_suppkey, rn""".stripMargin),
    Query("q7_distinct_agg", 1.353, (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q8_rollup", 1.09, (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("qty_c", expr("cast(round(l_quantity * 100) as bigint)"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("sum_qty_c"), col("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |  coalesce(l_linestatus, '(all)') AS l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin),
    Query("q10_above_avg", 1.123, (s, dir) => {
      // decorrelated form of: orders above their customer's average price
      val o = Tables.orders(s, dir)
        .withColumn("price_c", expr("cast(round(o_totalprice * 100) as bigint)"))
      val avg = o.groupBy(col("o_custkey"))
        .agg(expr("cast(sum(price_c) div count(1) as bigint)").as("avg_c"))
      o.join(avg, "o_custkey")
        .filter(col("price_c") > col("avg_c"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_above"))
        .orderBy(col("o_custkey"))
    },
      """SELECT o.o_custkey, COUNT(*) AS n_above FROM orders o
        |WHERE CAST(ROUND(o.o_totalprice*100) AS BIGINT) >
        |  (SELECT CAST(SUM(CAST(ROUND(o2.o_totalprice*100) AS BIGINT)) // COUNT(*) AS BIGINT)
        |   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q11_pivot", 0.677, (s, dir) =>
      // pivot = groupBy + explicit value list (never value-discovery, which
      // costs an extra distinct job and nondeterministic column order):
      // order counts and cents revenue per priority × status
      Tables.orders(s, dir)
        .withColumn("price_c", expr("cast(round(o_totalprice * 100) as bigint)"))
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("rev_c"))
        .select(col("o_orderpriority"),
          coalesce(col("F_n"), lit(0L)).as("f_n"), coalesce(col("F_rev_c"), lit(0L)).as("f_rev_c"),
          coalesce(col("O_n"), lit(0L)).as("o_n"), coalesce(col("O_rev_c"), lit(0L)).as("o_rev_c"),
          coalesce(col("P_n"), lit(0L)).as("p_n"), coalesce(col("P_rev_c"), lit(0L)).as("p_rev_c"))
        .orderBy(col("o_orderpriority")),
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS f_n,
        |  coalesce(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) FILTER (o_orderstatus = 'F') AS BIGINT), 0) AS f_rev_c,
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS o_n,
        |  coalesce(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) FILTER (o_orderstatus = 'O') AS BIGINT), 0) AS o_rev_c,
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS p_n,
        |  coalesce(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) FILTER (o_orderstatus = 'P') AS BIGINT), 0) AS p_rev_c
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q15_grouping_sets", 0.994, (s, dir) =>
      // ARBITRARY grouping sets — the general form rollup/cube are
      // special cases of: {(returnflag), (linestatus), ()} in ONE Expand
      // pass, where a union of three aggregates would scan three times
      Tables.lineitem(s, dir)
        .withColumn("qty_c", expr("cast(round(l_quantity * 100) as bigint)"))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty[Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("gid"), col("sum_qty_c"), col("n"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |  coalesce(l_linestatus, '(all)') AS l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, 1, 2""".stripMargin),
    Query("q12_cube", 1.241, (s, dir) =>
      // full cube over (returnflag, linestatus) with the grouping-set id
      // exposed — all four grouping sets in ONE pass (Expand, not a union
      // of four aggregates)
      Tables.lineitem(s, dir)
        .withColumn("qty_c", expr("cast(round(l_quantity * 100) as bigint)"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("gid"), col("sum_qty_c"), col("n"))
        // gid in the sort key: the '(all)' sentinel makes a genuine NULL data
        // value collide with subtotal rows, so (flag, status) alone would
        // leave their relative order engine-dependent on nullable inputs
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("gid")),
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |  coalesce(l_linestatus, '(all)') AS l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2, gid""".stripMargin),
    Query("topk_per_key", 1.192, (s, dir) => {
      // grouped top-k via the bounded-heap typed aggregator: the exchange
      // carries ≤ keys×k rows per input partition (map-side partials),
      // nothing is fully sorted — vs the window form that shuffles and
      // sorts every row
      val o = Tables.orders(s, dir)
        .withColumn("price_c", expr("cast(round(o_totalprice * 100) as bigint)"))
      graft.ops.TopK.topKPerKey(o, "o_custkey", "o_orderkey", "price_c", k = 3)
        .orderBy(col("o_custkey"), col("rank"))
    },
      """WITH r AS (SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |    CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, price_c, CAST(rk AS INT) AS rank
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rank""".stripMargin),
    Query("q13_full_outer", 0.595, (s, dir) => {
      // full outer join: per-nation supplier vs customer counts, keeping
      // nations present on either side only (sentinel-coalesced keys)
      val sup = Tables.supplier(s, dir).filter(col("s_acctbal") > 5000)
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_sup"))
      val cust = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
        .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
      sup.join(cust, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_sup"), lit(0L)).as("n_sup"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy(col("nationkey"))
    },
      """WITH s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_sup
        |           FROM supplier WHERE s_acctbal > 5000 GROUP BY 1),
        |c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |      FROM customer WHERE c_acctbal > 5000 GROUP BY 1)
        |SELECT nationkey, coalesce(n_sup, 0) AS n_sup, coalesce(n_cust, 0) AS n_cust
        |FROM s FULL JOIN c USING (nationkey)
        |ORDER BY nationkey""".stripMargin),
    Query("q14_window_suite", 0.541, (s, dir) => {
      // the window-function breadth pack in ONE pass over one shuffle:
      // ranking (rank/dense_rank/ntile), offset (lag/lead), and frame
      // (first/last value) functions share a single window partition
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") % 50 === 0)
        .withColumn("price_c", expr("cast(round(o_totalprice * 100) as bigint)"))
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1L)).as("prev_order"),
          coalesce(lead(col("o_orderkey"), 1).over(w), lit(-1L)).as("next_order"),
          first(col("price_c")).over(w).as("first_price_c"),
          sum(col("price_c")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_price_c"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_order,
        |  coalesce(lead(o_orderkey, 1) OVER w, -1) AS next_order,
        |  CAST(first_value(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER w AS BIGINT) AS first_price_c,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_price_c
        |FROM orders WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q9_setops", 0.68, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val longDocs = docs.filter(length(col("text")) >= 200).select("doc_id")
      val seen = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      longDocs.except(seen).withColumn("op", lit("except"))
        .unionByName(longDocs.intersect(seen).withColumn("op", lit("intersect")))
        .orderBy(col("op"), col("doc_id"))
    },
      """WITH ld AS (SELECT doc_id FROM documents WHERE length(text) >= 200),
        |sn AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, 'except' AS op FROM (SELECT doc_id FROM ld EXCEPT SELECT doc_id FROM sn)
        |UNION ALL
        |SELECT doc_id, 'intersect' AS op FROM (SELECT doc_id FROM ld INTERSECT SELECT doc_id FROM sn)
        |ORDER BY op, doc_id""".stripMargin),
    Query("q4_order_priority", 0.633, (s, dir) => {
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") > 45).select("l_orderkey")
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
