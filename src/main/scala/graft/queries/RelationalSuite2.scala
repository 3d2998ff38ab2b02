package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import org.apache.spark.sql.functions._

/**
 * Extended relational surface (SURVEY §2 C-series, round-1 widening):
 * TPC-H q7/q8/q9/q10/q14/q18 shapes adapted to the synthetic schema,
 * grouping sets / cube, HAVING + IN subqueries, and date/string/math
 * expression coverage. Money math stays in exact DECIMAL.
 */
object RelationalSuite2 {
  // LONG integer cents (see RelationalSuite: 2.0x vs DECIMAL sums,
  // identical values — every SUM partial stays a codegen long)
  private val extC = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
  private val discC = "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))"
  private val discPriceC = s"$extC * $discC"  // scale 1e4

  val gated: Seq[Gated] = Seq(
    // q7 shape: trade volume between two nations by year.
    Gated("q7_nation_volume", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val ord = Tables(s, dir, "orders")
      val cust = Tables(s, dir, "customer")
      val supp = Tables(s, dir, "supplier")
      val nat = Tables(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cnk"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .filter((col("cust_nation") === "NATION_1" && col("supp_nation") === "NATION_2")
          || (col("cust_nation") === "NATION_2" && col("supp_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n"))
        .transform(Gate.ordered(_, "supp_nation", "cust_nation", "l_year"))
    },
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year,
         |  CAST(sum($discPriceC) AS DOUBLE) / 10000 AS revenue, count(*) AS n
         |FROM lineitem, orders, customer, supplier,
         |     nation cn, nation sn
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND l_suppkey = s_suppkey
         |  AND c_nationkey = cn.n_nationkey AND s_nationkey = sn.n_nationkey
         |  AND ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
         |    OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // q8 shape: brand market share inside a region by order year.
    Gated("q8_market_share", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val ord = Tables(s, dir, "orders")
      val part = Tables(s, dir, "part")
      val cust = Tables(s, dir, "customer")
      val nat = Tables(s, dir, "nation")
      val reg = Tables(s, dir, "region").filter(col("r_name") === "EUROPE")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(expr(
          s"CAST(sum(CASE WHEN p_brand = 'Brand#1' THEN $discPriceC ELSE CAST(0 AS BIGINT) END) AS DOUBLE)" +
            s" / CAST(sum($discPriceC) AS DOUBLE)").as("share"),
          count(lit(1)).as("n"))
        .select(col("o_year"), round(col("share"), 6).as("share"), col("n"))
        .transform(Gate.ordered(_, "o_year"))
    },
      Some(s"""SELECT year(o_orderdate) AS o_year,
         |  round(CAST(sum(CASE WHEN p_brand = 'Brand#1' THEN $discPriceC ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
         |    / CAST(sum($discPriceC) AS DOUBLE), 6) AS share,
         |  count(*) AS n
         |FROM lineitem, orders, part, customer, nation, region
         |WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
         |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
         |  AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q9 shape: pseudo-profit (revenue minus retail-price cost) by
    // supplier nation and year.
    Gated("q9_profit", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val ord = Tables(s, dir, "orders")
      val part = Tables(s, dir, "part")
      val supp = Tables(s, dir, "supplier")
      val nat = Tables(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(part.filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(expr(
          s"CAST(sum($discPriceC - CAST(round(p_retailprice * 100, 0) AS BIGINT) * CAST(l_quantity AS BIGINT) * 100) AS DOUBLE) / 10000")
          .as("profit"))
        .transform(Gate.ordered(_, "n_name", "o_year"))
    },
      Some(s"""SELECT n_name, year(o_orderdate) AS o_year,
         |  CAST(sum($discPriceC - CAST(round(p_retailprice * 100, 0) AS BIGINT) * CAST(l_quantity AS BIGINT) * 100) AS DOUBLE) / 10000 AS profit
         |FROM lineitem, orders, part, supplier, nation
         |WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
         |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |  AND p_type = 'PROMO'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q10 shape: top customers by returned revenue.
    Gated("q10_returned", (s, dir) => {
      val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1997-07-01")
      val cust = Tables(s, dir, "customer")
      val nat = Tables(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      Some(s"""SELECT c_custkey, c_name, n_name,
         |  CAST(sum($discPriceC) AS DOUBLE) / 10000 AS revenue
         |FROM lineitem, orders, customer, nation
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // q14 shape: promo revenue percentage in a shipping window.
    Gated("q14_promo", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-03-01" && col("l_shipdate") < "1997-04-01")
      val part = Tables(s, dir, "part")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(expr(
          s"round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPriceC ELSE CAST(0 AS BIGINT) END) AS DOUBLE)" +
            s" / CAST(sum($discPriceC) AS DOUBLE), 6)").as("promo_pct"),
          count(lit(1)).as("n"))
    },
      Some(s"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPriceC ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
         |  / CAST(sum($discPriceC) AS DOUBLE), 6) AS promo_pct, count(*) AS n
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey
         |  AND l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin)),

    // q13 shape: customer order-count distribution via outer join +
    // double aggregation.
    Gated("q13_custdist", (s, dir) => {
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
        .filter(!col("o_orderpriority").startsWith("1-"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .transform(Gate.orderedCols(_, col("custdist").desc, col("c_count").desc))
    },
      Some("""SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority NOT LIKE '1-%'
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // q17 shape: revenue from small-quantity orders of selected parts —
    // a join against a correlated per-part average threshold.
    Gated("q17_small_qty", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val pa = Tables(s, dir, "part")
        .filter(col("p_type") === "PROMO" && col("p_size") < 15)
        .select(col("p_partkey"))
      val thresh = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
      li.join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .join(thresh, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg(expr(s"round(CAST(sum($extC) AS DOUBLE) / 100 / 7.0, 6)").as("avg_yearly"),
          count(lit(1)).as("n"))
    },
      Some(s"""SELECT round(CAST(sum($extC) AS DOUBLE) / 100 / 7.0, 6) AS avg_yearly,
         |  count(*) AS n
         |FROM lineitem l, part p,
         |  (SELECT l_partkey AS t_partkey, avg(l_quantity) * 0.2 AS qty_thresh
         |   FROM lineitem GROUP BY l_partkey) t
         |WHERE l.l_partkey = p.p_partkey AND p.p_type = 'PROMO' AND p.p_size < 15
         |  AND l.l_partkey = t.t_partkey AND l.l_quantity < t.qty_thresh""".stripMargin)),

    // q22 shape: well-funded customers with no RECENT orders, grouped
    // by nation (no phone column in this schema → nationkey plays the
    // country code), against a global positive-balance average.
    Gated("q22_idle_rich", (s, dir) => {
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= "2000-06-01")
      // exact decimal sum / count, divided once → deterministic double
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)")
          / count(lit(1))).as("ab"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("totacctbal"))
        .transform(Gate.orderedCols(_, col("c_nationkey")))
    },
      Some("""WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |              / count(*) AS ab FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // q12 shape: conditional aggregation by priority class over a
    // receipt window.
    Gated("q12_priority", (s, dir) => {
      val ord = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority").startsWith("1-")
            || col("o_orderpriority").startsWith("2-"), 1L).otherwise(0L))
            .cast("long").as("high_line_count"),
          sum(when(!(col("o_orderpriority").startsWith("1-")
            || col("o_orderpriority").startsWith("2-")), 1L).otherwise(0L))
            .cast("long").as("low_line_count"))
        .transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // LATERAL correlated subquery (SQL-only surface): top-2 orders per
    // rich customer, per-group via LATERAL ... LIMIT.
    Gated("lateral_topn", (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer_lv")
      Tables(s, dir, "orders").createOrReplaceTempView("orders_lv")
      s.sql(
        """SELECT c_custkey, o_orderkey, o_totalprice
          |FROM customer_lv c JOIN LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders_lv o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
          |WHERE c_acctbal > 9900
          |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    },
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_acctbal > 9900
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)),

    // q18 shape: large orders via HAVING + semi join back to orders.
    Gated("q18_big_orders", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("tot_qty"))
        .filter(col("tot_qty") > 150)
      val ord = Tables(s, dir, "orders")
      val cust = Tables(s, dir, "customer")
      ord.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("tot_qty"))
        .orderBy(col("tot_qty").desc, col("o_orderkey"))
        .limit(50)
    },
      Some("""SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, tot_qty
        |FROM orders, customer,
        |  (SELECT l_orderkey, sum(l_quantity) AS tot_qty FROM lineitem
        |   GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
        |WHERE o_orderkey = big.l_orderkey AND o_custkey = c_custkey
        |ORDER BY tot_qty DESC, o_orderkey LIMIT 50""".stripMargin)),

    // explicit GROUPING SETS (via SQL — the DataFrame API exposes only
    // rollup/cube) + grouping() markers.
    Gated("grouping_sets", (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |       coalesce(l_linestatus, 'ALL') AS ls,
          |       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
          |       sum(l_quantity) AS sum_qty, count(*) AS n
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          |ORDER BY rf, ls, g_rf, g_ls""".stripMargin)
    },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
        |       sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY rf, ls, g_rf, g_ls""".stripMargin)),

    // full cube.
    Gated("cube_agg", (s, dir) =>
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          expr(s"CAST(sum($extC) AS DOUBLE) / 100").as("sum_price"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("sum_price"), col("n"))
        .transform(Gate.ordered(_, "rf", "ls")),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum($extC) AS DOUBLE) / 100 AS sum_price, count(*) AS n
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin)),

    // IN (subquery) + HAVING.
    Gated("having_in", (s, dir) => {
      val ord = Tables(s, dir, "orders")
      val richCust = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
      ord.join(richCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("tot"))
        .filter(col("n") > 50)
        .transform(Gate.ordered(_, "o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY 1 HAVING count(*) > 50 ORDER BY 1""".stripMargin)),

    // full outer join with null-side handling.
    Gated("full_outer", (s, dir) => {
      val big = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
      val rich = Tables(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_acctbal"))
      rich.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("n_big"), lit(0)).as("n_big"),
          coalesce(col("c_acctbal"), lit(-1.0)).as("bal"))
        .transform(Gate.ordered(_, "custkey"))
    },
      Some("""WITH big AS (SELECT o_custkey, count(*) AS n_big FROM orders
        |             WHERE o_totalprice > 400000 GROUP BY o_custkey),
        |rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  coalesce(n_big, 0) AS n_big,
        |  coalesce(c_acctbal, -1.0) AS bal
        |FROM rich FULL OUTER JOIN big ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin)),

    // bag-semantics set ops (INTERSECT ALL / EXCEPT ALL).
    Gated("set_ops_all", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val a = li.filter(col("l_quantity") >= 30).select(col("l_suppkey"))
      val b = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
      a.intersectAll(b).groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_inter"))
        .join(
          a.exceptAll(b).groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_except")),
          Seq("l_suppkey"), "full_outer")
        .select(col("l_suppkey"),
          coalesce(col("n_inter"), lit(0)).as("n_inter"),
          coalesce(col("n_except"), lit(0)).as("n_except"))
        .transform(Gate.ordered(_, "l_suppkey"))
    },
      Some("""WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 30),
        |b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
        |i AS (SELECT l_suppkey, count(*) AS n_inter
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
        |e AS (SELECT l_suppkey, count(*) AS n_except
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT coalesce(i.l_suppkey, e.l_suppkey) AS l_suppkey,
        |  coalesce(n_inter, 0) AS n_inter, coalesce(n_except, 0) AS n_except
        |FROM i FULL OUTER JOIN e ON i.l_suppkey = e.l_suppkey
        |ORDER BY l_suppkey""".stripMargin)),

    // PostgreSQL DISTINCT ON (r8): each customer's single highest-value
    // order (orderkey tiebreak). Spark has no DISTINCT ON form — the
    // idiomatic re-expression is a row_number window; the oracle uses
    // DuckDB's NATIVE DISTINCT ON, pinning the semantics equivalence.
    Gated("distinct_on", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .transform(Gate.ordered(_, "o_custkey"))
    },
      // DuckDB's native DISTINCT ON pins the row_number re-expression
      Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)),

    // PostgreSQL string_agg with ORDER BY (r8): deterministic ordered
    // concatenation — collect_list carries no order guarantee, so the
    // Spark form sorts the collected array before joining (numeric sort,
    // then cast), which is exactly string_agg(... ORDER BY k).
    Gated("string_agg", (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_totalprice") > 495000)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          array_join(transform(array_sort(collect_list(col("o_orderkey"))),
            k => k.cast("string")), ",").as("keys"))
        .transform(Gate.ordered(_, "o_orderpriority")),
      Some("""SELECT o_orderpriority, count(*) AS n,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys
        |FROM orders WHERE o_totalprice > 495000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // correlated scalar subquery (per-row lookup aggregate).
    Gated("subquery_correlated", (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("cust_corr")
      Tables(s, dir, "orders").createOrReplaceTempView("ord_corr")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM ord_corr
          |   WHERE o_custkey = c_custkey) AS max_order,
          |  (SELECT count(*) FROM ord_corr WHERE o_custkey = c_custkey
          |   AND o_orderstatus = 'F') AS n_finished
          |FROM cust_corr ORDER BY c_custkey""".stripMargin)
    },
      Some("""SELECT c_custkey,
        |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey
        |   AND o_orderstatus = 'F') AS n_finished
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // custom physical operator: per-key top-k via bounded heaps
    // (TopKPerKeyExec — one exchange, no sort; SURVEY §3 tier (c)).
    Gated("topk_perkey", (s, dir) => {
      val df = Tables(s, dir, "orders")
        .withColumn("ordv", col("o_totalprice") * 1e6 - col("o_orderkey"))
      graft.plans.TopKPerKey.perKey(df, Seq("o_custkey"), "ordv", 3, desc = true)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .transform(Gate.ordered(_, "o_custkey", "o_orderkey"))
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice * 1000000 - o_orderkey DESC) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // full-SQL entry: the whole pipeline as one spark.sql text (CTE,
    // join, agg, window) over registered views — the way a reference
    // user would port their SQL verbatim.
    Gated("sql_tpch", (s, dir) => {
      Seq("lineitem", "orders", "customer").foreach { t =>
        Tables(s, dir, t).createOrReplaceTempView(s"${t}_v")
      }
      s.sql(
        """WITH rev AS (
          |  SELECT o_custkey,
          |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
          |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
          |    count(*) AS n_items
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey
          |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
          |  GROUP BY o_custkey)
          |SELECT c_custkey, c_mktsegment, revenue, n_items,
          |  rank() OVER (PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey) AS seg_rank
          |FROM rev JOIN customer_v ON o_custkey = c_custkey
          |WHERE revenue > 500000
          |ORDER BY c_mktsegment, seg_rank""".stripMargin)
    },
      Some("""WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
        |    count(*) AS n_items
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_mktsegment, revenue, n_items,
        |  rank() OVER (PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey) AS seg_rank
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |WHERE revenue > 500000
        |ORDER BY c_mktsegment, seg_rank""".stripMargin)),

    // date-function coverage (ISO-aligned across engines).
    Gated("date_suite", (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          quarter(col("o_orderdate")).as("qtr"),
          ((dayofweek(col("o_orderdate")) + 5) % 7 + 1).as("isodow"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy("o_orderkey").limit(1000),
      Some("""SELECT o_orderkey,
        |  quarter(o_orderdate) AS qtr,
        |  isodow(o_orderdate) AS isodow,
        |  weekofyear(o_orderdate) AS iso_week,
        |  date_trunc('month', o_orderdate)::TIMESTAMP AS month_start,
        |  last_day(o_orderdate)::DATE AS month_end,
        |  datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS days_since,
        |  epoch(o_orderdate)::BIGINT AS epoch_s
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // string-function coverage.
    Gated("string_suite", (s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          lpad(col("c_name"), 25, "*").as("padded"),
          translate(col("c_name"), "Ce", "XY").as("translated"),
          reverse(col("c_name")).as("rev"),
          instr(col("c_name"), "_").as("uspos"),
          element_at(split(col("c_name"), "_"), -1).as("suffix"),
          repeat(col("c_mktsegment"), 2).as("doubled"),
          regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"))
        .orderBy("c_custkey").limit(500),
      Some("""SELECT c_custkey,
        |  lpad(c_name, 25, '*') AS padded,
        |  translate(c_name, 'Ce', 'XY') AS translated,
        |  reverse(c_name) AS rev,
        |  strpos(c_name, '_') AS uspos,
        |  string_split(c_name, '_')[-1] AS suffix,
        |  repeat(c_mktsegment, 2) AS doubled,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked
        |FROM customer ORDER BY c_custkey LIMIT 500""".stripMargin)),

    // math-function coverage (round-6 double parity).
    Gated("math_suite", (s, dir) =>
      Tables(s, dir, "supplier")
        .select(col("s_suppkey"),
          round(sqrt(abs(col("s_acctbal"))), 6).as("sqrt_bal"),
          round(pow(col("s_acctbal") / 1000d, 2), 6).as("pw"),
          round(log(greatest(abs(col("s_acctbal")), lit(1.0))), 6).as("ln_bal"),
          round(exp(col("s_acctbal") / 10000d), 6).as("exp_bal"),
          signum(col("s_acctbal")).cast("int").as("sgn"),
          pmod(col("s_suppkey"), lit(7)).as("m7"),
          ceil(col("s_acctbal")).as("ceil_bal"),
          floor(col("s_acctbal")).as("floor_bal"))
        .transform(Gate.ordered(_, "s_suppkey")),
      Some("""SELECT s_suppkey,
        |  round(sqrt(abs(s_acctbal)), 6) AS sqrt_bal,
        |  round(pow(s_acctbal / 1000, 2), 6) AS pw,
        |  round(ln(greatest(abs(s_acctbal), 1.0)), 6) AS ln_bal,
        |  round(exp(s_acctbal / 10000), 6) AS exp_bal,
        |  sign(s_acctbal)::INT AS sgn,
        |  s_suppkey % 7 AS m7,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(floor(s_acctbal) AS BIGINT) AS floor_bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // q19 shape: disjunctive multi-predicate join (OR of conjunction
    // groups across both join sides) — exercises predicate pushdown
    // splitting and join planning under non-conjunctive conditions.
    Gated("q19_disjunct", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val part = Tables(s, dir, "part")
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35)
          && col("l_quantity").between(20, 30))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n"))
    },
      Some(s"""SELECT CAST(sum($discPriceC) AS DOUBLE) / 10000 AS revenue, count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // q15 shape: aggregate view + max-of-aggregate scalar + join back
    // (the revenue-view pattern). Revenue stays exact DECIMAL until the
    // final cast, so the max-equality join is bit-safe cross-engine.
    Gated("q15_top_supplier", (s, dir) => {
      val rev = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        .groupBy(col("l_suppkey"))
        .agg(expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("mr"))
      rev.join(broadcast(maxRev), col("total_revenue") === col("mr"))
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_revenue"), 2).as("total_revenue"))
        .transform(Gate.ordered(_, "s_suppkey"))
    },
      Some(s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(sum($discPriceC) AS DOUBLE) / 10000 AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin)),

    // q21 shape: suppliers who were the SOLE late supplier on a
    // multi-supplier finalized order (late = shipped > 90 days after
    // the order date; this corpus has no commit/receipt dates). Spark
    // formulates the two correlated EXISTS / NOT EXISTS as one
    // per-order stats aggregate — same semantics, one shuffle instead
    // of two correlated joins; the oracle keeps the classic
    // EXISTS/NOT-EXISTS form, proving the rewrite equivalent.
    Gated("q21_late_solo", (s, dir) => {
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables(s, dir, "orders")
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      val stats = l.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
      l.filter(col("late"))
        .join(stats, col("l_orderkey") === col("ok"))
        .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
        .select(col("l_suppkey"), col("l_orderkey")).distinct()
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
        .limit(20)
    },
      // classic correlated EXISTS / NOT-EXISTS formulation — proves the
      // Spark per-order-stats rewrite equivalent
      Some("""WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT l1.l_suppkey, count(DISTINCT l1.l_orderkey) AS numwait
        |FROM l l1
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
        |              AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey
        |                  AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY l1.l_suppkey
        |ORDER BY numwait DESC, l_suppkey LIMIT 20""".stripMargin)),

    // Deterministic train/val/test split — the reproducible sampling
    // operator of a training-data pipeline: a multiplicative hash of
    // the id (not RNG) buckets every doc 80/10/10, so the split is
    // stable across runs, engines, and cluster layouts. (Production
    // splits use xxhash64 the same way; this query uses an arithmetic
    // mixer so the SQL oracle reproduces it exactly.)
    Gated("data_split", (s, dir) => {
      val bucket = pmod(col("doc_id") * 48271 + 11, lit(100))
      Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"),
          sum(col("doc_id")).as("id_sum"))
        .transform(Gate.ordered(_, "split"))
    },
      Some("""SELECT CASE WHEN (doc_id * 48271 + 11) % 100 < 80 THEN 'train'
        |            WHEN (doc_id * 48271 + 11) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
