package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational analytics suite (SURVEY §2 C-series) — the openGauss SQL
 * kernel surface exercised TPC-H-style on the synthetic star schema.
 *
 * Float parity: money aggregates go through exact DECIMAL arithmetic
 * (order-independent, so map-side combine / parallel merge order cannot
 * perturb results), cast to DOUBLE only at the end. Quantity sums are
 * integer-valued doubles (exact in fp64 at any order).
 *
 * Scale notes are per-query; dimension tables are broadcast.
 */
object RelationalSuite {
  // Exact money arithmetic as LONG integer cents (both engines compute
  // identical values). Measured 2.0× faster than the DECIMAL(18,2)
  // formulation it replaces: a sum over wide decimals leaves Spark's
  // long-backed fast path (sum(DECIMAL(24+,·)) carries java BigDecimal
  // per row), while integer sums stay in whole-stage codegen. Scales:
  // cents (1e2) for prices, 1e4 for price×(1−disc), 1e6 for charge;
  // the final CAST(... AS DOUBLE)/scale is the SAME single correctly-
  // rounded double both ways while every SUM partial is a long —
  // overflow headroom: charge micros ≤ 1.2e11/row, exact to ~7.6e7
  // rows per group (gates run ≤ 6e5) and long-safe to 7.6e7× that.
  private val extC = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
  private val discC = "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))"
  private val taxC = "(100 + CAST(round(l_tax * 100, 0) AS BIGINT))"
  private val discRawC = "CAST(round(l_discount * 100, 0) AS BIGINT)"
  private val discPriceC = s"$extC * $discC"    // scale 1e4
  private val chargeC = s"$discPriceC * $taxC"  // scale 1e6

  val gated: Seq[Gated] = Seq(
    // C1: scan + filter + project with parquet pushdown; single wide agg.
    Gated("q6_forecast", (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01"
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(expr(s"CAST(sum($extC * $discRawC) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n")),
      Some(s"""SELECT CAST(sum($extC * $discRawC) AS DOUBLE) / 10000 AS revenue, count(*) AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // C2: grouped aggregation with partial (map-side) agg.
    Gated("q1_pricing", (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= "2001-09-02")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          expr(s"CAST(sum($extC) AS DOUBLE) / 100").as("sum_base_price"),
          expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("sum_disc_price"),
          expr(s"CAST(sum($chargeC) AS DOUBLE) / 1000000").as("sum_charge"),
          expr(s"CAST(sum($extC) AS DOUBLE) / 100 / count(*)").as("avg_price"),
          expr("sum(l_quantity) / count(*)").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .transform(Gate.ordered(_, "l_returnflag", "l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum($extC) AS DOUBLE) / 100 AS sum_base_price,
         |  CAST(sum($discPriceC) AS DOUBLE) / 10000 AS sum_disc_price,
         |  CAST(sum($chargeC) AS DOUBLE) / 1000000 AS sum_charge,
         |  CAST(sum($extC) AS DOUBLE) / 100 / count(*) AS avg_price,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // C3: 3-way join (broadcast dim) + agg + top-k.
    Gated("q3_shipping", (s, dir) => {
      val cust = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables(s, dir, "orders").filter(col("o_orderdate") < "1998-01-01")
      val li = Tables(s, dir, "lineitem").filter(col("l_shipdate") > "1998-01-01")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      Some(s"""SELECT l_orderkey, o_orderdate, CAST(sum($discPriceC) AS DOUBLE) / 10000 AS revenue
         |FROM lineitem, orders, customer
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // C3: 6-way join through region→nation→(customer,supplier)→orders→lineitem.
    Gated("q5_volume", (s, dir) => {
      val region = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables(s, dir, "nation")
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      val li = Tables(s, dir, "lineitem")
      val supp = Tables(s, dir, "supplier")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(expr(s"CAST(sum($discPriceC) AS DOUBLE) / 10000").as("revenue"))
        .transform(Gate.orderedCols(_, col("revenue").desc, col("n_name")))
    },
      Some(s"""SELECT n_name, CAST(sum($discPriceC) AS DOUBLE) / 10000 AS revenue
         |FROM lineitem, orders, customer, supplier, nation, region
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // C4: semi join (EXISTS): orders having a lineitem shipped >90 days later.
    Gated("q4_order_priority", (s, dir) => {
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01")
      // correlated EXISTS predicate goes in the semi-join condition:
      val lateJoin = ord.join(Tables(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      lateJoin.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .transform(Gate.ordered(_, "o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |              AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // C4: anti join (NOT EXISTS): customers with no 1997 order over 200k.
    Gated("anti_join", (s, dir) =>
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders")
            .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01"
              && col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_cust"),
          expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("bal")),
      Some("""SELECT count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_totalprice > 200000)""".stripMargin)),

    // C5: left outer join + null-aware agg.
    Gated("outer_join", (s, dir) =>
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          expr("CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)").as("total"))
        .transform(Gate.ordered(_, "c_custkey")),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // C6/C14: top-n per group via row_number window.
    Gated("window_topn", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .transform(Gate.ordered(_, "o_custkey", "rk"))
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),

    // C6: running sum + lag over event-time ordered frame.
    Gated("window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER " +
            "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)").as("running"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"))
        .transform(Gate.ordered(_, "o_custkey", "o_orderkey"))
    },
      Some("""SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_order
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // C7: distinct + count(distinct).
    Gated("distinct_agg", (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n"))
        .transform(Gate.ordered(_, "l_returnflag")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // C8: approx count distinct (HLL++). The sketch value is
    // engine-specific, so the gated output is the EXACT distinct count
    // (SQL-recomputable) plus a within-bound boolean on the sketch's
    // relative error (rsd 0.05; 0.15 = 3σ margin) the oracle emits as
    // constant TRUE.
    Gated("approx_distinct", (s, dir) =>
      Tables(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_nd"),
          countDistinct(col("l_partkey")).as("exact_nd"))
        .select(col("exact_nd"),
          (abs(col("approx_nd").cast("double") / col("exact_nd") - 1.0)
            <= 0.15).as("within_bound")),
      Some("""SELECT count(DISTINCT l_partkey) AS exact_nd, TRUE AS within_bound
        |FROM lineitem""".stripMargin)),

    // C9: rollup with grouping-null keys folded to 'ALL' for stable compare.
    Gated("rollup_agg", (s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .transform(Gate.ordered(_, "rf", "ls")),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    // C10: scalar subquery in a filter (avg over the whole table).
    Gated("subquery_scalar", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val avgPrice = li.agg(avg(col("l_extendedprice")).as("ap"))
      li.join(broadcast(avgPrice))
        .filter(col("l_extendedprice") > col("ap") * 1.8)
        .agg(count(lit(1)).as("n"),
          expr(s"CAST(sum($extC) AS DOUBLE) / 100").as("tot"))
    },
      Some(s"""SELECT count(*) AS n, CAST(sum($extC) AS DOUBLE) / 100 AS tot
         |FROM lineitem
         |WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem) * 1.8""".stripMargin)),

    // C11: union / intersect / except on key sets.
    Gated("set_ops", (s, dir) => {
      val ord = Tables(s, dir, "orders")
      val big = ord.filter(col("o_totalprice") > 300000).select(col("o_custkey"))
      val y97 = ord.filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01")
        .select(col("o_custkey"))
      val rich = Tables(s, dir, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_custkey").as("o_custkey"))
      big.intersect(y97).union(rich).except(
          ord.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .distinct()
        .transform(Gate.ordered(_, "o_custkey"))
    },
      Some("""SELECT DISTINCT o_custkey FROM (
        |  SELECT * FROM (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |    INTERSECT
        |    SELECT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |  UNION ALL
        |  SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal > 8000)
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin)),

    // C12: CASE / string / date expression surface.
    Gated("expr_suite", (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 250000, "high")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("low").as("bucket"),
          upper(substring(col("o_orderpriority"), 3, 20)).as("prio"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority").substr(1, 1)).as("tag"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).cast("date").as("due"),
          length(col("o_orderpriority")).as("plen"))
        .orderBy("o_orderkey").limit(1000),
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 250000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
        |  upper(substr(o_orderpriority, 3, 20)) AS prio,
        |  o_orderstatus || '-' || substr(o_orderpriority, 1, 1) AS tag,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo, day(o_orderdate) AS dom,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due,
        |  length(o_orderpriority) AS plen
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // C13: exact interpolated percentiles per group. Formulated as one
    // sort + rank-targeted aggregation instead of the builtin exact
    // `percentile`, whose object buffer is a value->count map per
    // partial (near-unique doubles -> the full column round-trips
    // through every partial-merge; measured ~2s at sf0.1 vs ~0.8s for
    // the sort form). Same interpolation: pos = p*(n-1),
    // lo + (hi-lo)*frac.
    Gated("percentiles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ps = Seq("25" -> 0.25, "50" -> 0.5, "75" -> 0.75, "95" -> 0.95)
      val ranked = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
        .select(col("l_returnflag"), col("v"),
          (row_number().over(Window.partitionBy("l_returnflag").orderBy("v"))
            - 1).cast("double").as("rn"),
          count(lit(1)).over(Window.partitionBy("l_returnflag")).cast("double").as("n"))
      val aggs = ps.flatMap { case (tag, p) =>
        val pos = floor(lit(p) * (col("n") - 1))
        Seq(max(when(col("rn") === pos, col("v"))).as(s"lo$tag"),
          max(when(col("rn") === pos + 1, col("v"))).as(s"hi$tag"))
      } :+ max(col("n")).as("n")
      val grouped = ranked.groupBy(col("l_returnflag")).agg(aggs.head, aggs.tail: _*)
      val outs = ps.map { case (tag, p) =>
        val pos = lit(p) * (col("n") - 1)
        val frac = pos - floor(pos)
        round(col(s"lo$tag") +
          (coalesce(col(s"hi$tag"), col(s"lo$tag")) - col(s"lo$tag")) * frac, 4)
          .as(s"p$tag")
      }
      grouped.select(col("l_returnflag") +: outs: _*).transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // C13b: the 100 TB percentile path — mergeable t-digest sketch with
    // map-side partials (O(compression) buffer per group per partition).
    // The sketch values are merge-order-dependent, so the gated output
    // is per-group cardinality (exact) plus rank-error booleans: the
    // fraction of the group at or below each estimated quantile must
    // sit within 0.02 of p — robust to merge order, and exactly the
    // bound TDigestSpec asserts vs the exact sort. The oracle
    // recomputes the counts and emits the booleans as constant TRUE.
    Gated("approx_percentiles", (s, dir) => {
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val td = li.groupBy(col("l_returnflag"))
        .agg(graft.functions.TDigest
          .percentilesApprox(col("v"), ps).as("qs"))
      val aggs = ps.indices.flatMap { i =>
        val q = element_at(col("qs"), i + 1)
        Seq(sum(when(col("v") <= q, 1L).otherwise(0L)).as(s"le$i"),
          sum(when(col("v") < q, 1L).otherwise(0L)).as(s"lt$i"))
      } :+ count(lit(1)).as("n")
      li.join(broadcast(td), "l_returnflag")
        .groupBy(col("l_returnflag")).agg(aggs.head, aggs.tail: _*)
        .select(col("l_returnflag") +: col("n") +:
          ps.zipWithIndex.map { case (p, i) =>
            ((col(s"lt$i").cast("double") / col("n") <= p + 0.02) &&
              (col(s"le$i").cast("double") / col("n") >= p - 0.02))
              .as(s"ok${(p * 100).toInt}") }: _*)
        .transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""SELECT l_returnflag, count(*) AS n,
        |  TRUE AS ok25, TRUE AS ok50, TRUE AS ok75, TRUE AS ok95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // C6 extension: RANGE frame (30-unit trailing window) + misc window
    // functions.
    Gated("window_range", (s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("day", datediff(col("o_orderdate"), lit("1995-01-01").cast("date")))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          expr("""CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)""").as("tot30"),
          expr("""count(*) OVER (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""").as("n30"))
        .transform(Gate.ordered(_, "o_custkey", "o_orderkey")),
      Some("""SELECT o_custkey, o_orderkey,
        |  datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY datediff('day', DATE '1995-01-01', o_orderdate::DATE)
        |     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS tot30,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY datediff('day', DATE '1995-01-01', o_orderdate::DATE)
        |     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n30
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Gated("window_misc", (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          expr("dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)").as("drk"),
          expr("ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)").as("quartile"),
          round(expr("percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"), 6).as("prk"),
          round(expr("cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"), 6).as("cd"),
          expr("first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)").as("first_ok"),
          expr("""last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""").as("last_ok"),
          expr("lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)").as("next_ok"))
        .transform(Gate.ordered(_, "o_custkey", "o_orderkey")),
      Some("""SELECT o_custkey, o_orderkey,
        |  dense_rank() OVER w AS drk,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS prk,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
        |  lead(o_orderkey, 1) OVER w AS next_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin))
  )
}
