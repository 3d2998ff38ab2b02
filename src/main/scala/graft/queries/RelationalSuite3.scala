package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The four TPC-H shapes that need `partsupp` (Q2/Q11/Q16/Q20 — ref:
 * the openGauss kernel parses all 22, src/common/backend/parser/gram.y
 * SQL surface), adapted to the driver schema's columns (no p_mfgr /
 * s_address / s_comment). The driver's test data ships no partsupp
 * table, so these gate at SPEC level against [[graft.sources.Partsupp]]
 * synthetic data (TpchPartsuppSpec runs DataFrame vs oracle SQL on the
 * same session); the keys and oracle entries are wired into SparkEntry
 * regardless, and graft.Verify auto-includes them the moment a
 * `partsupp.parquet` appears next to the other tables.
 *
 * Scale shapes: partsupp is the big fact here (0.8 rows per lineitem
 * at TPC-H ratios) — every plan keeps it streaming: dims broadcast,
 * the Q2 per-part min is one window over the already-filtered join
 * (never a second scan), Q11's threshold is a 1-row broadcast, Q16's
 * exclusion list is a broadcast anti-join, and Q20's per-(part,supp)
 * shipment totals aggregate lineitem BEFORE joining partsupp.
 */
object RelationalSuite3 {
  /** Query keys that require a partsupp table in the sf dir. */
  val partsuppKeys: Set[String] =
    Set("q2_min_cost", "q11_important_stock", "q16_supplier_cnt",
      "q20_potential_promo")

  /** Morton interleave as plain SQL bit arithmetic (bit i of x →
    * output bit 2i, bit i of y → 2i+1) — identical to Layout.zValue. */
  private val zExprSql: String = (0 until 8).map(i =>
    s"((((x >> $i) & 1)::BIGINT << ${2 * i}) + (((y >> $i) & 1)::BIGINT << ${2 * i + 1}))")
    .mkString(" + ")

  val gated: Seq[Gated] = Seq(
    // PG array-type surface (openGauss inherits PG arrays): array_agg
    // with deterministic order, @> containment (forall+array_contains),
    // && overlap (arrays_overlap), || concat, position, intersection —
    // all pure codegen'd Column ops over a per-user event-type set
    Gated("array_ops", (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_sort(collect_set(col("event_type"))).as("types"))
        .select(col("user_id"),
          // arrays serialize to joined strings for the gate (the
          // driver's hash can't take array cells); the ops themselves
          // run on the real array type
          array_join(col("types"), ",").as("types_str"),
          size(col("types")).as("n_types"),
          forall(array(lit("click"), lit("error")),
            x => array_contains(col("types"), x)).as("has_all"),
          arrays_overlap(col("types"),
            array(lit("signup"), lit("purchase"))).as("has_any"),
          array_position(col("types"), "error").as("err_pos"),
          array_join(array_sort(array_intersect(col("types"),
            array(lit("click"), lit("view"), lit("signup")))), ",").as("common_str"),
          array_join(concat(col("types"), array(lit("zz"))), "|").as("cat"),
          element_at(col("types"), 1).as("first_type"))
        .transform(Gate.ordered(_, "user_id")),
      Some("""WITH t AS (SELECT user_id,
        |  list_sort(list_distinct(list(event_type))) AS types
        |FROM events GROUP BY user_id)
        |SELECT user_id, array_to_string(types, ',') AS types_str,
        |  len(types)::INTEGER AS n_types,
        |  list_has_all(types, ['click','error']) AS has_all,
        |  list_has_any(types, ['signup','purchase']) AS has_any,
        |  coalesce(list_position(types, 'error'), 0)::BIGINT AS err_pos,
        |  array_to_string(list_sort(list_intersect(types, ['click','view','signup'])), ',') AS common_str,
        |  array_to_string(list_concat(types, ['zz']), '|') AS cat,
        |  types[1] AS first_type
        |FROM t ORDER BY user_id""".stripMargin)),

    // Z-order layout: Morton-interleave (user_id, ⌊value⌋) into a
    // 16-bit z-key, static 16-way equal-width bucket split, per-bucket
    // extent stats — the gate proves the z-math and that each bucket
    // covers a tight z-range (data-skipping precondition). The
    // production writer path is Layout.clusterByZ (range-repartition,
    // sampler-dependent boundaries → spec-level, not oracle-gated).
    Gated("zorder_layout", (s, dir) => {
      val ev = Tables(s, dir, "events").select(
        col("event_id"),
        pmod(col("user_id"), lit(256)).cast("int").as("x"),
        pmod(floor(col("value")).cast("long"), lit(256)).cast("int").as("y"))
      graft.operators.Layout.zorderBuckets(ev, "x", "y", bits = 8, nBuckets = 16)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("zval")).as("z_min"), max(col("zval")).as("z_max"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .transform(Gate.ordered(_, "bucket"))
    },
      Some(s"""WITH e AS (SELECT event_id,
         |  (user_id % 256)::INTEGER AS x,
         |  (CAST(floor(value) AS BIGINT) % 256)::INTEGER AS y
         |FROM events),
         |z AS (SELECT x, y, ($zExprSql) AS zval FROM e),
         |b AS (SELECT x, y, zval, ((zval * 16) >> 16)::INTEGER AS bucket FROM z)
         |SELECT bucket, count(*)::BIGINT AS n,
         |  min(zval) AS z_min, max(zval) AS z_max,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // PG ordered-set aggregates (WITHIN GROUP): mode() with a pinned
    // tie-break (highest count, then smallest value — PG leaves ties
    // implementation-defined, so the gate pins them), percentile_disc
    // (smallest value with cumulative fraction ≥ p = 1-based rank
    // ⌈p·n⌉) and percentile_cont (linear interpolation at (n−1)·p) —
    // disc/mode via one count aggregate + per-group windows over the
    // DISTINCT value set (bounded: ≤50 quantities), cont via the exact
    // percentile aggregate
    Gated("within_group", (s, dir) => {
      val li = Tables(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val wMode = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity"))
      val mode = counts.withColumn("rn", row_number().over(wMode))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      val wAll = Window.partitionBy(col("l_returnflag"))
      val disc = counts
        .withColumn("cum", sum(col("n")).over(wCum))
        .withColumn("tot", sum(col("n")).over(wAll))
        .filter(col("cum") - col("n") < ceil(col("tot") * 0.5) &&
          ceil(col("tot") * 0.5) <= col("cum"))
        .select(col("l_returnflag"), col("l_quantity").as("p50_disc"))
      val cont = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25_cont"))
      mode.join(disc, Seq("l_returnflag")).join(cont, Seq("l_returnflag"))
        .transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, l_quantity AS mode_qty,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, l_quantity) AS rn
        |  FROM c),
        |d AS (SELECT l_returnflag, quantile_disc(l_quantity, 0.5) AS p50_disc,
        |  quantile_cont(l_quantity, 0.25) AS p25_cont FROM lineitem GROUP BY 1)
        |SELECT m.l_returnflag, m.mode_qty, d.p50_disc, d.p25_cont
        |FROM m JOIN d USING (l_returnflag) WHERE m.rn = 1
        |ORDER BY l_returnflag""".stripMargin)),

    // PG crosstab/pivot: per-user event-type counts as columns (the
    // tablefunc crosstab shape) — Spark native pivot with an explicit
    // column list (no extra distinct-values job), nulls → 0
    Gated("pivot_events", (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "error", "purchase", "signup"))
        .count()
        .na.fill(0L)
        .transform(Gate.ordered(_, "user_id")),
      Some("""SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // MERGE/upsert (openGauss SQL MERGE, batch-snapshot form): every
    // 7th customer gets an update (+100 balance), every 13th spawns an
    // insert under a shifted key; matched keys take the delta row,
    // everything else carries over — one full-outer join + coalesce,
    // then a WHEN MATCHED DELETE of every 11th key via anti-join
    Gated("merge_upsert", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val updates = base.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_nationkey"))
      val inserts = base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(col("c_name"), lit("_new")).as("c_name"),
          col("c_acctbal"), col("c_nationkey"))
      val merged = graft.operators.Upsert.merge(base,
        updates.unionByName(inserts), "c_custkey")
      graft.operators.Upsert.delete(merged,
          base.filter(pmod(col("c_custkey"), lit(11)) === 0)
            .select(col("c_custkey")), "c_custkey")
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some("""WITH b AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer),
        |d AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, c_nationkey
        |      FROM b WHERE c_custkey % 7 = 0
        |      UNION ALL
        |      SELECT c_custkey + 1000000 AS c_custkey, c_name || '_new' AS c_name,
        |        c_acctbal, c_nationkey
        |      FROM b WHERE c_custkey % 13 = 0),
        |m AS (SELECT CASE WHEN d.c_custkey IS NOT NULL THEN d.c_custkey ELSE b.c_custkey END AS c_custkey,
        |        CASE WHEN d.c_custkey IS NOT NULL THEN d.c_name ELSE b.c_name END AS c_name,
        |        CASE WHEN d.c_custkey IS NOT NULL THEN d.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        |        CASE WHEN d.c_custkey IS NOT NULL THEN d.c_nationkey ELSE b.c_nationkey END AS c_nationkey
        |      FROM b FULL OUTER JOIN d ON b.c_custkey = d.c_custkey)
        |SELECT m.* FROM m
        |WHERE m.c_custkey NOT IN (SELECT c_custkey FROM b WHERE c_custkey % 11 = 0)
        |ORDER BY c_custkey""".stripMargin)),

    // ordered conversion funnel (click → view → purchase): per user
    // the earliest timestamp of each stage, a stage counts only if it
    // happens strictly AFTER the previous stage's first occurrence —
    // one conditional-min aggregate per user (single shuffle), then a
    // 1-row rollup; no joins, no per-stage passes
    Gated("funnel", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val stages = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      stages.agg(
        sum(col("t_click").isNotNull.cast("long")).as("n_click"),
        sum((col("t_click").isNotNull && col("t_view").isNotNull &&
          col("t_view") > col("t_click")).cast("long")).as("n_click_view"),
        sum((col("t_click").isNotNull && col("t_view").isNotNull &&
          col("t_view") > col("t_click") && col("t_buy").isNotNull &&
          col("t_buy") > col("t_view")).cast("long")).as("n_full_funnel"))
    },
      Some("""WITH s AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        |FROM events GROUP BY user_id)
        |SELECT
        |  sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_click,
        |  sum(CASE WHEN t_click IS NOT NULL AND t_view IS NOT NULL
        |        AND t_view > t_click THEN 1 ELSE 0 END)::BIGINT AS n_click_view,
        |  sum(CASE WHEN t_click IS NOT NULL AND t_view IS NOT NULL
        |        AND t_view > t_click AND t_buy IS NOT NULL
        |        AND t_buy > t_view THEN 1 ELSE 0 END)::BIGINT AS n_full_funnel
        |FROM s""".stripMargin)),

    // CDC apply: out-of-order, duplicated change feed — per key the
    // highest (version, op) wins with delete breaking same-version
    // ties; %7 keys get updates v1+v2 (v2 payload must win), %11 keys
    // a v3 tombstone, %13 keys an inserted row; the v1 updates and a
    // duplicate of every v2 are fed TWICE to exercise at-least-once
    Gated("cdc_apply", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val u1 = base.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 1.0).as("c_acctbal"),
          lit(1L).as("ver"), lit("U").as("op"))
      val u2 = base.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit("_v2")).as("c_name"),
          (col("c_acctbal") + 2.0).as("c_acctbal"),
          lit(2L).as("ver"), lit("U").as("op"))
      val del = base.filter(pmod(col("c_custkey"), lit(11)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(3L).as("ver"), lit("D").as("op"))
      val ins = base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_name"), col("c_acctbal"), lit(1L).as("ver"), lit("U").as("op"))
      // out-of-order + duplicated delivery
      val changes = u2.unionByName(del).unionByName(u1)
        .unionByName(ins).unionByName(u2).unionByName(u1)
      graft.operators.Upsert.applyCdc(base, changes,
          "c_custkey", "ver", "op")
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some("""WITH b AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |u2 AS (SELECT c_custkey, c_name || '_v2' AS c_name, c_acctbal + 2.0 AS c_acctbal,
        |         2::BIGINT AS ver, 'U' AS op FROM b WHERE c_custkey % 7 = 0),
        |u1 AS (SELECT c_custkey, c_name, c_acctbal + 1.0 AS c_acctbal,
        |         1::BIGINT AS ver, 'U' AS op FROM b WHERE c_custkey % 7 = 0),
        |dl AS (SELECT c_custkey, c_name, c_acctbal,
        |         3::BIGINT AS ver, 'D' AS op FROM b WHERE c_custkey % 11 = 0),
        |ins AS (SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
        |         1::BIGINT AS ver, 'U' AS op FROM b WHERE c_custkey % 13 = 0),
        |t AS (SELECT c_custkey, c_name, c_acctbal,
        |        (-9223372036854775807 - 1)::BIGINT AS ver, 'U' AS op FROM b
        |      UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM dl
        |      UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM ins
        |      UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM u1),
        |r AS (SELECT t.*, row_number() OVER (PARTITION BY c_custkey
        |        ORDER BY ver DESC, op ASC) AS rn FROM t)
        |SELECT c_custkey, c_name, c_acctbal FROM r
        |WHERE rn = 1 AND op = 'U' ORDER BY c_custkey""".stripMargin)),

    // SCD2 interval derivation (warehouse dimension versioning): per
    // user, collapse the event stream into change intervals — a new
    // version starts where event_type differs from the previous row;
    // valid_to = next version's start, open intervals closed with a
    // 2261-12-31 sentinel (a NULL timestamp is NaT on the oracle side
    // and NaT != NaT breaks the compare; the conventional 9999-12-31
    // overflows pandas datetime64[ns] — int64 nanoseconds max out at
    // 2262-04-11 — and pyarrow silently WRAPS it, so the driver-side
    // hash of the Spark parquet diverges from the DuckDB oracle even
    // though both engines hold the identical value). One shuffle on
    // the key; gaps-and-islands + lead, all windows
    Gated("scd2_intervals", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val marked = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          (lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type")).cast("int"))
        .withColumn("version", sum(col("chg")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val iv = marked.filter(col("chg") === 1)
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts").as("valid_from"))
      iv.withColumn("valid_to",
          coalesce(lead(col("valid_from"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("version"))),
            lit("2261-12-31 00:00:00").cast("timestamp")))
        .transform(Gate.ordered(_, "user_id", "version"))
    },
      Some("""WITH m AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |FROM events),
        |v AS (SELECT user_id, ts, event_id, event_type, chg,
        |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |FROM m),
        |iv AS (SELECT user_id, version, event_type, ts AS valid_from
        |       FROM v WHERE chg = 1)
        |SELECT user_id, version::BIGINT AS version, event_type, valid_from,
        |  coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version),
        |    TIMESTAMP '2261-12-31 00:00:00') AS valid_to
        |FROM iv ORDER BY user_id, version""".stripMargin)),

    // PG jsonb operator surface beyond plain extraction (json_props):
    // nested paths (#>>), array indexing, array length, missing-key
    // NULLs — over a nested JSON doc both engines construct from the
    // same deterministic integer-only concatenation (no float
    // formatting in the payload)
    Gated("json_ops", (s, dir) => {
      val j = concat(lit("{\"id\":"), col("o_orderkey").cast("string"),
        lit(",\"cust\":{\"key\":"), col("o_custkey").cast("string"),
        lit("},\"tags\":[\"t"), pmod(col("o_orderkey"), lit(5)).cast("string"),
        lit("\",\"x\"]}"))
      // ONE from_json parse per row (a get_json_object per output
      // column re-parses the document per call — measured 2.6s vs
      // 0.4s for the single-parse plan at sf0.1); the absent
      // `missing` field exercises PG's NULL-on-missing through the
      // typed schema path
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"), from_json(j,
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, cust STRUCT<key: BIGINT>, tags ARRAY<STRING>, missing STRING"))
          .as("p"))
        .select(col("o_orderkey"),
          col("p.cust.key").as("cust_key"),
          element_at(col("p.tags"), 1).as("tag0"),
          element_at(col("p.tags"), 2).as("tag1"),
          size(col("p.tags")).as("n_tags"),
          col("p.missing").as("miss"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""WITH d AS (SELECT o_orderkey,
        |  '{"id":' || o_orderkey::VARCHAR || ',"cust":{"key":' || o_custkey::VARCHAR
        |    || '},"tags":["t' || (o_orderkey % 5)::VARCHAR || '","x"]}' AS j
        |FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey,
        |  json_extract_string(j, '$.cust.key')::BIGINT AS cust_key,
        |  json_extract_string(j, '$.tags[0]') AS tag0,
        |  json_extract_string(j, '$.tags[1]') AS tag1,
        |  json_array_length(json_extract(j, '$.tags'))::INTEGER AS n_tags,
        |  json_extract_string(j, '$.missing') AS miss
        |FROM d ORDER BY o_orderkey""".stripMargin)),

    // jsonb containment/existence (@>, <@, ?, ?|, ?&; jsonb_op.cpp
    // JsonbDeepContains): each order becomes a nested doc with an
    // items array built from its lineitems (ONE orderkey-shuffle
    // join), then generic recursive containment evaluates literal
    // query docs — array-of-objects membership, multi-field element
    // match, numeric 5 == 5.0, nested object+array, dynamic <@, and
    // key existence on a conditionally-present field. The oracle
    // states each predicate RELATIONALLY (EXISTS over lineitem), so
    // the generic tree walk is checked against ground truth
    Gated("json_contain", (s, dir) => {
      val J = graft.functions.Jsonb
      val items = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"),
          struct(col("l_linenumber").cast("long").as("ln"),
            col("l_quantity").cast("long").as("qty"),
            col("l_returnflag").as("rf")).as("item"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("item"))).as("items"))
      val doc = to_json(struct(
        col("o_orderkey").as("o"),
        struct(col("o_custkey").as("key"),
          concat(lit("s"), pmod(col("o_custkey"), lit(7)).cast("string"))
            .as("seg")).as("cust"),
        col("o_orderstatus").as("status"),
        // present only for finished orders (to_json omits nulls) —
        // the existence operators then actually discriminate
        when(col("o_orderstatus") === "F", lit(true))
          .otherwise(lit(null).cast("boolean")).as("closed"),
        array(concat(lit("p"), pmod(col("o_orderkey"), lit(3)).cast("string")),
          lit("x")).as("tags"),
        coalesce(col("items"),
          expr("CAST(array() AS ARRAY<STRUCT<ln:BIGINT,qty:BIGINT,rf:STRING>>)"))
          .as("items")))
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .join(items, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), doc.as("doc"))
        .select(col("o_orderkey"),
          J.contains(col("doc"), """{"status":"F"}""").as("c_status"),
          J.contains(col("doc"), """{"items":[{"qty":5}]}""").as("c_qty5"),
          J.contains(col("doc"), """{"items":[{"qty":5.0}]}""").as("c_qty5f"),
          J.contains(col("doc"), """{"items":[{"qty":5,"rf":"R"}]}""").as("c_item2"),
          J.contains(col("doc"), """{"cust":{"seg":"s1"},"tags":["x"]}""").as("c_nested"),
          J.containedBy(concat(lit("{\"o\":"), col("o_orderkey").cast("string"),
            lit(",\"status\":\"O\"}")), col("doc")).as("cb_open"),
          J.existsKey(col("doc"), "closed").as("e_closed"),
          J.existsAny(col("doc"), Seq("closed", "nope")).as("e_any"),
          J.existsAll(col("doc"), Seq("status", "closed")).as("e_all"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      // every containment/existence predicate restated relationally —
      // ground truth for the generic jsonb tree walk
      Some("""SELECT o_orderkey,
        |  (o_orderstatus = 'F') AS c_status,
        |  EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |          AND CAST(l.l_quantity AS BIGINT) = 5) AS c_qty5,
        |  EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |          AND CAST(l.l_quantity AS BIGINT) = 5) AS c_qty5f,
        |  EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |          AND CAST(l.l_quantity AS BIGINT) = 5
        |          AND l.l_returnflag = 'R') AS c_item2,
        |  ((o_custkey % 7) = 1) AS c_nested,
        |  (o_orderstatus = 'O') AS cb_open,
        |  (o_orderstatus = 'F') AS e_closed,
        |  (o_orderstatus = 'F') AS e_any,
        |  (o_orderstatus = 'F') AS e_all
        |FROM orders o WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // SQL/JSON path queries (@? / jsonb_path_exists /
    // jsonb_path_query_first; jsonpath_exec.cpp, LAX mode): filters
    // over the items array (@.qty > N, string equality), lax
    // auto-unwrap member access, index steps, exists() — every
    // predicate restated relationally in the oracle
    Gated("json_path", (s, dir) => {
      val JP = graft.functions.JsonPath
      val items = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"),
          struct(col("l_linenumber").cast("long").as("ln"),
            col("l_quantity").cast("long").as("qty"),
            col("l_returnflag").as("rf")).as("item"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("item"))).as("items"))
      val doc = to_json(struct(
        col("o_orderkey").as("o"),
        struct(col("o_custkey").as("key")).as("cust"),
        col("o_orderstatus").as("status"),
        coalesce(col("items"),
          expr("CAST(array() AS ARRAY<STRUCT<ln:BIGINT,qty:BIGINT,rf:STRING>>)"))
          .as("items")))
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .join(items, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), doc.as("doc"))
        .select(col("o_orderkey"),
          JP.pathExists(col("doc"), "$.items[*] ? (@.qty > 30)").as("p_qty"),
          // lax member access auto-unwraps the array: no [*] needed
          JP.pathExists(col("doc"), "$.items ? (@.rf == \"R\")").as("p_rf"),
          JP.pathExists(col("doc"), "$.items[2]").as("p_three"),
          JP.pathExists(col("doc"), "$.cust ? (@.key >= 100)").as("p_key"),
          JP.pathExists(col("doc"), "$ ? (exists (@.status))").as("p_status"),
          JP.pathQueryFirst(col("doc"), "$.items[0].qty").cast("long")
            .as("first_qty"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""SELECT o_orderkey,
        |  EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |          AND CAST(l.l_quantity AS BIGINT) > 30) AS p_qty,
        |  EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |          AND l.l_returnflag = 'R') AS p_rf,
        |  ((SELECT count(*) FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey) >= 3) AS p_three,
        |  (o_custkey >= 100) AS p_key,
        |  TRUE AS p_status,
        |  (SELECT CAST(l.l_quantity AS BIGINT) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey
        |   -- testdata lineitem has duplicate (orderkey, linenumber)
        |   -- pairs: match sort_array's full (ln, qty, rf) struct order
        |   ORDER BY l.l_linenumber, CAST(l.l_quantity AS BIGINT),
        |     l.l_returnflag LIMIT 1) AS first_qty
        |FROM orders o WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // jsonb mutation operators (||, - text, - int, #- path) with
    // jsonb's CANONICAL text rendering (storage key order: length
    // then bytewise, ", "/": " separators) — the `merged` column is
    // the full canonical string, which the oracle reconstructs
    // verbatim, so key ordering and separators are gated exactly;
    // the scalar columns check the delete walks against relational
    // ground truth. Map-only compiled scan, one parse per operand
    Gated("json_mutate", (s, dir) => {
      val J = graft.functions.Jsonb
      val k3 = pmod(col("o_orderkey"), lit(3)).cast("string")
      val doc = concat(lit("{\"o\":"), col("o_orderkey").cast("string"),
        lit(",\"cust\":{\"key\":"), col("o_custkey").cast("string"),
        lit(",\"seg\":\"s"), pmod(col("o_custkey"), lit(7)).cast("string"),
        lit("\"},\"status\":\""), col("o_orderstatus"),
        lit("\",\"tags\":[\"p"), k3, lit("\",\"x\"]}"))
      val tags = concat(lit("[\"p"), k3, lit("\",\"x\"]"))
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"),
          get_json_object(J.concatJson(doc,
              concat(lit("{\"prio\":"), k3, lit("}"))), "$.prio")
            .cast("long").as("prio"),
          json_array_length(J.deleteKey(tags, "p1"))
            .cast("long").as("n_tags_after"),
          get_json_object(J.deleteIdx(tags, -1), "$[0]").as("first_after"),
          get_json_object(J.deletePath(doc, Seq("cust", "seg")), "$.cust.key")
            .cast("long").as("cust_key_after"),
          J.concatJson(doc, """{"z":1}""").as("merged"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      // the canonical `merged` string reconstructed verbatim (keys in
      // jsonb storage order: length then bytewise); scalars relational
      Some("""SELECT o_orderkey,
        |  (o_orderkey % 3)::BIGINT AS prio,
        |  (CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 2 END)::BIGINT AS n_tags_after,
        |  'p' || (o_orderkey % 3)::VARCHAR AS first_after,
        |  o_custkey::BIGINT AS cust_key_after,
        |  '{"o": ' || o_orderkey::VARCHAR || ', "z": 1, "cust": {"key": '
        |    || o_custkey::VARCHAR || ', "seg": "s' || (o_custkey % 7)::VARCHAR
        |    || '"}, "tags": ["p' || (o_orderkey % 3)::VARCHAR
        |    || '", "x"], "status": "' || o_orderstatus || '"}' AS merged
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // jsonb_set / jsonb_insert (jsonfuncs.cpp setPath): nested-path
    // replace with a per-row value, create-missing at the last step
    // only (missing INTERMEDIATE → unchanged; create_missing=false →
    // unchanged), array inserts before/after an index — each output
    // extracted post-mutation and checked relationally
    Gated("json_set", (s, dir) => {
      val J = graft.functions.Jsonb
      val k3 = pmod(col("o_orderkey"), lit(3)).cast("string")
      val doc = concat(lit("{\"o\":"), col("o_orderkey").cast("string"),
        lit(",\"cust\":{\"key\":"), col("o_custkey").cast("string"),
        lit(",\"seg\":\"s"), pmod(col("o_custkey"), lit(7)).cast("string"),
        lit("\"},\"status\":\""), col("o_orderstatus"),
        lit("\",\"tags\":[\"p"), k3, lit("\",\"x\"]}"))
      val qv = concat(lit("\"q"), pmod(col("o_orderkey"), lit(2)).cast("string"),
        lit("\""))
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"),
          get_json_object(J.setJson(doc, Seq("cust", "key"),
              (col("o_custkey") * 2).cast("string")), "$.cust.key")
            .cast("long").as("key2"),
          get_json_object(J.setJson(doc, Seq("cust", "n"),
              pmod(col("o_orderkey"), lit(5)).cast("string")), "$.cust.n")
            .cast("long").as("cust_n"),
          get_json_object(J.setJson(doc, Seq("zz", "k"), "1"), "$.status")
            .as("status_kept"),
          get_json_object(J.setJson(doc, Seq("nope"), lit("1"),
              createMissing = false), "$.nope").as("nope_abs"),
          get_json_object(J.insertJson(doc, Seq("tags", "1"), qv),
            "$.tags[1]").as("ins_before"),
          get_json_object(J.insertJson(doc, Seq("tags", "0"), qv,
              insertAfter = true), "$.tags[1]").as("ins_after"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""SELECT o_orderkey,
        |  (o_custkey * 2)::BIGINT AS key2,
        |  (o_orderkey % 5)::BIGINT AS cust_n,
        |  o_orderstatus AS status_kept,
        |  NULL::VARCHAR AS nope_abs,
        |  'q' || (o_orderkey % 2)::VARCHAR AS ins_before,
        |  'q' || (o_orderkey % 2)::VARCHAR AS ins_after
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // PG statistical aggregates (stddev_pop/var_pop/covar_pop/corr)
    // made hash-exact: float built-ins accumulate in partition order
    // (ulp drift between engines), so the moments Σx, Σy, Σx², Σy²,
    // Σxy are summed as DECIMALs (exact — the inputs have ≤2 decimal
    // digits) and the closed-form formulas evaluate in fixed order on
    // the exact moments; one map-side-combinable aggregate
    Gated("stats_agg", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      // integer moments (see RelationalSuite: long sums stay in codegen,
      // wide-decimal sums don't): qty is integer-valued → plain BIGINT;
      // price in cents; ONLY Σprice² needs decimal (cents² ≈ 1.2e14/row
      // would overflow a long sum past ~7.6e4 rows/group)
      val x = expr("CAST(l_quantity AS BIGINT)")
      val yc = expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
      val g = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(yc).as("syc"),
        sum(x * x).as("sxx"),
        sum(expr("CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(18,0))") * yc)
          .as("syycc"),
        sum(x * yc).as("sxyc"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double")
      val sy = col("syc").cast("double") / 100
      val sxx = col("sxx").cast("double")
      val syy = col("syycc").cast("double") / 10000
      val sxy = col("sxyc").cast("double") / 100
      g.select(col("l_returnflag"),
        round((sxx / n) - (sx / n) * (sx / n), 6).as("var_qty"),
        round(sqrt((sxx / n) - (sx / n) * (sx / n)), 6).as("stddev_qty"),
        round((sxy / n) - (sx / n) * (sy / n), 6).as("covar"),
        round(((sxy / n) - (sx / n) * (sy / n)) /
          (sqrt((sxx / n) - (sx / n) * (sx / n)) *
            sqrt((syy / n) - (sy / n) * (sy / n))), 6).as("corr"))
        .transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""WITH g0 AS (SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT)) AS sx,
        |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syc,
        |  sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |  sum(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(18,0)) *
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syycc,
        |  sum(CAST(l_quantity AS BIGINT) *
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxyc
        |FROM lineitem GROUP BY 1),
        |g AS (SELECT l_returnflag, n::DOUBLE AS n, sx::DOUBLE AS sx,
        |  syc::DOUBLE / 100 AS sy, sxx::DOUBLE AS sxx,
        |  syycc::DOUBLE / 10000 AS syy, sxyc::DOUBLE / 100 AS sxy
        |FROM g0)
        |SELECT l_returnflag,
        |  round((sxx / n) - (sx / n) * (sx / n), 6) AS var_qty,
        |  round(sqrt((sxx / n) - (sx / n) * (sx / n)), 6) AS stddev_qty,
        |  round((sxy / n) - (sx / n) * (sy / n), 6) AS covar,
        |  round(((sxy / n) - (sx / n) * (sy / n)) /
        |    (sqrt((sxx / n) - (sx / n) * (sx / n)) *
        |     sqrt((syy / n) - (sy / n) * (sy / n))), 6) AS corr
        |FROM g ORDER BY l_returnflag""".stripMargin)),

    // PG linear-regression aggregates (regr_slope/intercept/r2/count/
    // avgx/avgy) from the SAME exact integer moments as stats_agg —
    // identical double arithmetic both engines, hash-exact at 6dp
    Gated("regr_agg", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val x = expr("CAST(l_quantity AS BIGINT)")
      val yc = expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
      val g = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(yc).as("syc"),
        sum(x * x).as("sxx"),
        sum(expr("CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(18,0))") * yc)
          .as("syycc"),
        sum(x * yc).as("sxyc"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double")
      val sy = col("syc").cast("double") / 100
      val sxx = col("sxx").cast("double")
      val syy = col("syycc").cast("double") / 10000
      val sxy = col("sxyc").cast("double") / 100
      val covar = (sxy / n) - (sx / n) * (sy / n)
      val varx = (sxx / n) - (sx / n) * (sx / n)
      val vary = (syy / n) - (sy / n) * (sy / n)
      val slope = covar / varx
      g.select(col("l_returnflag"),
        col("n").as("regr_count"),
        round(sx / n, 6).as("regr_avgx"),
        round(sy / n, 6).as("regr_avgy"),
        round(slope, 6).as("regr_slope"),
        round((sy / n) - slope * (sx / n), 6).as("regr_intercept"),
        round((covar * covar) / (varx * vary), 6).as("regr_r2"))
        .transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""WITH g0 AS (SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT)) AS sx,
        |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syc,
        |  sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |  sum(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(18,0)) *
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syycc,
        |  sum(CAST(l_quantity AS BIGINT) *
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxyc
        |FROM lineitem GROUP BY 1),
        |g AS (SELECT l_returnflag, n::BIGINT AS n0, n::DOUBLE AS n, sx::DOUBLE AS sx,
        |  syc::DOUBLE / 100 AS sy, sxx::DOUBLE AS sxx,
        |  syycc::DOUBLE / 10000 AS syy, sxyc::DOUBLE / 100 AS sxy
        |FROM g0),
        |d AS (SELECT l_returnflag, n0, n, sx, sy,
        |  (sxy / n) - (sx / n) * (sy / n) AS covar,
        |  (sxx / n) - (sx / n) * (sx / n) AS varx,
        |  (syy / n) - (sy / n) * (sy / n) AS vary
        |FROM g)
        |SELECT l_returnflag, n0 AS regr_count,
        |  round(sx / n, 6) AS regr_avgx,
        |  round(sy / n, 6) AS regr_avgy,
        |  round(covar / varx, 6) AS regr_slope,
        |  round((sy / n) - (covar / varx) * (sx / n), 6) AS regr_intercept,
        |  round((covar * covar) / (varx * vary), 6) AS regr_r2
        |FROM d ORDER BY l_returnflag""".stripMargin)),

    // bool_and/bool_or + bit_and/bit_or/bit_xor aggregates — order-
    // invariant by algebra (AND/OR/XOR commute), so exact everywhere
    Gated("bool_bit_aggs", (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("bool_and(o_totalprice > 1000)").as("all_big"),
          expr("bool_or(o_orderstatus = 'F')").as("any_final"),
          expr("bool_and(o_orderkey % 2 = 0)").as("all_even"),
          expr("bit_and(o_orderkey)").as("key_band"),
          expr("bit_or(o_orderkey)").as("key_bor"),
          expr("bit_xor(o_orderkey)").as("key_bxor"),
          count(lit(1)).as("n"))
        .transform(Gate.ordered(_, "o_orderpriority")),
      Some("""SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000) AS all_big,
        |  bool_or(o_orderstatus = 'F') AS any_final,
        |  bool_and(o_orderkey % 2 = 0) AS all_even,
        |  bit_and(o_orderkey)::BIGINT AS key_band,
        |  bit_or(o_orderkey)::BIGINT AS key_bor,
        |  bit_xor(o_orderkey)::BIGINT AS key_bxor,
        |  count(*)::BIGINT AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // equi-width histogram: 20 global bins over l_extendedprice from
    // a 1-row min/max broadcast; bin = ⌊(v−lo)·20/(hi−lo)⌋ clamped —
    // identical double arithmetic in both engines, then integer counts
    Gated("histogram", (s, dir) => {
      val li = Tables(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
      val ext = li.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      li.crossJoin(broadcast(ext))
        .select(least(floor((col("v") - col("lo")) * 20 / (col("hi") - col("lo"))),
          lit(19L)).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .transform(Gate.ordered(_, "bin"))
    },
      Some("""WITH e AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
        |b AS (SELECT CAST(least(floor((l_extendedprice - lo) * 20 / (hi - lo)), 19) AS BIGINT) AS bin
        |      FROM lineitem CROSS JOIN e)
        |SELECT bin, count(*) AS n FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // column profiling (the pre-ingest data-quality pass): row/null/
    // distinct counts + typed min/max per column, one aggregation row
    // exploded to per-column rows; exact distinct here (gate), the
    // 100 TB path flips to the single-pass HLL regime (see Profile)
    Gated("profile_stats", (s, dir) =>
      graft.operators.Profile.profile(
          Tables(s, dir, "events"),
          Seq("event_id", "user_id", "event_type", "value", "props"))
        .transform(Gate.ordered(_, "col_name")),
      Some("""SELECT 'event_id' AS col_name, count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |  count(DISTINCT event_id)::BIGINT AS n_distinct,
        |  min(event_id)::DOUBLE AS min_num, max(event_id)::DOUBLE AS max_num,
        |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM events
        |UNION ALL
        |SELECT 'user_id', count(*)::BIGINT,
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT user_id)::BIGINT,
        |  min(user_id)::DOUBLE, max(user_id)::DOUBLE,
        |  NULL::VARCHAR, NULL::VARCHAR FROM events
        |UNION ALL
        |SELECT 'event_type', count(*)::BIGINT,
        |  sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT event_type)::BIGINT,
        |  NULL::DOUBLE, NULL::DOUBLE,
        |  min(event_type), max(event_type) FROM events
        |UNION ALL
        |SELECT 'value', count(*)::BIGINT,
        |  sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT value)::BIGINT,
        |  min(value)::DOUBLE, max(value)::DOUBLE,
        |  NULL::VARCHAR, NULL::VARCHAR FROM events
        |UNION ALL
        |SELECT 'props', count(*)::BIGINT,
        |  sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT props)::BIGINT,
        |  NULL::DOUBLE, NULL::DOUBLE,
        |  min(props), max(props) FROM events
        |ORDER BY col_name""".stripMargin)),

    // per-column heavy-key skew report (which join keys need salting
    // BEFORE a 100 TB join): map-side-combined count + bounded top-5
    // TakeOrdered per column, deterministic (n desc, value) order
    Gated("profile_skew", (s, dir) =>
      graft.operators.Profile.heavyKeys(
          Tables(s, dir, "events"), Seq("user_id", "event_type"), k = 5)
        .transform(Gate.ordered(_, "col_name", "value")),
      Some("""WITH u AS (SELECT 'user_id' AS col_name, CAST(user_id AS VARCHAR) AS value,
        |             count(*)::BIGINT AS n
        |           FROM events GROUP BY 2 ORDER BY n DESC, value LIMIT 5),
        |e AS (SELECT 'event_type' AS col_name, CAST(event_type AS VARCHAR) AS value,
        |        count(*)::BIGINT AS n
        |      FROM events GROUP BY 2 ORDER BY n DESC, value LIMIT 5)
        |SELECT * FROM u UNION ALL SELECT * FROM e
        |ORDER BY col_name, value""".stripMargin)),

    // PG generate_series + LOCF idiom: hourly gap fill per user with
    // last-observation-carried-forward (TimeSeries.gapFillLocf); the
    // grid is generated PER KEY from its own span (no global calendar
    // cross join), one shuffle + one per-key ordered window
    Gated("gap_fill", (s, dir) =>
      graft.operators.TimeSeries.gapFillLocf(
          Tables(s, dir, "events").filter(col("user_id") < 50),
          "user_id", "ts", "value", truncUnit = "hour", step = "1 hour")
        .withColumnRenamed("key", "user_id")
        .transform(Gate.ordered(_, "user_id", "bucket")),
      Some("""WITH o AS (SELECT user_id, date_trunc('hour', ts)::TIMESTAMP AS bucket,
        |    max(value) AS v_obs
        |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM o GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM s),
        |j AS (SELECT g.user_id, g.bucket, o.v_obs
        |  FROM g LEFT JOIN o ON o.user_id = g.user_id AND o.bucket = g.bucket)
        |SELECT user_id, bucket,
        |  last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
        |  v_obs IS NOT NULL AS observed
        |FROM j ORDER BY user_id, bucket""".stripMargin)),

    // Q2 shape: cheapest EUROPE supplier per qualifying part — the
    // correlated-min subquery expressed as a per-part window over the
    // filtered join (same rows touched once; no LIMIT so the result
    // is order-free and hash-exact)
    Gated("q2_min_cost", (s, dir) => {
      val part = Tables(s, dir, "part")
        .filter(col("p_size") <= 25 && col("p_type") === "LARGE")
        .select("p_partkey")
      val euNations = Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val euSupp = Tables(s, dir, "supplier")
        .join(broadcast(euNations), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val joined = Tables(s, dir, "partsupp")
        .join(broadcast(part), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(euSupp), col("ps_suppkey") === col("s_suppkey"))
      val w = Window.partitionBy(col("p_partkey"))
      joined.withColumn("min_cost", min(col("ps_supplycost")).over(w))
        .filter(col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"))
        .transform(Gate.ordered(_, "p_partkey", "s_name"))
    },
      Some("""SELECT s_acctbal, s_name, n_name, p_partkey
        |FROM part, supplier, partsupp, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_size <= 25 AND p_type = 'LARGE'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost)
        |    FROM partsupp ps2, supplier s2, nation n2, region r2
        |    WHERE part.p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY p_partkey, s_name""".stripMargin)),

    // Q11 shape: stock value concentrated in one nation's suppliers;
    // HAVING threshold = scalar aggregate, broadcast as one row. The
    // synthetic ps_supplycost is integer-valued so value sums are
    // exact in fp64 under any aggregation order (see Partsupp).
    Gated("q11_important_stock", (s, dir) => {
      val natSupp = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val vals = Tables(s, dir, "partsupp")
        .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
        .select(col("ps_partkey"),
          (col("ps_supplycost") * col("ps_availqty")).as("v"))
      val thresh = vals.agg((sum(col("v")) * 0.005).as("thresh"))
      vals.groupBy(col("ps_partkey")).agg(sum(col("v")).as("value"))
        .join(broadcast(thresh))
        .filter(col("value") > col("thresh"))
        .select(col("ps_partkey"), col("value"))
        .transform(Gate.ordered(_, "ps_partkey"))
    },
      Some("""SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
        |FROM partsupp, supplier, nation
        |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY ps_partkey
        |HAVING sum(ps_supplycost * ps_availqty) > (
        |  SELECT sum(ps_supplycost * ps_availqty) * 0.005
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3')
        |ORDER BY ps_partkey""".stripMargin)),

    // Q16 shape: distinct supplier count per (brand, type, size) bucket
    // with a NOT IN supplier exclusion (s_acctbal < 1000 stands in for
    // the missing s_comment complaints filter) — the exclusion list is
    // tiny, so it rides a broadcast LEFT ANTI join (s_suppkey is
    // non-null by construction, making anti-join NOT IN-equivalent)
    Gated("q16_supplier_cnt", (s, dir) => {
      val part = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#19" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 49))
      val excluded = Tables(s, dir, "supplier")
        .filter(col("s_acctbal") < 1000).select("s_suppkey")
      Tables(s, dir, "partsupp")
        .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(part), col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .transform(Gate.ordered(_, "p_brand", "p_type", "p_size"))
    },
      Some("""SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#19' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 49)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY p_brand, p_type, p_size""".stripMargin)),

    // Q20 shape: suppliers holding excess stock of 'blue%' parts —
    // availqty above half their 1996 shipments of that part. The
    // correlated scalar subquery becomes a pre-aggregation of lineitem
    // per (partkey, suppkey) BEFORE touching partsupp (the inner join
    // drops pairs with no 1996 shipments, matching SQL's NULL > x);
    // l_quantity is integral in the data so the half-sum compare is
    // exact.
    Gated("q20_potential_promo", (s, dir) => {
      val bluePart = Tables(s, dir, "part")
        .filter(col("p_name").like("blue%")).select("p_partkey")
      val shipped = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val excess = Tables(s, dir, "partsupp")
        .join(broadcast(bluePart), col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > col("qty") * 0.5)
        .select("ps_suppkey")
      Tables(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .transform(Gate.ordered(_, "s_name"))
    },
      Some("""SELECT s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT ps_suppkey FROM partsupp
        |  WHERE ps_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
        |    AND ps_availqty > (
        |      SELECT 0.5 * sum(l_quantity) FROM lineitem
        |      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
        |ORDER BY s_name""".stripMargin)),

    // SQL aggregate FILTER clause (PG/openGauss surface; Spark parses
    // it natively since 3.0) — conditional aggregation without the
    // CASE-WHEN contortion, one grouped pass, integer/decimal-exact
    Gated("agg_filter", (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_af")
      s.sql(
        """SELECT l_returnflag,
          |  count(*) AS n_all,
          |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
          |  count(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          |    FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f
          |FROM li_af GROUP BY l_returnflag""".stripMargin)
        .transform(Gate.ordered(_, "l_returnflag"))
    },
      Some("""SELECT l_returnflag,
        |  count(*)::BIGINT AS n_all,
        |  (count(*) FILTER (WHERE l_quantity > 25))::BIGINT AS n_big,
        |  (count(*) FILTER (WHERE l_discount = 0))::BIGINT AS n_nodisc,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // GROUPING()/grouping_id over ROLLUP — the disambiguation surface
    // for super-aggregate rows (a NULL group key vs a rollup total);
    // grouping_id bit order pinned per-column so both engines agree
    Gated("grouping_fn", (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"),
          col("o_totalprice"))
        .rollup(col("pri"), col("st"))
        .agg(count(lit(1)).as("n"),
          grouping(col("pri")).as("g_pri"), grouping(col("st")).as("g_st"))
        .transform(Gate.ordered(_, "pri", "st", "g_pri", "g_st")),
      Some("""SELECT o_orderpriority AS pri, o_orderstatus AS st,
        |  count(*)::BIGINT AS n,
        |  GROUPING(o_orderpriority)::INTEGER AS g_pri,
        |  GROUPING(o_orderstatus)::INTEGER AS g_st
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY pri, st, g_pri, g_st""".stripMargin)),

    // UNNEST WITH ORDINALITY (PG) == posexplode: token position is
    // part of the result contract, not an artifact of row order
    Gated("unnest_ord", (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(
          slice(split(lower(col("text")), " "), 1, 6)).as(Seq("pos", "tok")))
        .transform(Gate.ordered(_, "doc_id", "pos")),
      // parallel unnests zip positionally in DuckDB == posexplode;
      // ordinality is 0-based to match Spark's pos
      Some("""WITH t AS (SELECT doc_id,
        |  list_slice(string_split(lower(text), ' '), 1, 6) AS toks
        |FROM documents WHERE doc_id < 20)
        |SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS tok
        |FROM t ORDER BY doc_id, pos""".stripMargin)),

    // window NAVIGATION surface: lag/lead with defaults, first_value/
    // last_value IGNORE NULLS (the LOCF building block), nth_value over
    // the full frame — over a column with PLANTED NULLs so the
    // ignore-nulls semantics provably fire
    Gated("window_nav", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val runningW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fullW = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          // NULL wherever the event is a click: ignore-nulls must skip
          nullif(col("event_type"), lit("click")).as("nc"))
        .select(col("user_id"), col("event_id"),
          lag(col("event_type"), 1, "none").over(w).as("prev_type"),
          lead(col("event_type"), 1, "none").over(w).as("next_type"),
          last(col("nc"), ignoreNulls = true).over(runningW).as("last_nc"),
          first(col("nc"), ignoreNulls = true).over(fullW).as("first_nc"),
          nth_value(col("event_id"), 3).over(fullW).as("third_event"))
        .transform(Gate.ordered(_, "user_id", "event_id"))
    },
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
        |  nullif(event_type, 'click') AS nc
        |FROM events WHERE user_id < 50)
        |SELECT user_id, event_id,
        |  lag(event_type, 1, 'none') OVER w AS prev_type,
        |  lead(event_type, 1, 'none') OVER w AS next_type,
        |  last_value(nc IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nc,
        |  first_value(nc IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_nc,
        |  nth_value(event_id, 3) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_event
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)),

    // rank-family window functions: ntile bucketing, percent_rank and
    // cume_dist (exact rational doubles — (r-1)/(n-1) and r/n IEEE
    // divisions are bit-identical in both engines), rank/dense_rank
    // under real ties (o_totalprice rounded to whole dollars)
    Gated("window_rank_fns", (s, dir) => {
      val tied = floor(col("o_totalprice") / 1000).cast("long").as("price_k")
      val w = Window.partitionBy(col("pri")).orderBy(col("price_k"), col("o_orderkey"))
      val wTies = Window.partitionBy(col("pri")).orderBy(col("price_k"))
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderpriority").as("pri"), col("o_orderkey"), tied)
        .select(col("pri"), col("o_orderkey"), col("price_k"),
          ntile(4).over(w).as("quartile"),
          rank().over(wTies).as("rk"),
          dense_rank().over(wTies).as("drk"),
          percent_rank().over(wTies).as("prk"),
          cume_dist().over(wTies).as("cd"))
        .transform(Gate.ordered(_, "pri", "o_orderkey"))
    },
      Some("""WITH o AS (SELECT o_orderpriority AS pri, o_orderkey,
        |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k
        |FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT pri, o_orderkey, price_k,
        |  ntile(4) OVER (PARTITION BY pri ORDER BY price_k, o_orderkey) AS quartile,
        |  rank() OVER wt AS rk,
        |  dense_rank() OVER wt AS drk,
        |  percent_rank() OVER wt AS prk,
        |  cume_dist() OVER wt AS cd
        |FROM o
        |WINDOW wt AS (PARTITION BY pri ORDER BY price_k)
        |ORDER BY pri, o_orderkey""".stripMargin)),

    // null-safe equality (<=> / IS NOT DISTINCT FROM) + the NULL-logic
    // function family (nullif/nvl/nvl2/coalesce) over planted NULLs
    Gated("null_safe_eq", (s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          nullif(pmod(col("c_custkey"), lit(7)), lit(3)).as("a"),
          nullif(pmod(col("c_custkey"), lit(5)), lit(2)).as("b"))
        .select(col("c_custkey"), col("a"), col("b"),
          (col("a") <=> col("b")).as("nseq"),
          (!(col("a") <=> col("b"))).as("nsneq"),
          coalesce(col("a"), col("b"), lit(-1)).as("c1"),
          when(col("a").isNotNull, col("a") * 10).otherwise(col("b")).as("n2"))
        .transform(Gate.ordered(_, "c_custkey")),
      Some("""SELECT c_custkey,
        |  nullif(c_custkey % 7, 3) AS a,
        |  nullif(c_custkey % 5, 2) AS b,
        |  (nullif(c_custkey % 7, 3) IS NOT DISTINCT FROM nullif(c_custkey % 5, 2)) AS nseq,
        |  (nullif(c_custkey % 7, 3) IS DISTINCT FROM nullif(c_custkey % 5, 2)) AS nsneq,
        |  coalesce(nullif(c_custkey % 7, 3), nullif(c_custkey % 5, 2), -1) AS c1,
        |  CASE WHEN nullif(c_custkey % 7, 3) IS NOT NULL
        |    THEN nullif(c_custkey % 7, 3) * 10
        |    ELSE nullif(c_custkey % 5, 2) END AS n2
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // explicit Bloom-filter runtime pruning (C51): the dim side builds
    // a broadcast Bloom filter, the fact scan drops definite-non-
    // matches MAP-SIDE before the shuffle; no false negatives + a
    // verifying semi-join ⇒ the result provably equals the plain
    // semi-join, which is the oracle
    Gated("bloom_join", (s, dir) => {
      val dim = Tables(s, dir, "supplier")
        .filter(pmod(col("s_suppkey"), lit(7)) === 0)
      graft.operators.BloomJoin.prunedSemiJoin(
          Tables(s, dir, "lineitem"), "l_suppkey", dim, "s_suppkey")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("key_sum"))
        .transform(Gate.ordered(_, "l_suppkey"))
    },
      Some("""SELECT l_suppkey, count(*)::BIGINT AS n,
        |  sum(l_orderkey)::BIGINT AS key_sum
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // explicit hot-key SALTED join (the pathological-skew form AQE's
    // split can't fix): left rows take a per-row salt, the dim side
    // replicates across all salts — the RESULT SET is provably salt-
    // invariant, which is exactly what this gate checks (oracle = the
    // plain unsalted join)
    Gated("skew_join", (s, dir) =>
      graft.operators.Skew.saltedJoin(
          Tables(s, dir, "orders"), Tables(s, dir, "customer"),
          "o_custkey", "c_custkey", salts = 8)
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("key_sum"))
        .transform(Gate.ordered(_, "c_custkey")),
      Some("""SELECT c_custkey, count(*)::BIGINT AS n_orders,
        |  sum(o_orderkey)::BIGINT AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // LIKE-family pattern matching: %/_ wildcards, ESCAPE'd literal
    // underscores, ILIKE case folding, NOT LIKE — over strings built
    // to hit every branch (planted '_' and mixed case)
    Gated("like_escape", (s, dir) =>
      Tables(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          concat(lit("It_"), pmod(col("c_custkey"), lit(7)).cast("string"),
            lit("-x")).as("v"))
        .selectExpr("c_custkey", "v",
          "v LIKE 'It%' AS starts_it",
          // '!' escape: no backslash double-escaping through the Scala
          // and SQL string-literal layers
          "v LIKE 'It!_3%' ESCAPE '!' AS is_three",
          "lower(v) LIKE 'it!_%' ESCAPE '!' AS ci_underscore",
          "v ILIKE 'it%' AS ci_prefix",
          "v LIKE '%-x' AS ends_x",
          "v NOT LIKE '%5%' AS no_five")
        .transform(Gate.ordered(_, "c_custkey")),
      Some("""WITH d AS (SELECT c_custkey,
        |  'It_' || (c_custkey % 7)::VARCHAR || '-x' AS v
        |FROM customer WHERE c_custkey < 500)
        |SELECT c_custkey, v,
        |  v LIKE 'It%' AS starts_it,
        |  v LIKE 'It!_3%' ESCAPE '!' AS is_three,
        |  lower(v) LIKE 'it!_%' ESCAPE '!' AS ci_underscore,
        |  v ILIKE 'it%' AS ci_prefix,
        |  v LIKE '%-x' AS ends_x,
        |  v NOT LIKE '%5%' AS no_five
        |FROM d ORDER BY c_custkey""".stripMargin)),

    // interval / date arithmetic: +INTERVAL days, add_months (both
    // engines clamp at month end), datediff — calendar outputs as
    // strings (dtype-proof)
    Gated("interval_arith", (s, dir) =>
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"),
          date_format(expr("o_orderdate + INTERVAL 90 DAYS"), "yyyy-MM-dd")
            .as("plus90"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
            .as("plus3mo"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .as("days_since"))
        .transform(Gate.ordered(_, "o_orderkey")),
      Some("""SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus90,
        |  -- ::DATE, not the bare timestamp: DuckDB v1.0.0 folds two
        |  -- same-shaped `col + INTERVAL n UNIT` expressions in one
        |  -- SELECT into ONE (the 3-MONTH add silently became +90 DAY);
        |  -- the distinct ::DATE operand defeats the bad fold and also
        |  -- matches Spark's add_months-on-date semantics
        |  strftime(o_orderdate::DATE + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
        |  datediff('day', DATE '1995-01-01', o_orderdate::DATE)::INTEGER AS days_since
        |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin)),

    // PG date-part surface: extract(year/quarter/month/week/dow/doy/
    // epoch) + date_trunc/last_day — week is ISO in both engines, dow
    // normalized to PG's 0=Sunday (Spark's dayofweek is 1=Sunday),
    // calendar outputs serialized as strings (date-vs-timestamp dtype
    // drift is a driver hash-miss; strings are dtype-proof)
    Gated("date_extract", (s, dir) =>
      Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("mo"),
          weekofyear(col("o_orderdate")).as("wk"),
          (dayofweek(col("o_orderdate")) - 1).as("dow"),
          dayofyear(col("o_orderdate")).as("doy"),
          unix_timestamp(col("o_orderdate")).as("epoch"),
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
            .as("q_start"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"))
        .transform(Gate.ordered(_, "o_orderkey")),
      Some("""SELECT o_orderkey,
        |  extract(year FROM o_orderdate)::INTEGER AS y,
        |  extract(quarter FROM o_orderdate)::INTEGER AS q,
        |  extract(month FROM o_orderdate)::INTEGER AS mo,
        |  extract(week FROM o_orderdate)::INTEGER AS wk,
        |  extract(dow FROM o_orderdate)::INTEGER AS dow,
        |  extract(doy FROM o_orderdate)::INTEGER AS doy,
        |  CAST(extract(epoch FROM o_orderdate) AS BIGINT) AS epoch,
        |  strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS q_start,
        |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS eom
        |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin)),

    // regexp surface beyond PII scrubbing: group extraction, global
    // replace, match predicate, split_part — the RE2∩Java-compatible
    // subset so both engines agree byte-for-byte
    Gated("regexp_fns", (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          concat(lit("doc-"), col("doc_id").cast("string"), lit("-v2.txt"))
            .as("fname"),
          col("text"))
        .select(col("doc_id"),
          regexp_extract(col("fname"), "doc-([0-9]+)-v([0-9]+)", 1).as("id_part"),
          regexp_extract(col("fname"), "doc-([0-9]+)-v([0-9]+)", 2).as("ver_part"),
          regexp_replace(col("fname"), "[0-9]+", "#").as("masked"),
          col("fname").rlike("v[0-9]+\\.txt$").as("is_versioned"),
          split_part(col("fname"), lit("-"), lit(2)).as("mid"),
          substring(regexp_replace(col("text"), "\\s+", " "), 1, 40).as("head40"))
        .transform(Gate.ordered(_, "doc_id")),
      Some("""WITH d AS (SELECT doc_id,
        |  'doc-' || doc_id::VARCHAR || '-v2.txt' AS fname, text
        |FROM documents WHERE doc_id < 500)
        |SELECT doc_id,
        |  regexp_extract(fname, 'doc-([0-9]+)-v([0-9]+)', 1) AS id_part,
        |  regexp_extract(fname, 'doc-([0-9]+)-v([0-9]+)', 2) AS ver_part,
        |  regexp_replace(fname, '[0-9]+', '#', 'g') AS masked,
        |  regexp_matches(fname, 'v[0-9]+\.txt$') AS is_versioned,
        |  split_part(fname, '-', 2) AS mid,
        |  substring(regexp_replace(text, '\s+', ' ', 'g'), 1, 40) AS head40
        |FROM d ORDER BY doc_id""".stripMargin)),

    // HOPPING (sliding) windows in batch — window(ts, 10 min, 5 min):
    // every event lands in exactly size/slide = 2 windows; the oracle
    // enumerates both phase-shifted tumbling assignments. Window start
    // emitted as epoch seconds (dtype-proof); integer aggregates
    Gated("hop_window", (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"),
          min(col("event_id")).as("first_id"))
        .select(col("window.start").cast("long").as("ws_epoch"),
          col("n"), col("id_sum"), col("first_id"))
        .transform(Gate.ordered(_, "ws_epoch")),
      Some("""WITH e AS (SELECT event_id,
        |    -- floor, not CAST: epoch carries fractional seconds and
        |    -- DuckDB's double->BIGINT cast ROUNDS (a x.5+ fraction in
        |    -- second 299 of a bucket would hop windows)
        |    CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ep FROM events),
        |a AS (SELECT event_id, ep - ep % 300 AS ws FROM e
        |      UNION ALL
        |      SELECT event_id, (ep - ep % 300) - 300 FROM e)
        |SELECT ws AS ws_epoch, count(*)::BIGINT AS n,
        |  sum(event_id)::BIGINT AS id_sum, min(event_id)::BIGINT AS first_id
        |FROM a GROUP BY ws ORDER BY ws""".stripMargin)),

    // PageRank, 3 fixed iterations over the customer→order key graph —
    // iterative numeric recursion (beyond reachability's set growth)
    // with engine-exact arithmetic: per-edge contributions are IEEE
    // double divisions rounded to 12dp and summed as DECIMAL(28,12)
    // (order-invariant), so ranks match the oracle bit-for-bit
    Gated("graph_pagerank", (s, dir) => {
      val edges = Tables(s, dir, "orders")
        .select(pmod(col("o_custkey"), lit(30)).as("src"),
          pmod(col("o_orderkey"), lit(30)).as("dst"))
      graft.operators.Iterate.pageRank(edges, "src", "dst", iters = 3)
        .transform(Gate.ordered(_, "node"))
    },
      // 3 unrolled PR iterations; every round: contribution =
      // round(rank/odeg, 12) summed as DECIMAL(28,12) (exact), update =
      // round(teleport + 0.85*s, 12) — identical IEEE ops to the Spark
      // loop, so ranks are bit-equal. (1.0 - 0.85) is written out so
      // both engines compute the same inexact double, not a 0.15
      // literal.
      Some("""WITH e AS (SELECT DISTINCT o_custkey % 30 AS src, o_orderkey % 30 AS dst
        |           FROM orders),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |g AS (SELECT count(*)::BIGINT AS n FROM nodes),
        |od AS (SELECT src, count(*)::BIGINT AS odeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(round(1.0 / g.n, 12) AS DECIMAL(28,12)) AS rank
        |       FROM nodes CROSS JOIN g),
        |s1 AS (SELECT e.dst, sum(CAST(round(r.rank::DOUBLE / od.odeg, 12)
        |         AS DECIMAL(28,12))) AS s
        |       FROM e JOIN r0 r ON e.src = r.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n2.node, CAST(round(round((1.0 - 0.85) / g.n, 12) +
        |         0.85 * COALESCE(s.s, 0)::DOUBLE, 12) AS DECIMAL(28,12)) AS rank
        |       FROM nodes n2 CROSS JOIN g LEFT JOIN s1 s ON n2.node = s.dst),
        |s2 AS (SELECT e.dst, sum(CAST(round(r.rank::DOUBLE / od.odeg, 12)
        |         AS DECIMAL(28,12))) AS s
        |       FROM e JOIN r1 r ON e.src = r.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n2.node, CAST(round(round((1.0 - 0.85) / g.n, 12) +
        |         0.85 * COALESCE(s.s, 0)::DOUBLE, 12) AS DECIMAL(28,12)) AS rank
        |       FROM nodes n2 CROSS JOIN g LEFT JOIN s2 s ON n2.node = s.dst),
        |s3 AS (SELECT e.dst, sum(CAST(round(r.rank::DOUBLE / od.odeg, 12)
        |         AS DECIMAL(28,12))) AS s
        |       FROM e JOIN r2 r ON e.src = r.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n2.node, CAST(round(round((1.0 - 0.85) / g.n, 12) +
        |         0.85 * COALESCE(s.s, 0)::DOUBLE, 12) AS DECIMAL(28,12)) AS rank
        |       FROM nodes n2 CROSS JOIN g LEFT JOIN s3 s ON n2.node = s.dst)
        |SELECT node, CAST(rank AS DOUBLE) AS rank FROM r3 ORDER BY node""".stripMargin)),

    // INCREMENTAL MATERIALIZED VIEW refresh (openGauss IVM): the
    // per-custkey order-count/revenue view maintained from a signed
    // delta (H1-1997 inserts + every-97th-key deletes) WITHOUT
    // re-scanning the base — delta aggregates first, then one
    // union-reaggregate with the view; gated against the full
    // recompute over the post-change base
    Gated("matview_inc", (s, dir) => {
      val cents = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
      val ord = Tables(s, dir, "orders")
      val base = ord.filter(col("o_orderdate") < "1997-01-01")
      val view = base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(expr(cents)).as("cents"))
      val inserts = ord.filter(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1997-07-01")
        .select(col("o_custkey"), expr(cents).as("cents"), lit(1).as("op"))
      val deletes = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_custkey"), expr(cents).as("cents"), lit(-1).as("op"))
      graft.operators.Matview.applyDelta(
          view, inserts.unionByName(deletes), Seq("o_custkey"),
          countCol = "n", sumCols = Seq("cents"), opCol = "op")
        .select(col("o_custkey"), col("n"), col("cents"),
          (col("cents").cast("double") / lit(100.0) / col("n"))
            .as("avg_price"))
        .transform(Gate.ordered(_, "o_custkey"))
    },
      // FULL RECOMPUTE over the post-change base — the delta-applied
      // view must equal it exactly (count/sum self-maintenance)
      Some("""WITH survivors AS (
        |  SELECT o_custkey, o_totalprice FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-07-01'
        |)
        |SELECT o_custkey, count(*)::BIGINT AS n,
        |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS DOUBLE)
        |    / 100.0 / count(*) AS avg_price
        |FROM survivors GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // insert-only IVM with min/max state (delete-freedom by
    // construction — min/max can't retract): H1-1997 inserts fold into
    // the pre-1997 view; equals the full recompute over both periods
    Gated("matview_minmax", (s, dir) => {
      val cents = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
      val ord = Tables(s, dir, "orders")
      val base = ord.filter(col("o_orderdate") < "1997-01-01")
      val view = base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(expr(cents)).as("cents"),
          min(expr(cents)).as("min_cents"), max(expr(cents)).as("max_cents"))
      val inserts = ord.filter(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1997-07-01")
        .select(col("o_custkey"), expr(cents).as("cents"),
          expr(cents).as("min_cents"), expr(cents).as("max_cents"))
      graft.operators.Matview.applyInserts(view, inserts, Seq("o_custkey"),
          countCol = "n", sumCols = Seq("cents"),
          minCols = Seq("min_cents"), maxCols = Seq("max_cents"))
        .transform(Gate.ordered(_, "o_custkey"))
    },
      Some("""SELECT o_custkey, count(*)::BIGINT AS n,
        |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents,
        |  min(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS min_cents,
        |  max(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS max_cents
        |FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // START WITH / CONNECT BY PRIOR (openGauss Oracle-compat
    // hierarchical SQL): the decimal-digit forest over customer keys
    // (parent = custkey div 10, roots = single-digit keys) expands
    // with LEVEL, CONNECT_BY_ROOT, SYS_CONNECT_BY_PATH and
    // CONNECT_BY_ISLEAF — level-synchronous frontier BFS, each round
    // joining the edge table against the frontier only
    Gated("connect_by", (s, dir) => {
      // single-digit keys are roots with a sentinel parent: custkey 0
      // would otherwise be its own parent (0 div 10 = 0), a self-loop
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), expr(
          "CASE WHEN c_custkey <= 9 THEN -1 ELSE c_custkey DIV 10 END")
          .as("c_parent"))
      graft.operators.Hierarchy.connectBy(cust, "c_custkey", "c_parent",
          startWith = col("c_custkey") <= 9)
        .transform(Gate.ordered(_, "id"))
    },
      // the recursive CTE mirrors the frontier expansion; is_leaf =
      // nothing in the RESULT attaches under the row (same anti
      // condition as the operator)
      Some("""WITH RECURSIVE h AS (
        |  SELECT c_custkey AS id, 1 AS level, c_custkey AS root_id,
        |         '/' || c_custkey AS path
        |  FROM customer WHERE c_custkey <= 9
        |  UNION ALL
        |  SELECT c.c_custkey, h.level + 1, h.root_id,
        |         h.path || '/' || c.c_custkey
        |  FROM customer c JOIN h ON c.c_custkey // 10 = h.id
        |  WHERE c.c_custkey > 9
        |)
        |SELECT h.id, h.level, h.root_id, h.path,
        |  NOT EXISTS (SELECT 1 FROM h h2
        |              WHERE h2.level > 1 AND h2.id // 10 = h.id) AS is_leaf
        |FROM h ORDER BY h.id""".stripMargin))
  )
}
