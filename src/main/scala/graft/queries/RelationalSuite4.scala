package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.operators.Ltree
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Round-11 relational surface: the remaining contrib modules a PG /
 * openGauss user reaches for — ltree hierarchical paths, intarray,
 * hstore-style kv maps, earthdistance geo, range types, and the
 * openGauss A-format (Oracle-compat) function pack.
 *
 * Each gate builds its inputs deterministically from the driver tables
 * so the DuckDB oracle can construct byte-identical inputs.
 */
object RelationalSuite4 {
  /** customer paths: top.r<region>.n<nation>.c<custkey> — a 4-level
    * taxonomy; nation/region are broadcast dims. */
  private def custPaths(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val nation = Tables(s, dir, "nation")
    cust.join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        concat(lit("top.r"), col("n_regionkey"), lit(".n"),
          col("c_nationkey"), lit(".c"), col("c_custkey")).as("path"))
  }

  private val custPathSql =
    """SELECT c_custkey,
      |  'top.r' || n_regionkey || '.n' || c_nationkey || '.c' || c_custkey AS path
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  // lqueries compiled once, shared verbatim with the oracle (RE2-safe:
  // no negation atom → no lookahead; (?i:) is RE2-supported)
  private val lq = "top.*{1}.n3|n7.*"
  private val lqRx = Ltree.lqueryRegex(lq)
  private val lqCi = "TOP@.*{3}"
  private val lqCiRx = Ltree.lqueryRegex(lqCi)
  private val lqPre = "top.*{1}.n1*.*"
  private val lqPreRx = Ltree.lqueryRegex(lqPre)

  /** One embedded Derby database per (JVM, sf dir) for the JDBC FDW
    * gate: Derby boots a directory once per JVM and holds a lock, so
    * repeated gate invocations (plan specs, verify reruns) must reuse
    * the same loaded copy, not wipe it mid-boot. */
  private[queries] object JdbcGateDb {
    private val cache = scala.collection.concurrent.TrieMap[String, String]()
    def url(s: SparkSession, dir: String): String = cache.getOrElseUpdate(dir, {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-jdbc-${ProcessHandle.current().pid()}-${cache.size}")
      root.mkdirs() // derby.log's parent must exist before Derby boots
      System.setProperty("derby.stream.error.file",
        new java.io.File(root, "derby.log").getPath)
      val u = s"jdbc:derby:${root.getPath}/db;create=true"
      graft.sources.JdbcSource.writeTable(
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal")),
        u, "CUST", Some("c_name VARCHAR(64)"))
      u
    })
  }

  /** The query table for trgm_search_many, shared with the oracle. */
  private val trgmQueries: Map[Long, String] = Map(
    1L -> "Customer#000000042", 2L -> "Customer#000000777",
    3L -> "Custmer#00000013")

  val gated: Seq[Gated] = Seq(
    // ---- ltree (contrib/ltree): per-row ops + lquery match ----
    Gated("ltree_ops", (s, dir) => {
      val p = custPaths(s, dir)
      p.select(col("c_custkey"), col("path"),
          Ltree.nlevel(col("path")).as("nlev"),
          Ltree.subpath(col("path"), 1, 2).as("sub12"),
          Ltree.subltree(col("path"), 0, 2).as("sl02"),
          Ltree.ltreeIndex(col("path"), lit("n3")).as("idx_n3"),
          Ltree.ltreeIndex(col("path"),
            concat(lit("n"), col("c_custkey") % 25, lit(".c"), col("c_custkey")))
            .as("idx_self"),
          Ltree.isAncestor(lit("top.r2"), col("path")).as("under_r2"),
          Ltree.lqueryMatch(col("path"), lq).as("m_lq"),
          Ltree.lqueryMatch(col("path"), lqCi).as("m_ci"),
          Ltree.lqueryMatch(col("path"), lqPre).as("m_pre"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some(s"""WITH p AS ($custPathSql)
         |SELECT c_custkey, path,
         |  len(string_split(path, '.'))::INTEGER AS nlev,
         |  array_to_string(string_split(path, '.')[2:3], '.') AS sub12,
         |  array_to_string(string_split(path, '.')[1:2], '.') AS sl02,
         |  CASE WHEN strpos('.' || path || '.', '.n3.') = 0 THEN -1
         |    ELSE len(string_split(substr('.' || path || '.', 1,
         |      strpos('.' || path || '.', '.n3.') - 1), '.')) - 1 END::INTEGER AS idx_n3,
         |  CASE WHEN strpos('.' || path || '.',
         |      '.n' || (c_custkey % 25) || '.c' || c_custkey || '.') = 0 THEN -1
         |    ELSE len(string_split(substr('.' || path || '.', 1,
         |      strpos('.' || path || '.',
         |        '.n' || (c_custkey % 25) || '.c' || c_custkey || '.') - 1), '.')) - 1
         |    END::INTEGER AS idx_self,
         |  (path = 'top.r2' OR starts_with(path, 'top.r2.')) AS under_r2,
         |  regexp_matches(path || '.', '$lqRx') AS m_lq,
         |  regexp_matches(path || '.', '$lqCiRx') AS m_ci,
         |  regexp_matches(path || '.', '$lqPreRx') AS m_pre
         |FROM p ORDER BY c_custkey""".stripMargin)),

    // ---- ltree: ancestor join (exploded-prefix equi-join, no LIKE
    // theta join) + group lca with the min/max label-prefix trick ----
    Gated("ltree_tree", (s, dir) => {
      val p = custPaths(s, dir)
      val nation = Tables(s, dir, "nation")
      val roots = broadcast(
        nation.filter(col("n_regionkey") < 2)
          .select(concat(lit("top.r"), col("n_regionkey"), lit(".n"),
            col("n_nationkey")).as("root")))
      val under = Ltree.ancestorJoin(p, "path", roots, "root")
        .groupBy(col("root")).agg(count(lit(1)).as("n_desc"))
      val lca = p
        .withColumn("nk", split(col("path"), "\\.").getItem(2))
        .groupBy(col("nk"))
        .agg(Ltree.lcaAgg(col("path")).as("lca"),
          count(lit(1)).as("n_paths"))
      under.join(lca, concat(lit("top.r"),
          expr("substring(lca, 6, 1)"), lit("."), col("nk")) === col("root"), "inner")
        .select(col("root"), col("n_desc"), col("lca"), col("n_paths"))
        .transform(Gate.ordered(_, "root"))
    },
      Some(s"""WITH p AS ($custPathSql),
         |roots AS (SELECT 'top.r' || n_regionkey || '.n' || n_nationkey AS root
         |  FROM nation WHERE n_regionkey < 2),
         |under AS (SELECT root, count(*)::BIGINT AS n_desc
         |  FROM p JOIN roots ON p.path = root OR starts_with(p.path, root || '.')
         |  GROUP BY root),
         |g AS (SELECT string_split(path, '.')[3] AS nk,
         |    string_split(min(path), '.') AS l1, string_split(max(path), '.') AS l2,
         |    min(len(string_split(path, '.'))) - 1 AS cap,
         |    count(*)::BIGINT AS n_paths
         |  FROM p GROUP BY 1),
         |lcas AS (SELECT nk, n_paths,
         |    array_to_string(l1[1:least(
         |      len(list_filter(range(1, least(len(l1), len(l2)) + 1),
         |        i -> l1[1:i] = l2[1:i])), cap)::INTEGER], '.') AS lca
         |  FROM g)
         |SELECT root, n_desc, lca, n_paths
         |FROM under JOIN lcas
         |  ON 'top.r' || substr(lca, 6, 1) || '.' || nk = root
         |ORDER BY root""".stripMargin)),

    // ---- intarray (contrib/intarray/_int_op.cpp, _int_tool.cpp):
    // sort/uniq/icount/idx/subarray/+/-/&/&&/@> over per-order int
    // sets; Spark array_* functions are the codegen'd equivalents.
    // array_except/array_intersect dedup (like intarray's set ops
    // after sort/uniq); results re-sorted for a stable text gate. ----
    Gated("intarray_ops", (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val probe = array(lit(7), lit(10), lit(13))
      def str(c: org.apache.spark.sql.Column) =
        array_join(c.cast("array<string>"), ",")
      li.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set((col("l_partkey") % 50).cast("int")))
          .as("a"))
        .select(col("l_orderkey"),
          str(col("a")).as("a_str"),
          size(col("a")).as("icount"),
          coalesce(array_position(col("a"), 10), lit(0)).as("idx10"),
          str(slice(col("a"), 2, 3)).as("sub23"),
          arrays_overlap(col("a"), probe).as("overlap"),
          forall(probe, x => array_contains(col("a"), x)).as("contains_probe"),
          str(array_sort(array_except(col("a"), probe))).as("diff_str"),
          str(array_sort(array_intersect(col("a"), probe))).as("inter_str"),
          str(concat(col("a"), probe)).as("cat_str"))
        .transform(Gate.ordered(_, "l_orderkey"))
    },
      Some("""WITH t AS (SELECT l_orderkey,
        |  list_sort(list_distinct(list((l_partkey % 50)::INTEGER))) AS a
        |FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  array_to_string(list_transform(a, x -> x::VARCHAR), ',') AS a_str,
        |  len(a)::INTEGER AS icount,
        |  coalesce(list_position(a, 10), 0)::BIGINT AS idx10,
        |  coalesce(array_to_string(list_transform(a[2:4], x -> x::VARCHAR), ','), '') AS sub23,
        |  list_has_any(a, [7,10,13]) AS overlap,
        |  list_has_all(a, [7,10,13]) AS contains_probe,
        |  coalesce(array_to_string(list_transform(list_sort(list_distinct(
        |    list_filter(a, x -> NOT list_contains([7,10,13], x)))),
        |    x -> x::VARCHAR), ','), '') AS diff_str,
        |  coalesce(array_to_string(list_transform(list_sort(list_distinct(
        |    list_filter(a, x -> list_contains([7,10,13], x)))),
        |    x -> x::VARCHAR), ','), '') AS inter_str,
        |  array_to_string(list_transform(list_concat(a, [7,10,13]),
        |    x -> x::VARCHAR), ',') AS cat_str
        |FROM t ORDER BY l_orderkey""".stripMargin)),

    // ---- hstore (contrib/hstore/hstore_op.cpp: fetchval `->`, exists
    // `?`, hs_concat `||` right-wins, delete, akeys). Maps built from
    // order columns; `||` is map_zip_with(coalesce(v2,v1)) — hstore's
    // right-operand-wins merge for non-NULL values. Known deviation:
    // hstore values may be explicit NULLs and `||` lets a right-side
    // NULL overwrite; map_zip_with cannot distinguish absent from
    // null-valued keys, so here a null right value falls back to the
    // left — callers carrying explicit-null semantics should encode a
    // sentinel. ----
    Gated("hstore_ops", (s, dir) => {
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val j = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      val h = map(lit("status"), col("o_orderstatus"),
        lit("prio"), col("o_orderpriority"),
        lit("seg"), col("c_mktsegment"))
      val over = when(col("o_custkey") % 2 === 0,
        map(lit("prio"), lit("0-LOW")))
        .otherwise(map(lit("extra"), col("o_orderstatus")))
      val merged = map_zip_with(h, over, (_, v1, v2) => coalesce(v2, v1))
      val deleted = map_filter(h, (k, _) => k =!= "status")
      j.select(col("o_orderkey"),
          element_at(h, "prio").as("v_prio"),
          map_contains_key(h, "seg").as("has_seg"),
          map_contains_key(h, "x").as("has_x"),
          element_at(merged, "prio").as("merged_prio"),
          array_join(array_sort(map_keys(merged)), ",").as("merged_keys"),
          size(deleted).as("del_n"),
          array_join(array_sort(map_keys(deleted)), ",").as("del_keys"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""SELECT o_orderkey,
        |  o_orderpriority AS v_prio,
        |  true AS has_seg,
        |  false AS has_x,
        |  CASE WHEN o_custkey % 2 = 0 THEN '0-LOW'
        |    ELSE o_orderpriority END AS merged_prio,
        |  CASE WHEN o_custkey % 2 = 0 THEN 'prio,seg,status'
        |    ELSE 'extra,prio,seg,status' END AS merged_keys,
        |  2::INTEGER AS del_n,
        |  'prio,seg' AS del_keys
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- openGauss A-format (Oracle-compat) function pack — ref:
    // src/common/backend/utils/adt/a_compat.cpp (lpad/rpad/translate/
    // ascii/chr/repeat/initcap), gram.y:28414 (NVL → CoalesceExpr),
    // timestamp.cpp (months_between/add_months/last_day semantics).
    // DECODE/NVL/NVL2 compile to when-chains exactly as the reference
    // parser rewrites them. months_between is emitted as
    // round(mb*31)::long — exactly 31·months + Δday under the
    // same-day/31-day-month rule, integer-exact in both engines. ----
    Gated("ora_compat", (s, dir) => {
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          coalesce(nullif(col("o_orderstatus"), lit("F")), lit("X"))
            .as("nvl_status"),
          when(nullif(col("o_orderstatus"), lit("F")).isNotNull, lit("open"))
            .otherwise(lit("closed")).as("nvl2_status"),
          when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other").as("decode_status"),
          instr(col("o_orderpriority"), "-").as("instr_dash"),
          lpad(col("o_custkey").cast("string"), 9, "0").as("lpad_cust"),
          rpad(col("o_orderstatus"), 3, ".").as("rpad_status"),
          translate(col("o_orderpriority"), "- ", "_.").as("tr_prio"),
          ascii(col("o_orderstatus")).as("ascii_status"),
          call_function("char", lit(65) + col("o_custkey") % 26).as("chr_cust"),
          call_function("repeat", col("o_orderstatus"),
            (col("o_custkey") % 3 + 1).cast("int")).as("rep_status"),
          initcap(lower(col("c_mktsegment"))).as("init_seg"),
          round(months_between(col("o_orderdate"),
            lit("1995-06-17").cast("timestamp")) * 31).cast("long").as("mb31"),
          add_months(col("o_orderdate"), 5).as("addm"),
          last_day(col("o_orderdate")).as("lastd"),
          trunc(col("o_orderdate"), "MM").as("trunc_mm"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN 'X' ELSE o_orderstatus END AS nvl_status,
        |  CASE WHEN o_orderstatus = 'F' THEN 'closed' ELSE 'open' END AS nvl2_status,
        |  CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
        |    ELSE 'other' END AS decode_status,
        |  strpos(o_orderpriority, '-')::INTEGER AS instr_dash,
        |  lpad(o_custkey::VARCHAR, 9, '0') AS lpad_cust,
        |  rpad(o_orderstatus, 3, '.') AS rpad_status,
        |  translate(o_orderpriority, '- ', '_.') AS tr_prio,
        |  ascii(o_orderstatus)::INTEGER AS ascii_status,
        |  chr((65 + o_custkey % 26)::INTEGER) AS chr_cust,
        |  repeat(o_orderstatus, (o_custkey % 3 + 1)::INTEGER) AS rep_status,
        |  upper(substr(lower(c_mktsegment), 1, 1)) ||
        |    substr(lower(c_mktsegment), 2) AS init_seg,
        |  (((year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 6)) * 31
        |    + (day(o_orderdate) - 17))::BIGINT AS mb31,
        |  (o_orderdate + INTERVAL 5 MONTH)::DATE AS addm,
        |  last_day(o_orderdate::DATE) AS lastd,
        |  date_trunc('month', o_orderdate)::DATE AS trunc_mm
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- earthdistance (contrib/earthdistance): haversine on the
    // earth() sphere; synthetic integer-degree coords from keys so
    // both engines build identical inputs; output rounded to whole
    // meters (trig ulp differences are ~1e-8 m — far below 0.5). ----
    Gated("geo_distance", (s, dir) => {
      val c = Tables(s, dir, "customer")
        .withColumn("c_lat", (col("c_custkey") * 37 % 121 - 60).cast("double"))
        .withColumn("c_lon", (col("c_custkey") * 53 % 360 - 180).cast("double"))
      c.select(col("c_custkey"),
          round(graft.operators.Geo.distanceMeters(
            col("c_lat"), col("c_lon"), lit(0.0), lit(0.0))).cast("long")
            .as("d_origin_m"),
          round(graft.operators.Geo.distanceMeters(
            col("c_lat"), col("c_lon"), lit(48.0), lit(2.0))).cast("long")
            .as("d_paris_m"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some(s"""WITH c AS (SELECT c_custkey,
         |  (c_custkey * 37 % 121 - 60)::DOUBLE AS c_lat,
         |  (c_custkey * 53 % 360 - 180)::DOUBLE AS c_lon
         |FROM customer)
         |SELECT c_custkey,
         |  round(2.0 * 6378168.0 * asin(least(1.0, sqrt(
         |    sin(radians(0.0 - c_lat) / 2.0) * sin(radians(0.0 - c_lat) / 2.0)
         |    + cos(radians(c_lat)) * cos(radians(0.0))
         |      * sin(radians(0.0 - c_lon) / 2.0)
         |      * sin(radians(0.0 - c_lon) / 2.0)))))::BIGINT AS d_origin_m,
         |  round(2.0 * 6378168.0 * asin(least(1.0, sqrt(
         |    sin(radians(48.0 - c_lat) / 2.0) * sin(radians(48.0 - c_lat) / 2.0)
         |    + cos(radians(c_lat)) * cos(radians(48.0))
         |      * sin(radians(2.0 - c_lon) / 2.0)
         |      * sin(radians(2.0 - c_lon) / 2.0)))))::BIGINT AS d_paris_m
         |FROM c ORDER BY c_custkey""".stripMargin)),

    // ---- earthdistance radius search at scale: grid-cell equi-join
    // (9-neighbor explode on the small side), exact haversine filter;
    // no theta join. ----
    Gated("geo_radius_join", (s, dir) => {
      val c = Tables(s, dir, "customer")
        .withColumn("c_lat", (col("c_custkey") * 37 % 121 - 60).cast("double"))
        .withColumn("c_lon", (col("c_custkey") * 53 % 360 - 180).cast("double"))
      val sup = Tables(s, dir, "supplier")
        .withColumn("s_lat", (col("s_suppkey") * 41 % 121 - 60).cast("double"))
        .withColumn("s_lon", (col("s_suppkey") * 59 % 360 - 180).cast("double"))
      graft.operators.Geo.radiusJoin(c, sup, "c_lat", "c_lon", "s_lat", "s_lon",
          radiusMeters = 2000000.0)
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_near"),
          round(min(col("dist_m")) / 1000).cast("long").as("min_km"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some(s"""WITH c AS (SELECT c_custkey,
         |  (c_custkey * 37 % 121 - 60)::DOUBLE AS c_lat,
         |  (c_custkey * 53 % 360 - 180)::DOUBLE AS c_lon
         |FROM customer),
         |s AS (SELECT s_suppkey,
         |  (s_suppkey * 41 % 121 - 60)::DOUBLE AS s_lat,
         |  (s_suppkey * 59 % 360 - 180)::DOUBLE AS s_lon
         |FROM supplier),
         |d AS (SELECT c_custkey,
         |  2.0 * 6378168.0 * asin(least(1.0, sqrt(
         |    sin(radians(s_lat - c_lat) / 2.0) * sin(radians(s_lat - c_lat) / 2.0)
         |    + cos(radians(c_lat)) * cos(radians(s_lat))
         |      * sin(radians(s_lon - c_lon) / 2.0)
         |      * sin(radians(s_lon - c_lon) / 2.0)))) AS dist
         |  FROM c JOIN s ON s_lat BETWEEN c_lat - 19.0 AND c_lat + 19.0)
         |SELECT c_custkey, count(*)::BIGINT AS n_near,
         |  round(min(dist) / 1000)::BIGINT AS min_km
         |FROM d WHERE dist <= 2000000.0
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // ---- range types (rangetypes.cpp): canonical [lo, hi) integer
    // ranges with empty-aware overlap/containment/adjacency/intersect,
    // all closed-form column arithmetic. ----
    Gated("range_ops", (s, dir) => {
      val o = Tables(s, dir, "orders")
        .withColumn("lo", (col("o_orderkey") % 97) * 3)
        .withColumn("hi", (col("o_orderkey") % 97) * 3 + col("o_orderkey") % 11)
      val x = col("o_custkey") % 300
      val (ilo, ihi) = graft.operators.Ranges.intersect(
        col("lo"), col("hi"), lit(120L), lit(150L))
      o.select(col("o_orderkey"), col("lo"), col("hi"),
          (col("lo") >= col("hi")).as("is_empty"),
          graft.operators.Ranges.containsElem(col("lo"), col("hi"), x)
            .as("contains_x"),
          graft.operators.Ranges.overlaps(col("lo"), col("hi"),
            lit(120L), lit(150L)).as("ovl_probe"),
          graft.operators.Ranges.containsRange(lit(120L), lit(150L),
            col("lo"), col("hi")).as("in_probe"),
          graft.operators.Ranges.adjacent(col("lo"), col("hi"),
            lit(150L), lit(200L)).as("adj_probe"),
          ilo.as("inter_lo"), ihi.as("inter_hi"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
        |  (o_orderkey % 97) * 3 AS lo,
        |  (o_orderkey % 97) * 3 + o_orderkey % 11 AS hi
        |FROM orders)
        |SELECT o_orderkey, lo, hi,
        |  (lo >= hi) AS is_empty,
        |  (lo <= o_custkey % 300 AND o_custkey % 300 < hi) AS contains_x,
        |  (greatest(lo, 120) < least(hi, 150)) AS ovl_probe,
        |  (lo >= hi OR (120 <= lo AND hi <= 150)) AS in_probe,
        |  (lo < hi AND (hi = 150 OR 200 = lo)) AS adj_probe,
        |  CASE WHEN greatest(lo, 120) < least(hi, 150)
        |    THEN greatest(lo, 120) ELSE 0 END AS inter_lo,
        |  CASE WHEN greatest(lo, 120) < least(hi, 150)
        |    THEN least(hi, 150) ELSE 0 END AS inter_hi
        |FROM o ORDER BY o_orderkey""".stripMargin)),

    // ---- contrib/seg (seg.cpp): CLOSED 1-D segments — strict/over
    // left-right, overlap, containment, union/intersection bounds,
    // size/center; all pure codegen column arithmetic. ----
    Gated("seg_ops", (s, dir) => {
      import graft.operators.Seg
      val o = Tables(s, dir, "orders")
        .withColumn("a_lo", (col("o_orderkey") % 89).cast("double"))
        .withColumn("a_hi",
          (col("o_orderkey") % 89 + col("o_custkey") % 13).cast("double"))
        .withColumn("b_lo", (col("o_custkey") % 70).cast("double"))
        .withColumn("b_hi",
          (col("o_custkey") % 70 + col("o_orderkey") % 7).cast("double"))
      val (uLo, uHi) = Seg.union(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"))
      val (iLo, iHi) = Seg.inter(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"))
      o.select(col("o_orderkey"), col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"),
          Seg.left(col("a_hi"), col("b_lo")).as("s_left"),
          Seg.right(col("a_lo"), col("b_hi")).as("s_right"),
          Seg.overLeft(col("a_hi"), col("b_hi")).as("s_overleft"),
          Seg.overRight(col("a_lo"), col("b_lo")).as("s_overright"),
          Seg.overlaps(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi")).as("s_overlap"),
          Seg.contains(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi")).as("s_contains"),
          Seg.same(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi")).as("s_same"),
          uLo.as("u_lo"), uHi.as("u_hi"), iLo.as("i_lo"), iHi.as("i_hi"),
          Seg.size(col("a_lo"), col("a_hi")).as("a_size"),
          Seg.center(col("a_lo"), col("a_hi")).as("a_center"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""WITH o AS (SELECT o_orderkey,
        |  CAST(o_orderkey % 89 AS DOUBLE) AS a_lo,
        |  CAST(o_orderkey % 89 + o_custkey % 13 AS DOUBLE) AS a_hi,
        |  CAST(o_custkey % 70 AS DOUBLE) AS b_lo,
        |  CAST(o_custkey % 70 + o_orderkey % 7 AS DOUBLE) AS b_hi
        |FROM orders)
        |SELECT o_orderkey, a_lo, a_hi, b_lo, b_hi,
        |  a_hi < b_lo AS s_left,
        |  a_lo > b_hi AS s_right,
        |  a_hi <= b_hi AS s_overleft,
        |  a_lo >= b_lo AS s_overright,
        |  (a_lo <= b_hi AND b_lo <= a_hi) AS s_overlap,
        |  (a_lo <= b_lo AND a_hi >= b_hi) AS s_contains,
        |  (a_lo = b_lo AND a_hi = b_hi) AS s_same,
        |  least(a_lo, b_lo) AS u_lo, greatest(a_hi, b_hi) AS u_hi,
        |  greatest(a_lo, b_lo) AS i_lo, least(a_hi, b_hi) AS i_hi,
        |  a_hi - a_lo AS a_size,
        |  (a_lo + a_hi) / 2e0 AS a_center
        |FROM o ORDER BY o_orderkey""".stripMargin)),

    // ---- interval-overlap JOIN at scale: bucket tiling + equi-join
    // on (custkey, bucket), each pair counted once in the bucket of
    // its overlap start. ----
    Gated("range_overlap_join", (s, dir) => {
      val base = Tables(s, dir, "orders")
        .withColumn("lo", datediff(col("o_orderdate"),
          lit("1995-01-01").cast("timestamp")).cast("long"))
        .withColumn("hi", col("lo") + col("o_orderkey") % 60 + 1)
      val l = base.select(col("o_orderkey").as("ok1"),
        col("o_custkey").as("ck1"), col("lo").as("lo1"), col("hi").as("hi1"))
      val r = base.select(col("o_orderkey").as("ok2"),
        col("o_custkey").as("ck2"), col("lo").as("lo2"), col("hi").as("hi2"))
      graft.operators.Ranges.overlapJoin(l, r, "ck1", "ck2",
          "lo1", "hi1", "lo2", "hi2", bucketWidth = 64L)
        .filter(col("ok1") < col("ok2"))
        .groupBy(col("ck1"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("hi1"), col("hi2")) -
            greatest(col("lo1"), col("lo2"))).as("overlap_days"))
        .withColumnRenamed("ck1", "custkey")
        .transform(Gate.ordered(_, "custkey"))
    },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
        |  date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT AS lo,
        |  date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT
        |    + o_orderkey % 60 + 1 AS hi
        |FROM orders)
        |SELECT a.o_custkey AS custkey, count(*)::BIGINT AS n_pairs,
        |  sum(least(a.hi, b.hi) - greatest(a.lo, b.lo))::HUGEINT::BIGINT
        |    AS overlap_days
        |FROM o a JOIN o b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |  AND greatest(a.lo, b.lo) < least(a.hi, b.hi)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- pg_trgm GIN-shaped single-query `%` search: query trigrams
    // ride as a literal, one map-only scan with the count lower bound
    // before the exact similarity filter (no join, no explode). ----
    Gated("trgm_search", (s, dir) =>
      graft.operators.Trgm.search(Tables(s, dir, "customer"),
          "c_custkey", "c_name", "Customer#000000042", tau = 0.72)
        .select(col("c_custkey"), col("sim"))
        .transform(Gate.ordered(_, "c_custkey")),
      Some({
        val qg = graft.operators.Trgm.queryGrams("Customer#000000042")
        val ql = qg.map(g => s"'${g}'").mkString("[", ",", "]")
        s"""WITH t AS (SELECT c_custkey,
         |  list_distinct(flatten(list_transform(
         |    list_filter(string_split_regex(lower(c_name), '[^a-z0-9]+'),
         |      w -> w <> ''),
         |    w -> list_transform(range(1, length(w) + 2),
         |      i -> substr('  ' || w || ' ', i::INTEGER, 3))))) AS tg
         |FROM customer),
         |s AS (SELECT c_custkey,
         |  len(list_intersect(tg, $ql))::DOUBLE AS sh,
         |  len(tg) AS n FROM t)
         |SELECT c_custkey,
         |  round(sh / ((n + ${qg.size})::DOUBLE - sh), 6) AS sim
         |FROM s WHERE round(sh / ((n + ${qg.size})::DOUBLE - sh), 6) >= 0.72
         |ORDER BY c_custkey""".stripMargin
      })),

    // ---- value-RANGE window frames (openGauss window_clause RANGE
    // BETWEEN n PRECEDING): 30-day running revenue per customer — the
    // frame is value-based on the day offset, not row-based. ----
    Gated("window_range_frame", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("days"))
        .rangeBetween(-30, org.apache.spark.sql.expressions.Window.currentRow)
      Tables(s, dir, "orders")
        .withColumn("days", datediff(col("o_orderdate"),
          lit("1995-01-01").cast("timestamp")).cast("long"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .select(col("o_orderkey"), col("o_custkey"), col("days"),
          sum(col("cents")).over(w).as("run30_cents"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
        |  date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT AS days,
        |  round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT o_orderkey, o_custkey, days,
        |  (sum(cents) OVER (PARTITION BY o_custkey ORDER BY days
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW))::BIGINT AS run30_cents
        |FROM o ORDER BY o_orderkey""".stripMargin)),

    // ---- ltxtquery `@`: boolean word search over path labels ----
    Gated("ltree_txtquery", (s, dir) => {
      val p = custPaths(s, dir)
      p.select(col("c_custkey"),
          graft.operators.Ltree.ltxtMatch(col("path"), "r1 & !n13").as("q1"),
          graft.operators.Ltree.ltxtMatch(col("path"), "n3 | n7").as("q2"),
          graft.operators.Ltree.ltxtMatch(col("path"), "(n2 | n4) & !r3").as("q3"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some(s"""WITH p AS ($custPathSql),
         |l AS (SELECT c_custkey, string_split(path, '.') AS ls FROM p)
         |SELECT c_custkey,
         |  (list_contains(ls, 'r1') AND NOT list_contains(ls, 'n13')) AS q1,
         |  (list_contains(ls, 'n3') OR list_contains(ls, 'n7')) AS q2,
         |  ((list_contains(ls, 'n2') OR list_contains(ls, 'n4'))
         |    AND NOT list_contains(ls, 'r3')) AS q3
         |FROM l ORDER BY c_custkey""".stripMargin)),

    // ---- pg_trgm query-TABLE search: postings equi-join against the
    // broadcast query grams; similarity straight from counts. ----
    Gated("trgm_search_many", (s, dir) => {
      import s.implicits._
      val qs = trgmQueries.toSeq.toDF("qid", "qtext")
      graft.operators.Trgm.searchMany(Tables(s, dir, "customer"),
          "c_custkey", "c_name", broadcast(qs), "qid", "qtext", tau = 0.72)
        .select(col("qid"), col("c_custkey"), col("sim"))
        .transform(Gate.ordered(_, "qid", "c_custkey"))
    },
      Some({
        val qvals = trgmQueries.toSeq.sortBy(_._1).map { case (qid, qt) =>
          val qg = graft.operators.Trgm.queryGrams(qt)
          val ql = qg.map(g => s"'$g'").mkString("[", ",", "]")
          s"($qid, $ql, ${qg.size})"
        }.mkString(", ")
        s"""WITH t AS (SELECT c_custkey,
         |  list_distinct(flatten(list_transform(
         |    list_filter(string_split_regex(lower(c_name), '[^a-z0-9]+'),
         |      w -> w <> ''),
         |    w -> list_transform(range(1, length(w) + 2),
         |      i -> substr('  ' || w || ' ', i::INTEGER, 3))))) AS tg
         |FROM customer),
         |q(qid, ql, nq) AS (VALUES $qvals),
         |s AS (SELECT qid, c_custkey,
         |  len(list_intersect(tg, ql))::DOUBLE AS sh,
         |  len(tg) AS n, nq FROM t CROSS JOIN q)
         |SELECT qid::BIGINT AS qid, c_custkey,
         |  round(sh / ((n + nq)::DOUBLE - sh), 6) AS sim
         |FROM s WHERE round(sh / ((n + nq)::DOUBLE - sh), 6) >= 0.72
         |ORDER BY qid, c_custkey""".stripMargin
      })),

    // ---- intarray query_int `@@` (_int_bool.cpp): boolean membership
    // query over per-order int sets, compiled to array_contains ----
    Gated("intarray_query", (s, dir) => {
      val a = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set((col("l_partkey") % 50).cast("int")))
          .as("a"))
      a.select(col("l_orderkey"),
          graft.operators.IntArrays.queryIntMatch(col("a"), "7 & (10 | 13)")
            .as("q1"),
          graft.operators.IntArrays.queryIntMatch(col("a"), "!3 & 21").as("q2"),
          graft.operators.IntArrays.queryIntMatch(col("a"), "5 | 9 | 44").as("q3"))
        .transform(Gate.ordered(_, "l_orderkey"))
    },
      Some("""WITH t AS (SELECT l_orderkey,
        |  list_sort(list_distinct(list((l_partkey % 50)::INTEGER))) AS a
        |FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  (list_contains(a, 7) AND (list_contains(a, 10) OR list_contains(a, 13)))
        |    AS q1,
        |  (NOT list_contains(a, 3) AND list_contains(a, 21)) AS q2,
        |  (list_contains(a, 5) OR list_contains(a, 9) OR list_contains(a, 44))
        |    AS q3
        |FROM t ORDER BY l_orderkey""".stripMargin)),

    // ---- contrib/cube n-dim boxes: contains/overlap/union/inter
    // (inverted-when-disjoint, like cube_inter) + gap distance ----
    Gated("cube_ops", (s, dir) => {
      val B = graft.operators.Boxes
      val o = Tables(s, dir, "orders")
        .withColumn("ll", array((col("o_orderkey") % 50).cast("double"),
          (col("o_custkey") % 40).cast("double"),
          (col("o_orderkey") % 30).cast("double")))
        .withColumn("ur", array((col("o_orderkey") % 50 + col("o_orderkey") % 7 + 1).cast("double"),
          (col("o_custkey") % 40 + col("o_custkey") % 5 + 1).cast("double"),
          (col("o_orderkey") % 30 + 2).cast("double")))
      val pll = array(lit(20.0), lit(10.0), lit(5.0))
      val pur = array(lit(35.0), lit(25.0), lit(20.0))
      def str(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("long").cast("string")), ",")
      val (ull, uur) = B.union(col("ll"), col("ur"), pll, pur)
      val (ill, iur) = B.inter(col("ll"), col("ur"), pll, pur)
      o.select(col("o_orderkey"),
          B.contains(pll, pur, col("ll"), col("ur")).as("in_probe"),
          B.contains(col("ll"), col("ur"), pll, pur).as("has_probe"),
          B.overlaps(col("ll"), col("ur"), pll, pur).as("ovl_probe"),
          str(ull).as("u_ll"), str(uur).as("u_ur"),
          str(ill).as("i_ll"), str(iur).as("i_ur"),
          B.distance2(col("ll"), col("ur"), pll, pur).cast("long").as("dist2"),
          round(B.distance(col("ll"), col("ur"), pll, pur), 6).as("dist"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""WITH o AS (SELECT o_orderkey,
        |  (o_orderkey % 50)::DOUBLE AS x1, (o_custkey % 40)::DOUBLE AS y1,
        |  (o_orderkey % 30)::DOUBLE AS z1,
        |  (o_orderkey % 50 + o_orderkey % 7 + 1)::DOUBLE AS x2,
        |  (o_custkey % 40 + o_custkey % 5 + 1)::DOUBLE AS y2,
        |  (o_orderkey % 30 + 2)::DOUBLE AS z2
        |FROM orders),
        |g AS (SELECT *,
        |  greatest(20.0 - x2, x1 - 35.0, 0.0) AS gx,
        |  greatest(10.0 - y2, y1 - 25.0, 0.0) AS gy,
        |  greatest(5.0 - z2, z1 - 20.0, 0.0) AS gz
        |FROM o)
        |SELECT o_orderkey,
        |  (20.0 <= x1 AND x2 <= 35.0 AND 10.0 <= y1 AND y2 <= 25.0
        |    AND 5.0 <= z1 AND z2 <= 20.0) AS in_probe,
        |  (x1 <= 20.0 AND 35.0 <= x2 AND y1 <= 10.0 AND 25.0 <= y2
        |    AND z1 <= 5.0 AND 20.0 <= z2) AS has_probe,
        |  (greatest(x1, 20.0) <= least(x2, 35.0)
        |    AND greatest(y1, 10.0) <= least(y2, 25.0)
        |    AND greatest(z1, 5.0) <= least(z2, 20.0)) AS ovl_probe,
        |  least(x1, 20.0)::BIGINT || ',' || least(y1, 10.0)::BIGINT || ','
        |    || least(z1, 5.0)::BIGINT AS u_ll,
        |  greatest(x2, 35.0)::BIGINT || ',' || greatest(y2, 25.0)::BIGINT || ','
        |    || greatest(z2, 20.0)::BIGINT AS u_ur,
        |  greatest(x1, 20.0)::BIGINT || ',' || greatest(y1, 10.0)::BIGINT || ','
        |    || greatest(z1, 5.0)::BIGINT AS i_ll,
        |  least(x2, 35.0)::BIGINT || ',' || least(y2, 25.0)::BIGINT || ','
        |    || least(z2, 20.0)::BIGINT AS i_ur,
        |  (gx * gx + gy * gy + gz * gz)::BIGINT AS dist2,
        |  round(sqrt(gx * gx + gy * gy + gz * gz), 6) AS dist
        |FROM g ORDER BY o_orderkey""".stripMargin)),

    // ---- citext (contrib/citext): case-insensitive equality is
    // equality of the case-folded value — grouping/distinct collapse
    // case variants ----
    Gated("citext_ops", (s, dir) => {
      val mixed = when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
        .otherwise(col("c_mktsegment"))
      Tables(s, dir, "customer")
        .withColumn("seg_mixed", mixed)
        .groupBy(lower(col("seg_mixed")).as("seg_ci"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("seg_mixed")).as("n_case_variants"),
          sum(when(col("seg_mixed") === lower(col("seg_mixed")), 1)
            .otherwise(0)).as("n_lower"))
        .transform(Gate.ordered(_, "seg_ci"))
    },
      Some("""WITH m AS (SELECT CASE WHEN c_custkey % 2 = 0
        |    THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg_mixed
        |FROM customer)
        |SELECT lower(seg_mixed) AS seg_ci, count(*)::BIGINT AS n,
        |  count(DISTINCT seg_mixed)::BIGINT AS n_case_variants,
        |  sum(CASE WHEN seg_mixed = lower(seg_mixed) THEN 1 ELSE 0 END)::BIGINT
        |    AS n_lower
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Hilbert-curve clustered layout (C25's Morton sibling):
    // consecutive indices are always grid-adjacent, so every bucket/
    // file covers one CONNECTED (x,y) region — tighter min/max stats
    // than Morton's quadrant-seam jumps ----
    Gated("hilbert_layout", (s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("x", (col("user_id") % 256).cast("long"))
        .withColumn("y", expr("CAST(floor(value) AS BIGINT) % 256"))
      e.withColumn("hval",
          graft.operators.Layout.hilbertValue(col("x"), col("y"), 8))
        .withColumn("bucket", shiftright(col("hval") * 16, 16).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("hval")).as("h_min"), max(col("hval")).as("h_max"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .transform(Gate.ordered(_, "bucket"))
    },
      Some({
        val chain = graft.operators.Layout
          .hilbertSql(8, "base", "event_id, xo, yo").trim.stripSuffix(",")
        s"""WITH base AS (SELECT event_id,
         |  (user_id % 256)::BIGINT AS xo, (CAST(floor(value) AS BIGINT) % 256) AS yo,
         |  (user_id % 256)::BIGINT AS x0, (CAST(floor(value) AS BIGINT) % 256) AS y0
         |FROM events),
         |$chain
         |SELECT ((d8 * 16) >> 16)::INTEGER AS bucket, count(*)::BIGINT AS n,
         |  min(d8) AS h_min, max(d8) AS h_max,
         |  min(xo) AS x_min, max(xo) AS x_max,
         |  min(yo) AS y_min, max(yo) AS y_max
         |FROM h8 GROUP BY 1 ORDER BY 1""".stripMargin
      })),

    // ---- A-format TO_CHAR/TO_NUMBER format masks (openGauss
    // formatting.cpp): zero-padded numeric mask on an exact DECIMAL
    // (cents-derived, so no double-formatting ties), date masks,
    // and the to_number inverse ----
    Gated("ora_to_char", (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("to_char(CAST(round(o_totalprice * 100) / 100.0 AS DECIMAL(12,2)), '000000000.00')")
            .as("price_mask"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_str"),
          date_format(col("o_orderdate"), "yyyy/MM").as("month_str"),
          expr("to_number(lpad(CAST(o_custkey AS STRING), 9, '0'), '000000000')")
            .cast("long").as("parsed_cust"))
        .transform(Gate.ordered(_, "o_orderkey")),
      Some("""WITH c AS (SELECT o_orderkey, o_orderdate, o_custkey,
        |  round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT o_orderkey,
        |  lpad((cents // 100)::VARCHAR, 9, '0') || '.'
        |    || lpad((cents % 100)::VARCHAR, 2, '0') AS price_mask,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_str,
        |  strftime(o_orderdate, '%Y/%m') AS month_str,
        |  o_custkey AS parsed_cust
        |FROM c ORDER BY o_orderkey""".stripMargin)),

    // ---- contrib/isn: EAN-13 check-digit math (isn.cpp weight-1/3
    // checksum) — mint codes from keys, validate a perturbed code.
    // The checksum is UNROLLED over the 12 literal positions: the
    // original transform/aggregate HOF formulation is CodegenFallback
    // (interpreted per row — 2.3 s at sf0.1 vs 0.4 s unrolled) ----
    Gated("isn_ean13", (s, dir) => {
      def checkDigit(s12: org.apache.spark.sql.Column) = {
        val sum = (1 to 12).map { i =>
          (ascii(substring(s12, i, 1)) - 48) * lit(if (i % 2 == 1) 1 else 3)
        }.reduce(_ + _)
        (lit(10) - pmod(sum, lit(10))) % 10
      }
      val base = lpad(col("c_custkey").cast("string"), 12, "0")
      val cd = checkDigit(base)
      val ean = concat(base, cd)
      // perturbed code: bump the last payload digit by 1 (mod 10) and
      // keep the ORIGINAL check digit — valid iff the bump cancels,
      // which it never does under weight 3
      val bumped = concat(substring(base, 1, 11),
        pmod(ascii(substring(base, 12, 1)) - 48 + 1, lit(10)), cd)
      val bumpedValid = checkDigit(substring(bumped, 1, 12)) ===
        (ascii(substring(bumped, 13, 1)) - 48)
      Tables(s, dir, "customer")
        .select(col("c_custkey"), ean.as("ean13"), cd.as("check_digit"),
          bumpedValid.as("perturbed_valid"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some("""WITH b AS (SELECT c_custkey, lpad(c_custkey::VARCHAR, 12, '0') AS s
        |FROM customer),
        |c AS (SELECT c_custkey, s,
        |  ((10 - (list_sum(list_transform(range(1, 13),
        |      i -> (ascii(substr(s, i::INTEGER, 1)) - 48)
        |        * CASE WHEN i % 2 = 1 THEN 1 ELSE 3 END)) % 10)) % 10)::INTEGER
        |    AS cd
        |FROM b)
        |SELECT c_custkey, s || cd AS ean13, cd AS check_digit,
        |  false AS perturbed_valid
        |FROM c ORDER BY c_custkey""".stripMargin)),

    // ---- contrib/isn product family (r14): ISBN-10 / ISSN / UPC
    // check-digit mint + validate, conversions onto the EAN-13
    // backbone (isn.h: short types store as their EAN expansion), and
    // range-table hyphenation. Payloads are REVERSED key digits so the
    // leading digit varies — exercising every embedded publisher-range
    // branch, the unhyphenated fall-through, and the mod-11 'X' check
    // chars. A perturbed ISBN is always invalid (weights 2..10 are
    // units mod 11 — a single-digit bump never cancels) ----
    Gated("isn_family", (s, dir) => {
      import graft.functions.{Isn => I}
      // STAGED projections: the minted codes materialize once per
      // stage and later stages reference the attribute — inlining
      // everything into one select duplicates the check-digit trees
      // ~10× and the gate fell out of reasonable codegen (24 s at
      // sf0.1 → 0.7 s staged)
      val base = Tables(s, dir, "customer").select(col("c_custkey"),
        reverse(lpad(col("c_custkey").cast("string"), 9, "0")).as("p9"),
        reverse(lpad(col("c_custkey").cast("string"), 7, "0")).as("p7"),
        reverse(lpad(col("c_custkey").cast("string"), 11, "0")).as("p11"))
      val minted = base
        .withColumn("isbn10", I.isbn10(col("p9")))
        .withColumn("isbn13", I.isbn10ToEan13(col("isbn10")))
        .withColumn("issn8", concat(col("p7"), I.issnCheckChar(col("p7"))))
        .withColumn("upc", I.upc(col("p11")))
        .withColumn("ismn10", I.ismn10(substring(col("p9"), 1, 8)))
        // the hyphenations read their publisher length four times each;
        // inlined, the range trees push the final projection past the
        // 64 KB method limit and the stage falls out of codegen
        .withColumn("isbn13_pub", I.isbn13PublisherLen(col("isbn13")))
        .withColumn("isbn10_pub", I.isbn10PublisherLen(col("isbn10")))
      val bumped9 = concat(substring(col("p9"), 1, 8),
        pmod(ascii(substring(col("p9"), 9, 1)) - 48 + 1, lit(10)))
      minted.select(col("c_custkey"),
          col("isbn10"), col("isbn13"),
          I.hyphenateIsbn13(col("isbn13"), col("isbn13_pub")).as("isbn13_hyph"),
          I.hyphenateIsbn10(col("isbn10"), col("isbn10_pub")).as("isbn10_hyph"),
          I.isbn10Valid(col("isbn10")).as("isbn_valid"),
          (I.ean13ToIsbn10(col("isbn13")) === col("isbn10")).as("isbn_rt_ok"),
          I.isbn10Valid(concat(bumped9, substring(col("isbn10"), 10, 1)))
            .as("isbn_perturbed_valid"),
          I.issn(col("p7")).as("issn"),
          I.issnValid(col("issn8")).as("issn_valid"),
          I.issnToEan13(col("issn8")).as("issn_ean13"),
          col("upc"),
          I.upcValid(col("upc")).as("upc_valid"),
          I.ean13Valid(I.upcToEan13(col("upc"))).as("upc_ean_valid"),
          col("ismn10"),
          I.ismn10ToEan13(col("ismn10")).as("ismn13"),
          I.ismn10Valid(col("ismn10")).as("ismn_valid"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      // the validity booleans are mint→validate constants (the check-
      // digit LAWS make them so — same precedent as isn_ean13's
      // perturbed_valid); the minted/hyphenated strings are recomputed
      Some("""WITH b AS (SELECT c_custkey,
        |  reverse(lpad(c_custkey::VARCHAR, 9, '0')) AS p9,
        |  reverse(lpad(c_custkey::VARCHAR, 7, '0')) AS p7,
        |  reverse(lpad(c_custkey::VARCHAR, 11, '0')) AS p11
        |FROM customer),
        |c AS (SELECT *,
        |  (11 - (list_sum(list_transform(range(1, 10),
        |     i -> (ascii(substr(p9, i::INTEGER, 1)) - 48) * (11 - i))) % 11)) % 11
        |    AS ckb,
        |  (11 - (list_sum(list_transform(range(1, 8),
        |     i -> (ascii(substr(p7, i::INTEGER, 1)) - 48) * (9 - i))) % 11)) % 11
        |    AS cks,
        |  (10 - (list_sum(list_transform(range(1, 12),
        |     i -> (ascii(substr(p11, i::INTEGER, 1)) - 48)
        |       * (CASE WHEN i % 2 = 1 THEN 3 ELSE 1 END))) % 10)) % 10 AS cku
        |FROM b),
        |d AS (SELECT *,
        |  p9 || (CASE WHEN ckb = 10 THEN 'X' ELSE ckb::VARCHAR END) AS isbn10,
        |  '978' || p9 ||
        |    ((10 - (list_sum(list_transform(range(1, 13),
        |       i -> (ascii(substr('978' || p9, i::INTEGER, 1)) - 48)
        |         * (CASE WHEN i % 2 = 1 THEN 1 ELSE 3 END))) % 10)) % 10)::VARCHAR
        |    AS isbn13,
        |  substr(p7, 1, 4) || '-' || substr(p7, 5, 3) ||
        |    (CASE WHEN cks = 10 THEN 'X' ELSE cks::VARCHAR END) AS issn,
        |  '977' || p7 || '00' ||
        |    ((10 - (list_sum(list_transform(range(1, 13),
        |       i -> (ascii(substr('977' || p7 || '00', i::INTEGER, 1)) - 48)
        |         * (CASE WHEN i % 2 = 1 THEN 1 ELSE 3 END))) % 10)) % 10)::VARCHAR
        |    AS issn_ean13,
        |  p11 || cku::VARCHAR AS upc
        |FROM c),
        |h AS (SELECT *, substr(isbn13, 4, 1) AS grp, substr(isbn13, 5, 8) AS rest,
        |  CASE WHEN substr(isbn13, 4, 1) = '0' THEN
        |    CASE WHEN substr(isbn13, 5, 2) BETWEEN '00' AND '19' THEN 2
        |         WHEN substr(isbn13, 5, 3) BETWEEN '200' AND '699' THEN 3
        |         WHEN substr(isbn13, 5, 4) BETWEEN '7000' AND '8499' THEN 4
        |         WHEN substr(isbn13, 5, 5) BETWEEN '85000' AND '89999' THEN 5
        |         WHEN substr(isbn13, 5, 6) BETWEEN '900000' AND '949999' THEN 6
        |         WHEN substr(isbn13, 5, 7) BETWEEN '9500000' AND '9999999' THEN 7
        |         ELSE 0 END
        |  WHEN substr(isbn13, 4, 1) = '1' THEN
        |    CASE WHEN substr(isbn13, 5, 2) BETWEEN '00' AND '09' THEN 2
        |         WHEN substr(isbn13, 5, 3) BETWEEN '100' AND '399' THEN 3
        |         WHEN substr(isbn13, 5, 4) BETWEEN '4000' AND '5499' THEN 4
        |         WHEN substr(isbn13, 5, 5) BETWEEN '55000' AND '86979' THEN 5
        |         WHEN substr(isbn13, 5, 6) BETWEEN '869800' AND '998999' THEN 6
        |         WHEN substr(isbn13, 5, 7) BETWEEN '9990000' AND '9999999' THEN 7
        |         ELSE 0 END
        |  ELSE 0 END AS publen
        |FROM d)
        |SELECT c_custkey, isbn10, isbn13,
        |  CASE WHEN publen > 0 THEN substr(isbn13, 1, 3) || '-' || grp || '-'
        |    || substr(rest, 1, publen) || '-' || substr(rest, publen + 1, 8 - publen)
        |    || '-' || substr(isbn13, 13, 1) ELSE isbn13 END AS isbn13_hyph,
        |  CASE WHEN publen > 0 THEN grp || '-'
        |    || substr(rest, 1, publen) || '-' || substr(rest, publen + 1, 8 - publen)
        |    || '-' || substr(isbn10, 10, 1) ELSE isbn10 END AS isbn10_hyph,
        |  true AS isbn_valid, true AS isbn_rt_ok,
        |  false AS isbn_perturbed_valid,
        |  issn, true AS issn_valid, issn_ean13,
        |  upc, true AS upc_valid, true AS upc_ean_valid,
        |  'M' || substr(p9, 1, 8) ||
        |    ((10 - (list_sum(list_transform(range(1, 13),
        |       i -> (ascii(substr('9790' || substr(p9, 1, 8), i::INTEGER, 1)) - 48)
        |         * (CASE WHEN i % 2 = 1 THEN 1 ELSE 3 END))) % 10)) % 10)::VARCHAR
        |    AS ismn10,
        |  '9790' || substr(p9, 1, 8) ||
        |    ((10 - (list_sum(list_transform(range(1, 13),
        |       i -> (ascii(substr('9790' || substr(p9, 1, 8), i::INTEGER, 1)) - 48)
        |         * (CASE WHEN i % 2 = 1 THEN 1 ELSE 3 END))) % 10)) % 10)::VARCHAR
        |    AS ismn13,
        |  true AS ismn_valid
        |FROM h ORDER BY c_custkey""".stripMargin)),

    // ---- federated JDBC external table (r14): contrib/postgres_fdw /
    // dblink re-expressed on Spark's JDBC source. The gate round-trips
    // customers through an in-process Derby database, reads them back
    // as a PARTITIONED remote scan (8 range-bounded connections — the
    // 1000-executor shape), probes with a pushed predicate (WHERE
    // deparses to the remote engine — plan-asserted in
    // JdbcSourceSpec), and joins the federated rows against a local
    // parquet dim. The oracle recomputes straight over parquet: the
    // Derby hop must be lossless ----
    Gated("jdbc_fdw", (s, dir) => {
      val url = JdbcGateDb.url(s, dir)
      val remote = graft.sources.JdbcSource.readPartitioned(
        s, url, "CUST", "c_custkey", 1L, 200000L, 8)
      val nat = Tables(s, dir, "nation")
      remote.filter(col("c_acctbal") > 1000)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_rich"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .transform(Gate.ordered(_, "n_name"))
    },
      Some("""SELECT n_name,
        |  count(*) AS n_rich,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 1000
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- SQL-name parity, wave 2 (r16): the whole statement is
    // spark.sql TEXT over the registered jsonb/hstore/intarray names —
    // the contribs' own SQL spelling — resolving through the
    // FunctionRegistry to the SAME kernels the Column gates run
    // (jsonb_ops/hstore_ops/intarray_ops); the oracle recomputes every
    // column with those gates' established closed forms ----
    Gated("sql_contrib", (s, dir) => {
      graft.GraftExtensions.install(s)
      Tables(s, dir, "orders").createOrReplaceTempView("orders_sqlcontrib")
      s.sql(
        """WITH d AS (SELECT o_orderkey,
          |    concat('{"o":', o_orderkey, ',"tags":["p',
          |           o_orderkey % 3, '","x"]}') AS doc,
          |    map('status', o_orderstatus, 'prio', o_orderpriority) AS h,
          |    array(CAST(o_orderkey % 50 AS INT),
          |          CAST(o_orderkey % 7 AS INT),
          |          CAST(o_orderkey % 7 AS INT)) AS ia
          |  FROM orders_sqlcontrib WHERE o_orderkey % 10 = 0)
          |SELECT o_orderkey,
          |  CAST(get_json_object(jsonb_concat(doc, '{"z":1}'), '$.z')
          |       AS BIGINT) AS z,
          |  jsonb_exists(doc, 'tags') AS has_tags,
          |  CAST(get_json_object(
          |         jsonb_set(doc, '{o}', CAST(o_orderkey * 2 AS STRING)),
          |         '$.o') AS BIGINT) AS o2,
          |  jsonb_path_exists(doc, '$.tags[1]') AS has_t1,
          |  jsonb_path_query_first(doc, '$.tags[0]') AS t0,
          |  array_join(akeys(h), ',') AS hk,
          |  element_at(hs_concat(h, map('prio', '0-LOW')), 'prio') AS hp,
          |  icount(ia) AS n_ia,
          |  idx(ia, CAST(o_orderkey % 7 AS INT)) AS pos7,
          |  array_join(CAST(uniq(sort(ia)) AS ARRAY<STRING>), ',') AS u,
          |  array_join(CAST(subarray(ia, 1, 2) AS ARRAY<STRING>), ',') AS sub
          |FROM d ORDER BY o_orderkey""".stripMargin)
    },
      // every wave-2 SQL-name column in closed form: jsonb mutations on
      // the planted doc, hstore canonical key order (len, bytes) and
      // right-wins concat, intarray arithmetic on [k%50, k%7, k%7]
      Some("""SELECT o_orderkey,
        |  1::BIGINT AS z,
        |  true AS has_tags,
        |  (o_orderkey * 2)::BIGINT AS o2,
        |  true AS has_t1,
        |  '"p' || (o_orderkey % 3)::VARCHAR || '"' AS t0,
        |  'prio,status' AS hk,
        |  '0-LOW' AS hp,
        |  3::INTEGER AS n_ia,
        |  (CASE WHEN o_orderkey % 50 = o_orderkey % 7
        |        THEN 1 ELSE 2 END)::INTEGER AS pos7,
        |  CASE WHEN o_orderkey % 50 = o_orderkey % 7
        |         THEN (o_orderkey % 7)::VARCHAR
        |       WHEN o_orderkey % 50 < o_orderkey % 7
        |         THEN (o_orderkey % 50)::VARCHAR || ','
        |              || (o_orderkey % 7)::VARCHAR
        |       ELSE (o_orderkey % 7)::VARCHAR || ','
        |            || (o_orderkey % 50)::VARCHAR END AS u,
        |  (o_orderkey % 7)::VARCHAR || ',' || (o_orderkey % 7)::VARCHAR AS sub
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- dialect-aware deparse (r16; mysql_fdw/oracle_fdw deparse.c
    // analogue): the library AUTHORS the remote SQL — quoted target
    // list and relation, pushed WHERE, remote ORDER BY + the
    // dialect's row-limit clause — and ships it whole, so the top-50
    // never crosses the wire unsorted. Runs live against Derby
    // (FETCH FIRST + double-quoted identifiers); the mysql/oracle
    // deparse rules for the SAME logical query are string-pinned in
    // JdbcDialectSpec. Oracle recomputes the top-50 over parquet —
    // the remote execution must be value-exact ----
    Gated("jdbc_dialect", (s, dir) => {
      val url = JdbcGateDb.url(s, dir)
      val D = graft.sources.JdbcDeparse
      graft.sources.JdbcSource.readDeparsed(s, url, "CUST",
          Seq("c_custkey", "c_name", "c_acctbal"),
          where = Seq(D.Cmp("c_acctbal", ">", 1000)),
          orderBy = Seq(("c_acctbal", false), ("c_custkey", true)),
          limit = Some(50))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      // the remotely-executed top-50 recomputed over parquet (acctbal
      // ties break on custkey, so the cut is deterministic)
      Some("""SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_acctbal > 1000
        |  ORDER BY c_acctbal DESC, c_custkey
        |  LIMIT 50)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- PG xml surface (openGauss inherits PG's xml type;
    // contrib/xml2 xpath_string/number). The SCALE path is from_xml:
    // ONE StAX parse per row into a typed struct, every field
    // extracted from it — Spark's xpath_* family re-parses the
    // document PER CALL (measured 72 s vs ~2 s on this very gate at
    // sf0.1) and is kept to spec-level semantics checks only. The
    // oracle recomputes relationally (DuckDB has no XML — the gated
    // property is the parse on a known document shape). ----
    Gated("xml_fns", (s, dir) => {
      val o = Tables(s, dir, "orders")
        .withColumn("x", concat(lit("<o><k>"), col("o_orderkey"),
          lit("</k><st>"), col("o_orderstatus"),
          lit("</st><ls><l>"), col("o_custkey") % 10,
          lit("</l><l>"), col("o_custkey") % 7, lit("</l></ls></o>")))
        .withColumn("p", expr(
          "from_xml(x, 'k LONG, st STRING, ls STRUCT<l: ARRAY<LONG>>')"))
      o.select(col("o_orderkey"),
          col("p.k").as("k"),
          col("p.st").as("st"),
          col("p.ls").isNotNull.as("has_ls"),
          array_join(transform(col("p.ls.l"), v => v.cast("string")), ",")
            .as("ls"),
          size(col("p.ls.l")).as("n_l"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""SELECT o_orderkey,
        |  o_orderkey AS k,
        |  o_orderstatus AS st,
        |  true AS has_ls,
        |  (o_custkey % 10) || ',' || (o_custkey % 7) AS ls,
        |  2::INTEGER AS n_l
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- uuid-ossp v3: deterministic namespace UUIDs as stable
    // document identifiers ----
    Gated("uuid_fns", (s, dir) => {
      val U = graft.functions.Uuids
      val u = U.uuidV3(U.NS_DNS, concat(lit("order:"), col("o_orderkey")))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), u.as("uuid3"),
          U.uuidVersion(u).as("ver"),
          substring(u, 20, 1).as("variant_nibble"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      Some("""WITH h AS (SELECT o_orderkey,
        |  md5('6ba7b8109dad11d180b400c04fd430c8' || 'order:' || o_orderkey) AS x
        |FROM orders),
        |u AS (SELECT o_orderkey,
        |  substr(x, 1, 8) || '-' || substr(x, 9, 4) || '-3' || substr(x, 14, 3)
        |    || '-' || translate(substr(x, 17, 1), '0123456789abcdef',
        |      '89ab89ab89ab89ab') || substr(x, 18, 3) || '-' || substr(x, 21, 12)
        |    AS uuid3
        |FROM h)
        |SELECT o_orderkey, uuid3,
        |  substr(uuid3, 15, 1)::INTEGER AS ver,
        |  substr(uuid3, 20, 1) AS variant_nibble
        |FROM u ORDER BY o_orderkey""".stripMargin)),

    // ---- openGauss B-format (MySQL-compat, dolphin plugin surface):
    // if/ifnull/group_concat/substring_index/conv/left/right ----
    Gated("mysql_compat", (s, dir) =>
      Tables(s, dir, "customer")
        .withColumn("hexkey", lower(conv(col("c_custkey").cast("string"), 10, 16)))
        .withColumn("tail2", expr("right(c_name, 2)"))
        .withColumn("idpart", substring_index(col("c_name"), "#", -1))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_set(col("c_mktsegment"))), ",")
            .as("segs"),
          sum(when(col("c_acctbal") > 0, 1).otherwise(0)).as("n_pos"),
          min(coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("NONE"))).as("min_seg"),
          min(col("hexkey")).as("min_hex"),
          max(col("tail2")).as("max_tail2"),
          max(col("idpart")).as("max_idpart"))
        .transform(Gate.ordered(_, "c_nationkey")),
      Some("""SELECT c_nationkey, count(*)::BIGINT AS n,
        |  array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
        |    AS segs,
        |  sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |  min(CASE WHEN c_mktsegment = 'BUILDING' THEN 'NONE'
        |    ELSE c_mktsegment END) AS min_seg,
        |  min(lower(to_hex(c_custkey))) AS min_hex,
        |  max(right(c_name, 2)) AS max_tail2,
        |  max(string_split(c_name, '#')[-1]) AS max_idpart
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
