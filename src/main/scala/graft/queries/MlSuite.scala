package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.operators.{Ml, ModelStore}
import org.apache.spark.sql.functions._

/**
 * DB4AI gates (reference: src/gausskernel/dbmind/db4ai — CREATE MODEL
 * / PREDICT BY over linregr, logregr, kmeans, pca, bayes + scores.h).
 *
 * Every gate is hash-exact by construction: corpus-wide sums are
 * exact LONG/DECIMAL (never float — float sums are shuffle-order-
 * dependent), and all derived doubles come from formula text SHARED
 * verbatim between the Spark plan and the DuckDB oracle (identical
 * IEEE trees over identical exact inputs). ml_kmeans and ml_logreg go
 * further: the ENTIRE training chain is one SQL text (Ml.kmeansSql /
 * Ml.logregrSql) executed by both engines.
 */
object MlSuite {
  // shared feature definitions (text used by both engines)
  private val KmeansPts =
    "SELECT CAST(user_id % 97 AS BIGINT) AS x, " +
      "CAST(floor(value) AS BIGINT) % 89 AS y FROM events"
  private val LogregPts =
    "SELECT CAST(user_id % 50 AS DOUBLE) / 50e0 AS x1, " +
      "CAST(event_id % 31 AS DOUBLE) / 31e0 AS x2, " +
      "CASE WHEN (user_id % 50) + (event_id % 31) > 40 THEN 1 ELSE 0 END AS y " +
      "FROM events"

  private val SvmPts =
    "SELECT CAST(user_id % 50 AS DOUBLE) / 50e0 AS x1, " +
      "CAST(event_id % 31 AS DOUBLE) / 31e0 AS x2, " +
      "CASE WHEN (user_id % 50) + (event_id % 31) > 40 THEN 1 ELSE -1 END AS y " +
      "FROM events"

  private val GbdtPts =
    "SELECT CAST(user_id % 50 AS BIGINT) AS x1, CAST(event_id % 31 AS BIGINT) AS x2, " +
      "CAST(floor(value * 100) AS BIGINT) AS y FROM events"

  private val XgbGridPts =
    "SELECT CAST(event_id AS BIGINT) AS id, " +
      "CAST(user_id % 50 AS BIGINT) AS x1, CAST(event_id % 31 AS BIGINT) AS x2, " +
      "CAST(floor(value * 100) AS BIGINT) AS y FROM events"

  /** The grid-search cells (shared verbatim with the oracle text):
    * unregularized vs λ-damped at two learning rates, plus one
    * heavily-pruned cell (big γ forces single-leaf rounds). */
  private val XgbGrid = Seq(
    Ml.XgbParams(2, 0.5, 0.0, 0.0),
    Ml.XgbParams(2, 0.5, 10.0, 0.0),
    Ml.XgbParams(2, 1.0, 0.0, 0.0),
    Ml.XgbParams(2, 1.0, 200.0, 50.0))

  private val MulticlassPts =
    "SELECT CAST(user_id % 50 AS DOUBLE) / 50e0 AS x1, " +
      "CAST(event_id % 31 AS DOUBLE) / 31e0 AS x2, " +
      "CAST((user_id + event_id) % 3 AS INT) AS cls FROM events"

  private def sumsSql(inner: String): String =
    s"""(SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
       |  CAST(sum(y) AS BIGINT) AS sy,
       |  CAST(sum(x1 * x1) AS BIGINT) AS sx11, CAST(sum(x1 * x2) AS BIGINT) AS sx12,
       |  CAST(sum(x2 * x2) AS BIGINT) AS sx22, CAST(sum(x1 * y) AS BIGINT) AS sx1y,
       |  CAST(sum(x2 * y) AS BIGINT) AS sx2y, CAST(sum(y * y) AS BIGINT) AS syy
       |FROM ($inner))""".stripMargin

  val gated: Seq[Gated] = Seq(
    // ---- sqldiag (r16; gs_dbmind's slow-query duration predictor):
    // template-normalize a planted query-log history (3 shapes with
    // deterministic per-shape durations), learn per-template stats in
    // ONE map-side-combined groupBy, predict probes — 3 shapes hit
    // their templates exactly (different literals), the 4th is a
    // NEVER-SEEN shape that falls back to the most trigram-similar
    // template (its normalized text extends t0's, so t0 wins — the
    // planted constant the oracle pins, while the engine computes the
    // full broadcast similarity argmax) ----
    Gated("sqldiag", (s, dir) => {
      val SD = graft.operators.SqlDiag
      val k = col("o_orderkey")
      val hist = Tables(s, dir, "orders").select(
        when(k % 3 === 0,
          concat(lit("SELECT * FROM orders WHERE o_orderkey = "), k))
          .when(k % 3 === 1,
            concat(lit("SELECT count(*) FROM lineitem WHERE l_partkey < "),
              k, lit(" AND l_returnflag = 'R'")))
          .otherwise(
            concat(lit("UPDATE customer SET c_comment = 'note "), k,
              lit("' WHERE c_custkey = "), k % 1000)).as("q"),
        when(k % 3 === 0, lit(120) + k % 7)
          .when(k % 3 === 1, lit(480) + k % 13)
          .otherwise(lit(2400) + k % 31).as("dur_ms"))
      val model = SD.train(hist, "q", "dur_ms")
      val probes = Tables(s, dir, "orders").select(k.as("probe_id"),
        when(k % 4 === 0,
          concat(lit("SELECT * FROM orders WHERE o_orderkey = "), k + 7))
          .when(k % 4 === 1,
            concat(lit("SELECT count(*) FROM lineitem WHERE l_partkey < "),
              k * 2, lit(" AND l_returnflag = 'A'")))
          .when(k % 4 === 2,
            concat(lit("UPDATE customer SET c_comment = 'x"), k,
              lit("' WHERE c_custkey = "), k % 99))
          .otherwise(
            concat(lit("SELECT * FROM orders WHERE o_orderkey = "), k,
              lit(" AND o_orderstatus = 'F'"))).as("q"))
      SD.predict(model, probes, "probe_id", "q")
        .transform(Gate.ordered(_, "probe_id"))
    },
      // per-shape duration stats recomputed exactly (integer sums, one
      // double division); the novel shape's similarity winner is the
      // planted constant t0 (its normalized text extends t0's)
      Some("""WITH h AS (SELECT o_orderkey AS k FROM orders),
        |st AS (SELECT k % 3 AS shape,
        |    CASE k % 3 WHEN 0 THEN 120 + k % 7
        |               WHEN 1 THEN 480 + k % 13
        |               ELSE 2400 + k % 31 END AS d FROM h),
        |a AS (SELECT shape, round(sum(d)::DOUBLE / count(*), 4) AS avg_ms
        |      FROM st GROUP BY shape)
        |SELECT k AS probe_id,
        |  CASE WHEN k % 4 = 1
        |    THEN 'select count(*) from lineitem where l_partkey < ? and l_returnflag = ?'
        |  WHEN k % 4 = 2
        |    THEN 'update customer set c_comment = ? where c_custkey = ?'
        |  ELSE 'select * from orders where o_orderkey = ?' END AS template,
        |  CASE WHEN k % 4 = 3 THEN 'similar' ELSE 'template' END AS method,
        |  CASE WHEN k % 4 = 1 THEN (SELECT avg_ms FROM a WHERE shape = 1)
        |       WHEN k % 4 = 2 THEN (SELECT avg_ms FROM a WHERE shape = 2)
        |       ELSE (SELECT avg_ms FROM a WHERE shape = 0) END AS pred_ms
        |FROM h ORDER BY probe_id""".stripMargin)),

    // ---- knob advisor (r16; the X-Tuner half of gs_dbmind,
    // deterministic): workload statistics (one aggregate per table +
    // one skew probe) drive closed-form first-order knobs — shuffle
    // partitions, file split size, broadcast admissions, skew salt.
    // The oracle recomputes the byte estimates from the same width
    // rules and the identical integer arithmetic ----
    Gated("knob_advisor", (s, dir) => {
      val tables = Seq("nation", "customer", "orders", "lineitem")
        .map(t => t -> Tables(s, dir, t))
      graft.operators.KnobAdvisor.recommend(s, tables,
          ("lineitem", Tables(s, dir, "lineitem"), "l_suppkey"), cores = 32)
        .transform(Gate.ordered(_, "knob"))
    },
      // byte estimates from the same width rules (fixed widths by type +
      // measured string lengths), knob arithmetic integer-exact
      Some("""WITH bn AS (SELECT CAST(count(*) * 8 + CAST(sum(length(n_name)) AS BIGINT) AS BIGINT) AS b FROM nation),
        |bc AS (SELECT CAST(count(*) * 20 + CAST(sum(length(c_name)) AS BIGINT)
        |         + CAST(sum(length(c_mktsegment)) AS BIGINT) AS BIGINT) AS b FROM customer),
        |bo AS (SELECT CAST(count(*) * 32 + CAST(sum(length(o_orderstatus)) AS BIGINT)
        |         + CAST(sum(length(o_orderpriority)) AS BIGINT) AS BIGINT) AS b FROM orders),
        |bl AS (SELECT CAST(count(*) * 68 + CAST(sum(length(l_returnflag)) AS BIGINT)
        |         + CAST(sum(length(l_linestatus)) AS BIGINT) AS BIGINT) AS b FROM lineitem),
        |sk AS (SELECT CAST(max(c) * count(*) * 100 // sum(c) AS BIGINT) AS ratio
        |       FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey)),
        |t AS (SELECT (SELECT b FROM bn) AS n, (SELECT b FROM bc) AS c,
        |             (SELECT b FROM bo) AS o, (SELECT b FROM bl) AS l)
        |SELECT * FROM (
        |  SELECT 'spark.sql.shuffle.partitions' AS knob,
        |    greatest(CAST(32 AS BIGINT),
        |      (n + c + o + l + 134217727) // 134217728) AS value,
        |    'total workload bytes over the 128MB-per-partition target, floored at the core count' AS detail
        |  FROM t
        |  UNION ALL SELECT 'spark.sql.files.maxPartitionBytes',
        |    least(CAST(134217728 AS BIGINT), greatest(CAST(4194304 AS BIGINT),
        |      (greatest(n, c, o, l) + 31) // 32)),
        |    'largest table split across the cores, clamped to [4MB, 128MB]'
        |  FROM t
        |  UNION ALL SELECT 'aqe.skew_ratio_x100.l_suppkey',
        |    (SELECT ratio FROM sk),
        |    'max lineitem.l_suppkey frequency over the mean, x100'
        |  UNION ALL SELECT 'skew.salt.l_suppkey',
        |    CASE WHEN (SELECT ratio FROM sk) > 400
        |         THEN ((SELECT ratio FROM sk) + 99) // 100
        |         ELSE CAST(1 AS BIGINT) END,
        |    'salting factor when the ratio crosses 4x, else 1'
        |  UNION ALL SELECT 'broadcast.nation',
        |    CASE WHEN n <= 10485760 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
        |    '1 when the estimate fits the 10MB broadcast budget' FROM t
        |  UNION ALL SELECT 'broadcast.customer',
        |    CASE WHEN c <= 10485760 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
        |    '1 when the estimate fits the 10MB broadcast budget' FROM t
        |  UNION ALL SELECT 'broadcast.orders',
        |    CASE WHEN o <= 10485760 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
        |    '1 when the estimate fits the 10MB broadcast budget' FROM t
        |  UNION ALL SELECT 'broadcast.lineitem',
        |    CASE WHEN l <= 10485760 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
        |    '1 when the estimate fits the 10MB broadcast budget' FROM t
        |) ORDER BY knob""".stripMargin)),

    // ---- one-vs-rest multiclass (F9, multiclass.cpp): 3 independent
    // GD chains + linear-score argmax; output is the confusion
    // matrix — whole chain one shared SQL text ----
    Gated("ml_multiclass", (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_events")
      s.sql(s"WITH pts AS ($MulticlassPts), "
        .replace("FROM events", "FROM graft_events") +
        Ml.multiclassSql(3, 2, 0.5).stripPrefix("WITH "))
    },
      Some((s"WITH pts AS ($MulticlassPts), " + Ml.multiclassSql(3, 2, 0.5).stripPrefix("WITH ")))),

    // ---- gradient-boosted stumps (F8, the xgboost.cpp family):
    // 3 rounds, squared loss, exact quantized residual sums, split
    // search via per-feature cumulative stats (no point×threshold
    // blowup). Spark side runs the PRODUCTION driver loop (Spark
    // inlines CTEs, so the self-referencing SQL chain re-evaluates
    // earlier rounds multiplicatively — 11.7s vs 0.5s here); MlSpec
    // asserts loop == SQL chain bit-for-bit, so the DuckDB oracle
    // still runs the full shared text ----
    Gated("ml_gbdt", (s, dir) => {
      val pts = Tables(s, dir, "events").selectExpr(
        "CAST(user_id % 50 AS BIGINT) AS x1",
        "CAST(event_id % 31 AS BIGINT) AS x2",
        "CAST(floor(value * 100) AS BIGINT) AS y")
      val (_, model) = Ml.gbdt(pts, 3, 0.5)
      import s.implicits._
      model.zipWithIndex
        .map { case ((f, t, lv, rv), i) => (i + 1, f, t, lv, rv) }
        .toDF("round", "feat", "thr", "lval", "rval")
        .orderBy("round")
    },
      Some((s"WITH pts AS ($GbdtPts), " + Ml.gbdtSql(3, 0.5).stripPrefix("WITH ")))),

    // ---- xgboost-regularized stumps (F16, xgboost_gs family): λ=10
    // damps every leaf and split score, γ=2 prunes low-gain rounds to
    // single-leaf trees; driver loop on the Spark side (CTE-inlining
    // discipline), full shared chain in the oracle ----
    Gated("ml_xgboost", (s, dir) => {
      val pts = Tables(s, dir, "events").selectExpr(
        "CAST(user_id % 50 AS BIGINT) AS x1",
        "CAST(event_id % 31 AS BIGINT) AS x2",
        "CAST(floor(value * 100) AS BIGINT) AS y")
      val (_, model) = Ml.xgbTrain(pts, 3, 0.5, 10.0, 2.0)
      import s.implicits._
      model.zipWithIndex
        .map { case ((f, t, lv, rv), i) => (i + 1, f, t, lv, rv) }
        .toDF("round", "feat", "thr", "lval", "rval")
        .orderBy("round")
    },
      Some((s"WITH pts AS ($GbdtPts), " +
          Ml.xgbSql(3, 0.5, 10.0, 2.0, materialized = true)
            .stripPrefix("WITH ")))),

    // ---- xgboost_gs grid search (F16): 4 cells over (η, λ, γ),
    // 80/20 deterministic split, exact quantized test SSE, ranked
    // results relation — the module's actual surface ----
    Gated("ml_xgb_grid", (s, dir) => {
      val pts = Tables(s, dir, "events").selectExpr(
        "CAST(event_id AS BIGINT) AS id",
        "CAST(user_id % 50 AS BIGINT) AS x1",
        "CAST(event_id % 31 AS BIGINT) AS x2",
        "CAST(floor(value * 100) AS BIGINT) AS y")
      Ml.xgbGridSearch(s, pts, XgbGrid)
    },
      // the grid fans 4 chains out of the shared tr split — every CTE
      // MATERIALIZED or DuckDB's inlining multiplies the parquet scans
      Some((s"WITH pts AS MATERIALIZED ($XgbGridPts), " +
          Ml.xgbGridSql(XgbGrid, materialized = true).stripPrefix("WITH ")))),

    // ---- depth-2 boosted trees (F8's interaction-capable sibling,
    // xgboost.cpp family): root split + one split per side per round;
    // Spark runs the production driver loop, the oracle the full
    // shared chain (MlSpec pins loop == chain bit-for-bit, incl. the
    // degenerate-side collapse) ----
    Gated("ml_gbdt_depth2", (s, dir) => {
      val pts = Tables(s, dir, "events").selectExpr(
        "CAST(user_id % 50 AS BIGINT) AS x1",
        "CAST(event_id % 31 AS BIGINT) AS x2",
        "CAST(floor(value * 100) AS BIGINT) AS y")
      val (_, model) = Ml.gbdtDepth2(pts, 2, 0.5)
      import s.implicits._
      model.zipWithIndex
        .map { case (t, i) => (i + 1, t.feat0, t.thr0, t.featL, t.thrL,
          t.llv, t.lrv, t.featR, t.thrR, t.rlv, t.rrv) }
        .toDF("round", "feat0", "thr0", "featL", "thrL", "llv", "lrv",
          "featR", "thrR", "rlv", "rrv")
        .orderBy("round")
    },
      Some((s"WITH pts AS MATERIALIZED ($GbdtPts), " +
          Ml.gbdtDepth2Sql(2, 0.5, materialized = true).stripPrefix("WITH ")))),

    // ---- CREATE MODEL hyperparameter catalog (F10's admission
    // surface, db4ai/executor/hyperparameter_validation.cpp): the
    // per-algorithm definition tables as a relation, shared verbatim
    // with the oracle text; validation semantics pinned in HyperSpec ----
    Gated("db4ai_hyperp", (s, _) =>
      graft.operators.Hyper.catalog(s)
        .transform(Gate.ordered(_, "algo", "name")),
      Some(graft.operators.Hyper.catalogSql)),

    // ---- agglomerative clustering (F14, madlib_modules/
    // agglomerative_clustering): ward linkage over exact weighted
    // micro-cells; three planted bands 1000 apart recovered, labels
    // deterministic by ascending lexicographic minimum member ----
    Gated("ml_agglom", (s, dir) => {
      val pts = Tables(s, dir, "events").selectExpr(
        "event_id AS id",
        "CAST(user_id % 10 + 1000 * (event_id % 3) AS DOUBLE) AS x1",
        "CAST(event_id % 7 AS DOUBLE) AS x2")
      graft.operators.Agglom.cluster(
          pts, Seq(col("x1"), col("x2")), col("id"), 3, "ward")
        .select(col("id"), col("f0").as("x1"), col("f1").as("x2"), col("label"))
        .transform(Gate.ordered(_, "id"))
    },
      // the planted three-band hierarchy is recoverable in closed form:
      // bands sit 1000 apart vs ≤ sqrt(9²+6²) within-band spread, and
      // the lex-min-member label order equals the band order
      Some("""SELECT event_id AS id,
        |  CAST(user_id % 10 + 1000 * (event_id % 3) AS DOUBLE) AS x1,
        |  CAST(event_id % 7 AS DOUBLE) AS x2,
        |  CAST(event_id % 3 AS INT) AS label
        |FROM events ORDER BY id""".stripMargin)),

    // ---- linear SVM (F7): hinge-loss subgradient descent, same
    // quantized order-free sums, whole chain one shared SQL text ----
    Gated("ml_svm", (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_events")
      s.sql(s"WITH pts AS ($SvmPts), "
        .replace("FROM events", "FROM graft_events") +
        Ml.svmSql(3, 0.5, 0.01).stripPrefix("WITH "))
    },
      Some((s"WITH pts AS ($SvmPts), " + Ml.svmSql(3, 0.5, 0.01).stripPrefix("WITH ")))),

    // ---- linear regression (F1): one exact Gram aggregate + the
    // Cramer solve as shared expression text ----
    Gated("ml_linreg", (s, dir) => {
      val e = Tables(s, dir, "events")
      Ml.linregrSums(e, col("user_id") % 50, col("event_id") % 31,
          expr("CAST(floor(value * 100) AS BIGINT)"))
        .selectExpr("n" +: Ml.cramer3Exprs.map { case (nm, x) => s"$x AS $nm" }: _*)
    },
      Some({
        val pts = "SELECT user_id % 50 AS x1, event_id % 31 AS x2, " +
          "CAST(floor(value * 100) AS BIGINT) AS y FROM events"
        s"""WITH s AS ${sumsSql(pts)}
         |SELECT n, ${Ml.cramer3Exprs.map { case (nm, x) => s"$x AS $nm" }.mkString(", ")}
         |FROM s""".stripMargin
      })),

    // ---- k-means (F2): Lloyd, partition init, 3 iterations, k=4.
    // Spark side runs the PRODUCTION DataFrame loop (the SQL chain's
    // self-references re-evaluate earlier iterations under Spark's
    // CTE inlining — 2.6s vs 0.9s at sf0.1); the DuckDB oracle runs
    // the full shared chain text, and MlSpec pins loop == chain
    // bit-for-bit including assignments AND centroids ----
    Gated("ml_kmeans", (s, dir) => {
      val pts = Tables(s, dir, "events").selectExpr(
        "CAST(user_id % 97 AS BIGINT) AS x",
        "CAST(floor(value) AS BIGINT) % 89 AS y")
      val (assigned, cents) = Ml.kmeans(pts, 4, 3)
      val cx = cents.zipWithIndex.foldRight(lit(Double.NaN)) {
        case (((x, _), j), e) => when(col("cl") === j, lit(x)).otherwise(e)
      }
      val cy = cents.zipWithIndex.foldRight(lit(Double.NaN)) {
        case (((_, y), j), e) => when(col("cl") === j, lit(y)).otherwise(e)
      }
      assigned.groupBy(col("cl").as("cluster"))
        .agg(count(lit(1)).as("n"), sum("x").as("sum_x"), sum("y").as("sum_y"))
        .withColumn("cl", col("cluster"))
        .select(col("cluster"), col("n"), col("sum_x"), col("sum_y"),
          cx.as("cx"), cy.as("cy"))
        .transform(Gate.ordered(_, "cluster"))
    },
      Some((s"WITH pts AS ($KmeansPts), " + Ml.kmeansSql(4, 3).stripPrefix("WITH ")))),

    // ---- logistic regression (F3): 3 full-batch GD steps, gradient
    // sums floor-quantized to 1e-9 (exact LONG sums), hard-sigmoid
    // surrogate. The Spark side runs the PRODUCTION driver loop
    // (Ml.logregr — one k-row aggregate per step): the single-text CTE
    // chain re-inlines every earlier step per reference, which made
    // THIS gate pay ~3 s of pure plan-analysis wall for 0.3 s of task
    // work (r19 measurement — the same blowup the ml_gbdt gate
    // documented). MlSpec asserts loop == SQL chain weights
    // bit-for-bit, so the DuckDB oracle still runs the full shared
    // text and the output is unchanged ----
    Gated("ml_logreg", (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_events")
      val pts = s.sql(LogregPts.replace("FROM events", "FROM graft_events"))
      val w = Ml.logregr(pts, 3, 0.5)
      // identical final projection as logregrSql's tail: n_pos_pred
      // counts hardSigmoid(z) >= 0.5 under the trained weights
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      val sig = least(greatest(z / lit(4e0) + lit(5e-1), lit(0e0)), lit(1e0))
      pts.filter(sig >= lit(5e-1))
        .agg(count(lit(1)).as("n_pos_pred"))
        .select(lit(w(0)).as("w0"), lit(w(1)).as("w1"), lit(w(2)).as("w2"),
          col("n_pos_pred"))
    },
      Some((s"WITH pts AS ($LogregPts), " + Ml.logregrSql(3, 0.5).stripPrefix("WITH ")))),

    // ---- index advisor (F12, dbmind/kernel/index_advisor.cpp): a
    // TPC-H-flavored workload parsed through Spark's own parser;
    // layout advice from exact per-column cardinalities. rows-only
    // gate (no SQL engine parses SQL); rules pinned in the spec ----
    Gated("index_advisor", (s, dir) => {
      val tables = Map(
        "customer" -> Tables(s, dir, "customer"),
        "orders" -> Tables(s, dir, "orders"),
        "lineitem" -> Tables(s, dir, "lineitem"))
      graft.operators.IndexAdvisor.advise(s, tables, Seq(
        ("SELECT * FROM orders WHERE o_orderkey = 42", 120L),
        ("SELECT * FROM customer c JOIN orders o ON c_custkey = o_custkey" +
          " WHERE c_mktsegment = 'BUILDING'", 40L),
        ("SELECT l_orderkey, sum(l_quantity) FROM lineitem" +
          " GROUP BY l_orderkey ORDER BY l_orderkey", 15L),
        ("SELECT * FROM lineitem WHERE l_partkey = 7 AND l_returnflag = 'R'",
          33L)))
    },
      None),

    // ---- advisor stats, oracle-checkable half (F12): the same
    // workload's candidate table with exact per-column cardinalities
    // — extraction is deterministic, so the oracle pins BOTH the
    // extracted candidate set and the stats/ranking in pure SQL ----
    Gated("index_advisor_stats", (s, dir) => {
      val tables = Map(
        "customer" -> Tables(s, dir, "customer"),
        "orders" -> Tables(s, dir, "orders"),
        "lineitem" -> Tables(s, dir, "lineitem"))
      graft.operators.IndexAdvisor.advise(s, tables, Seq(
          ("SELECT * FROM orders WHERE o_orderkey = 42", 120L),
          ("SELECT * FROM customer c JOIN orders o ON c_custkey = o_custkey" +
            " WHERE c_mktsegment = 'BUILDING'", 40L),
          ("SELECT l_orderkey, sum(l_quantity) FROM lineitem" +
            " GROUP BY l_orderkey ORDER BY l_orderkey", 15L),
          ("SELECT * FROM lineitem WHERE l_partkey = 7 AND l_returnflag = 'R'",
            33L)))
        .select(col("table").as("table_name"), col("column").as("column_name"),
          col("kind"), col("advice"), col("calls"), col("n_rows"),
          col("cardinality"), col("advised"))
        .transform(Gate.ordered(_, "table_name", "column_name", "kind"))
    },
      // extraction is rule-determined (spec-pinned), so the oracle
      // hardcodes the candidate set and recomputes stats + threshold
      Some({
        def b(t: String, c: String, kind: String, advice: String, calls: Int) =
          s"""SELECT '$t' AS table_name, '$c' AS column_name, '$kind' AS kind,
           |  '$advice' AS advice, CAST($calls AS BIGINT) AS calls,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $t) AS n_rows,
           |  (SELECT CAST(count(DISTINCT $c) AS BIGINT) FROM $t) AS cardinality,
           |  (SELECT count(DISTINCT $c) FROM $t) > 30 AS advised""".stripMargin
        Seq(
          b("orders", "o_orderkey", "eq_predicate", "partition_or_cluster_by", 120),
          b("customer", "c_custkey", "join_key", "bucket_by", 40),
          b("orders", "o_custkey", "join_key", "bucket_by", 40),
          b("customer", "c_mktsegment", "eq_predicate", "partition_or_cluster_by", 40),
          b("lineitem", "l_orderkey", "group_order", "sort_within_partitions", 15),
          b("lineitem", "l_partkey", "eq_predicate", "partition_or_cluster_by", 33),
          b("lineitem", "l_returnflag", "eq_predicate", "partition_or_cluster_by", 33))
          .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name, kind")
      })),

    // ---- hypothetical-layout what-if (F15, dbmind/kernel/
    // hypopg_index.cpp): apply the advisor's partition advice to a
    // scratch copy, probe the pruned scans for real, report counts
    // the oracle can recompute in SQL ----
    Gated("index_whatif", (s, dir) => {
      val scratch = Gate.scratchDir("graft-whatif-gate")
      graft.operators.IndexAdvisor.whatIf(
          Tables(s, dir, "events"), "event_type",
          Seq("click", "error", "nosuch"), scratch.getAbsolutePath)
        .transform(Gate.ordered(_, "value"))
    },
      Some("""SELECT 'event_type' AS column_name, v AS value,
        |  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events) AS partitions_total,
        |  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events WHERE event_type = v) AS partitions_scanned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_type = v) AS rows_matched,
        |  (SELECT count(DISTINCT event_type) FROM events)
        |    - (SELECT count(DISTINCT event_type) FROM events WHERE event_type = v) > 0 AS improved
        |FROM (VALUES ('click'), ('error'), ('nosuch')) AS t(v)
        |ORDER BY value""".stripMargin)),

    // ---- bucketing what-if (F15's join half): the advisor's
    // bucket_by advice for the customer⋈orders join evaluated with
    // Spark's own planner — the canonical 2-Exchange sort-merge join
    // plans ZERO shuffles against the bucketed layout ----
    Gated("index_whatif_bucket", (s, dir) => {
      val scratch = Gate.scratchDir("graft-whatif-bucket-gate")
      graft.operators.IndexAdvisor.whatIfBucketing(
        Tables(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
        Tables(s, dir, "orders").withColumnRenamed("o_custkey", "custkey")
          .select("custkey", "o_orderkey", "o_totalprice"),
        "custkey", 8, scratch.getAbsolutePath, "graft_whatif")
    },
      // the Exchange counts are planner-deterministic constants once
      // AQE/broadcast are pinned off: 2 for the plain sort-merge join,
      // 0 for the co-located bucketed one
      Some("""SELECT 'custkey' AS join_key, CAST(8 AS BIGINT) AS n_buckets,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c JOIN orders o
        |    ON c.c_custkey = o.o_custkey) AS rows_joined,
        |  CAST(2 AS BIGINT) AS shuffles_plain,
        |  CAST(0 AS BIGINT) AS shuffles_bucketed,
        |  TRUE AS shuffle_eliminated""".stripMargin)),

    // ---- DB4AI Snapshots (F11, db4ai/snapshots): a 3-version CSS
    // snapshot tree — create, update-patch (1.0.1), delete+insert
    // revision (1.1.0) — read back through delta reconstruction; the
    // oracle recomputes the same final state in pure SQL ----
    Gated("db4ai_snapshot", (s, dir) => {
      val basedir = Gate.scratchDir("graft-snap-gate")
      val store = new graft.operators.SnapshotStore(s, basedir.getAbsolutePath)
      val srcDf = Tables(s, dir, "events").selectExpr(
        "event_id AS pk", "event_type AS etype", "value AS val")
      store.create("m0", srcDf, "pk")
      store.derive("m0", "1.0.0",
          "UPDATE SNAPSHOT SET val = val + 1 WHERE pk % 10 = 0", css = true)(
        _.selectExpr("pk", "etype",
          "CASE WHEN pk % 10 = 0 THEN val + 1e0 ELSE val END AS val"))
      store.derive("m0", "1.0.1",
          "DELETE pk % 7 = 0; INSERT shifted pk % 10 = 4", css = true)(df =>
        df.filter("pk % 7 <> 0").unionByName(
          df.filter("pk % 10 = 4")
            .selectExpr("pk + 1000000 AS pk", "etype", "val")))
      store.read("m0", "1.1.0").transform(Gate.ordered(_, "pk"))
    },
      Some("""WITH base AS (SELECT event_id AS pk, event_type AS etype,
        |  value AS val FROM events),
        |v101 AS (SELECT pk, etype,
        |  CASE WHEN pk % 10 = 0 THEN val + 1e0 ELSE val END AS val FROM base),
        |v110 AS (SELECT * FROM v101 WHERE pk % 7 <> 0
        |  UNION ALL SELECT pk + 1000000 AS pk, etype, val
        |  FROM v101 WHERE pk % 10 = 4)
        |SELECT pk, etype, val FROM v110 ORDER BY pk""".stripMargin)),

    // ---- EXPLAIN MODEL (F10, explain_model.h): the trained linregr
    // rendered as a relation, one typed row per coefficient. Weights
    // come from the same exact-LONG Gram sums + shared Cramer formula
    // text as ml_linreg (identical IEEE trees on both engines), so the
    // per-row unpivot is hash-exact; abs() only clears the sign bit ----
    Gated("ml_explain", (s, dir) => {
      val e = Tables(s, dir, "events")
      val w = Ml.linregrSums(e, col("user_id") % 50, col("event_id") % 31,
          expr("CAST(floor(value * 100) AS BIGINT)"))
        .selectExpr(Ml.cramer3Exprs.take(3).map { case (nm, x) => s"$x AS $nm" }: _*)
        .collect()(0)
      ModelStore.explainLinear(s, "linreg_events", Seq("x1", "x2"),
          Array(w.getDouble(0), w.getDouble(1), w.getDouble(2)))
        .transform(Gate.ordered(_, "idx"))
    },
      Some({
        val pts = "SELECT user_id % 50 AS x1, event_id % 31 AS x2, " +
          "CAST(floor(value * 100) AS BIGINT) AS y FROM events"
        val Seq(b0, b1, b2) = Ml.cramer3Exprs.take(3).map(_._2)
        s"""WITH s AS ${sumsSql(pts)},
         |w AS (SELECT $b0 AS w0, $b1 AS w1, $b2 AS w2 FROM s)
         |SELECT 'linreg_events' AS model, 0 AS idx, 'intercept' AS feature,
         |  w0 AS weight, abs(w0) AS abs_weight FROM w
         |UNION ALL SELECT 'linreg_events', 1, 'x1', w1, abs(w1) FROM w
         |UNION ALL SELECT 'linreg_events', 2, 'x2', w2, abs(w2) FROM w
         |ORDER BY idx""".stripMargin
      })),

    // ---- naive Bayes (F4): broadcast count-table model, posterior
    // argmax by exact DECIMAL cross-multiplication ----
    Gated("ml_nbayes", (s, dir) => {
      val e = Tables(s, dir, "events")
      Ml.nbayesPredict(e, col("event_type"), col("user_id") % 5,
          col("event_id") % 2, col("event_id"))
        .transform(Gate.ordered(_, "id"))
    },
      Some("""WITH base AS (SELECT event_id AS id, event_type AS f1,
        |  user_id % 5 AS f2, CAST(event_id % 2 AS INT) AS cls FROM events),
        |pri AS (SELECT
        |  CAST(max(CASE WHEN cls = 0 THEN n_c END) AS BIGINT) AS n0,
        |  CAST(max(CASE WHEN cls = 1 THEN n_c END) AS BIGINT) AS n1
        |FROM (SELECT cls, count(*) AS n_c FROM base GROUP BY cls)),
        |v AS (SELECT CAST(count(DISTINCT f1) AS BIGINT) AS v1,
        |  CAST(count(DISTINCT f2) AS BIGINT) AS v2 FROM base),
        |c1 AS (SELECT f1, cls, CAST(count(*) AS BIGINT) AS cnt1 FROM base GROUP BY 1, 2),
        |c2 AS (SELECT f2, cls, CAST(count(*) AS BIGINT) AS cnt2 FROM base GROUP BY 1, 2)
        |SELECT b.id, b.f1, b.f2, b.cls,
        |  CASE WHEN
        |    CAST(n1 * (coalesce(c11.cnt1, 0) + 1) * (coalesce(c21.cnt2, 0) + 1) AS HUGEINT)
        |      * CAST((n0 + v1) * (n0 + v2) AS HUGEINT)
        |    > CAST(n0 * (coalesce(c10.cnt1, 0) + 1) * (coalesce(c20.cnt2, 0) + 1) AS HUGEINT)
        |      * CAST((n1 + v1) * (n1 + v2) AS HUGEINT)
        |  THEN 1 ELSE 0 END AS pred
        |FROM base b
        |LEFT JOIN (SELECT f1, cnt1 FROM c1 WHERE cls = 0) c10 USING (f1)
        |LEFT JOIN (SELECT f1, cnt1 FROM c1 WHERE cls = 1) c11 USING (f1)
        |LEFT JOIN (SELECT f2, cnt2 FROM c2 WHERE cls = 0) c20 USING (f2)
        |LEFT JOIN (SELECT f2, cnt2 FROM c2 WHERE cls = 1) c21 USING (f2)
        |CROSS JOIN pri CROSS JOIN v
        |ORDER BY id""".stripMargin)),

    // ---- PCA (F5): exact second moments + closed-form 2x2 eigen
    // decomposition as shared expression text ----
    Gated("ml_pca", (s, dir) => {
      val e = Tables(s, dir, "events")
      Ml.pca2Sums(e, col("user_id") % 97,
          expr("CAST(floor(value) AS BIGINT) % 89"))
        .selectExpr("n" +: Ml.pca2Exprs.map { case (nm, x) => s"$x AS $nm" }: _*)
    },
      Some({
        val pts = "SELECT user_id % 97 AS x, CAST(floor(value) AS BIGINT) % 89 AS y FROM events"
        s"""WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(y * y) AS BIGINT) AS syy
         |FROM ($pts))
         |SELECT n, ${Ml.pca2Exprs.map { case (nm, x) => s"$x AS $nm" }.mkString(", ")}
         |FROM s""".stripMargin
      })),

    // ---- model scores (F6): confusion counts + exact-integer SSE,
    // metrics from shared formula text ----
    Gated("ml_scores", (s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("truth", (col("event_id") % 2 === 1).cast("int"))
        .withColumn("predl", ((col("user_id") + col("event_id")) % 2 === 1).cast("int"))
        .withColumn("yhat", (col("user_id") % 50) + (col("event_id") % 31))
        .withColumn("ytrue", expr("CAST(floor(value) AS BIGINT) % 80"))
      e.agg(
          sum(when(col("truth") === 1 && col("predl") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("truth") === 0 && col("predl") === 1, 1L).otherwise(0L)).as("fp"),
          sum(when(col("truth") === 1 && col("predl") === 0, 1L).otherwise(0L)).as("fn"),
          sum(when(col("truth") === 0 && col("predl") === 0, 1L).otherwise(0L)).as("tn"),
          count(lit(1)).as("n"),
          sum((col("yhat") - col("ytrue")) * (col("yhat") - col("ytrue"))).as("sse_num"))
        .selectExpr(Seq("tp", "fp", "fn", "tn", "n") ++
          Ml.scoreExprs.map { case (nm, x) => s"$x AS $nm" }: _*)
    },
      Some({
        val metrics = Ml.scoreExprs.map { case (nm, x) => s"$x AS $nm" }.mkString(", ")
        s"""WITH b AS (SELECT
         |  CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS truth,
         |  CASE WHEN (user_id + event_id) % 2 = 1 THEN 1 ELSE 0 END AS predl,
         |  (user_id % 50) + (event_id % 31) AS yhat,
         |  CAST(floor(value) AS BIGINT) % 80 AS ytrue
         |FROM events),
         |s AS (SELECT
         |  CAST(sum(CASE WHEN truth = 1 AND predl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN truth = 0 AND predl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN truth = 1 AND predl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN truth = 0 AND predl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum((yhat - ytrue) * (yhat - ytrue)) AS BIGINT) AS sse_num
         |FROM b)
         |SELECT tp, fp, fn, tn, n, $metrics FROM s""".stripMargin
      }))
  )
}
