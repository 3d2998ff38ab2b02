package graft

import graft.operators.IndexAdvisor
import org.apache.spark.sql.functions._

/**
 * Index-advisor contracts (reference rules from index_advisor.cpp):
 * selective equality fields advise, low-cardinality fields don't
 * (threshold 30), join keys advise bucketing on both sides,
 * GROUP/ORDER columns advise sort layout, ambiguous columns are
 * skipped, and calls aggregate across the workload.
 */
class IndexAdvisorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t = (0L until 1000L)
    .map(i => (i, s"cat${i % 3}", i % 500)).toDF("t_id", "t_cat", "t_ref")
  private lazy val u = (0L until 500L).map(i => (i, i * 10.0))
    .toDF("u_id", "u_val")
  // "shared" exists in both tables → ambiguous, must be skipped
  private lazy val a = Seq((1L, 2L)).toDF("shared", "a_x")
  private lazy val b = Seq((3L, 4L)).toDF("shared", "b_y")

  private def run(wl: Seq[(String, Long)]) =
    IndexAdvisor.advise(spark,
      Map("t" -> t, "u" -> u, "a" -> a, "b" -> b), wl)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(4), r.getLong(6), r.getBoolean(7)))

  test("selective eq predicate advises; 3-value column does not") {
    val out = run(Seq(
      ("SELECT * FROM t WHERE t_id = 42", 10L),
      ("SELECT * FROM t WHERE t_cat = 'cat1'", 99L)))
    val byCol = out.map(r => r._2 -> r).toMap
    assert(byCol("t_id") === (("t", "t_id", "eq_predicate", 10L, 1000L, true)))
    assert(byCol("t_cat") === (("t", "t_cat", "eq_predicate", 99L, 3L, false)))
    // advised rows rank first
    assert(out.head._2 === "t_id")
  }

  test("join keys advise bucketing on both sides; group/order advise sort") {
    val out = run(Seq(
      ("SELECT t_id, sum(u_val) FROM t JOIN u ON t_ref = u_id " +
        "GROUP BY t_id ORDER BY t_id", 7L)))
    val kinds = out.map(r => (r._1, r._2, r._3)).toSet
    assert(kinds.contains(("t", "t_ref", "join_key")))
    assert(kinds.contains(("u", "u_id", "join_key")))
    assert(kinds.contains(("t", "t_id", "group_order")))
    // u_id: 500 distinct > 30 → bucketing advised
    assert(out.find(r => r._2 == "u_id").get._6)
  }

  test("ambiguous and unknown columns are skipped; calls aggregate") {
    val out = run(Seq(
      ("SELECT * FROM a WHERE shared = 1", 5L),
      ("SELECT * FROM t WHERE nosuchcol = 2", 5L),
      ("SELECT * FROM t WHERE t_id = 1", 3L),
      ("SELECT * FROM t WHERE t_id = 77", 4L)))
    assert(!out.exists(_._2 == "shared"))
    assert(!out.exists(_._2 == "nosuchcol"))
    assert(out.find(_._2 == "t_id").get._4 === 7L) // 3 + 4 calls
  }

  test("whatIf: advised layout yields real reader-level partition pruning") {
    import org.apache.spark.sql.functions._
    val scratch = java.nio.file.Files.createTempDirectory("graft-whatif-spec-").toFile
    try {
      val df = spark.range(1000).selectExpr("id", "CAST(id % 4 AS STRING) AS seg")
      val out = IndexAdvisor.whatIf(df.toDF(), "seg", Seq("1", "9"),
        scratch.getAbsolutePath).collect()
      val hit = out.find(_.getAs[String]("value") == "1").get
      assert(hit.getAs[Long]("partitions_total") === 4L)
      assert(hit.getAs[Long]("partitions_scanned") === 1L)
      assert(hit.getAs[Long]("rows_matched") === 250L)
      assert(hit.getAs[Boolean]("improved"))
      val miss = out.find(_.getAs[String]("value") == "9").get
      assert(miss.getAs[Long]("partitions_scanned") === 0L)
      assert(miss.getAs[Long]("rows_matched") === 0L)
      // the plan-level hypopg verdict: the scan carries a partition
      // filter (reader prunes BEFORE reading, not a post-scan filter)
      val laid = spark.read.parquet(scratch.getAbsolutePath)
      val planStr = laid.filter(col("seg") === "1")
        .queryExecution.executedPlan.toString
      assert(planStr.contains("PartitionFilters") &&
        planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("seg"),
        s"no partition filter on seg in plan:\n$planStr")
    } finally {
      Sessions.rmTree(scratch)
    }
  }

  test("advisor stats plan has no Expand (per-column pruned branches)") {
    import org.apache.spark.sql.functions._
    // capture the stats aggregates' plans via a listener-free check:
    // build the same shape advise() now uses and assert no Expand node
    val t = spark.range(1000).selectExpr("id AS a", "id % 10 AS b").toDF()
    val plan = t.select(col("a"))
      .agg(count(lit(1)), count_distinct(col("a")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"Expand in stats plan:\n$plan")
  }

  test("whatIfBucketing: bucketed layout plans the join with zero shuffles") {
    import org.apache.spark.sql.functions._
    val scratch = java.nio.file.Files.createTempDirectory("graft-bucket-spec-").toFile
    try {
      val l = spark.range(500).selectExpr("id AS k", "id * 2 AS a").toDF()
      val r = spark.range(2000).selectExpr("id % 500 AS k", "id AS b").toDF()
      val out = IndexAdvisor.whatIfBucketing(l, r, "k", 4,
        scratch.getAbsolutePath, "graft_bucket_spec").head()
      assert(out.getAs[Long]("shuffles_plain") === 2L)
      assert(out.getAs[Long]("shuffles_bucketed") === 0L)
      assert(out.getAs[Boolean]("shuffle_eliminated"))
      assert(out.getAs[Long]("rows_joined") === 2000L)
      // measurement must not leak its planner pins into the session
      assert(spark.conf.get("spark.sql.adaptive.enabled") !== "false")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_spec_l")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_spec_r")
      Sessions.rmTree(scratch)
    }
  }
}
