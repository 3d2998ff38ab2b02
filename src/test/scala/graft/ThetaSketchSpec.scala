package graft

import graft.functions.ThetaSketch
import org.apache.spark.sql.functions._

/**
 * Theta/KMV sketch contracts: exact below k, bounded relative error
 * saturated, deterministic under repartitioning (the k-smallest set is
 * a pure function of the input set), and set-operation estimators
 * within their error budget on planted overlaps.
 */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  test("below k the sketch is exact and estimators are exact counts") {
    val df = spark.range(0, 10000)
      .select(((col("id") / 2).cast("long") % 500).as("v"), (col("id") % 2).as("g"))
    val sk = df.groupBy("g").agg(ThetaSketch.sketch(col("v"), 1024).as("sk"))
    val est = sk.select(col("g"), ThetaSketch.estimate(col("sk")).as("e"))
      .as[(Long, Double)].collect().toMap
    // both groups see all 500 distinct v values (10000 rows alternate)
    assert(est(0L) == 500.0 && est(1L) == 500.0)
  }

  test("saturated estimate within ~4/sqrt(k) relative error; repartition-invariant") {
    val n = 50000L
    val df = spark.range(0, n).select(col("id").as("v"))
    val e1 = df.agg(ThetaSketch.sketch(col("v"), 256).as("sk"))
      .select(ThetaSketch.estimate(col("sk"))).as[Double].head()
    assert(math.abs(e1 - n) / n <= 4.0 / math.sqrt(256.0),
      s"estimate $e1 for $n distinct")
    // the k-smallest distinct hash set is order/partitioning-independent
    val e2 = df.repartition(17, col("v"))
      .agg(ThetaSketch.sketch(col("v"), 256).as("sk"))
      .select(ThetaSketch.estimate(col("sk"))).as[Double].head()
    assert(e1 == e2, "sketch must be deterministic under repartitioning")
  }

  test("intersection/union estimates on a planted 20% overlap") {
    // A = [0, 50k), B = [40k, 90k): |A∩B| = 10k, |A∪B| = 90k
    val a = spark.range(0, 50000).agg(ThetaSketch.sketch(col("id"), 512).as("sk"))
    val b = spark.range(40000, 90000).agg(ThetaSketch.sketch(col("id"), 512).as("sk"))
    val row = a.select(col("sk").as("ska")).crossJoin(b.select(col("sk").as("skb")))
      .select(ThetaSketch.intersectionEstimate(col("ska"), col("skb")).as("i"),
        ThetaSketch.unionEstimate(col("ska"), col("skb")).as("u"))
      .as[(Double, Double)].head()
    // intersection error scales with the UNION's sampling rate — use a
    // generous 6/sqrt(k) band (still catches gross estimator bugs)
    assert(math.abs(row._1 - 10000.0) / 10000.0 <= 6.0 / math.sqrt(512.0) * 9,
      s"intersection estimate ${row._1}")
    assert(math.abs(row._2 - 90000.0) / 90000.0 <= 6.0 / math.sqrt(512.0),
      s"union estimate ${row._2}")
  }

  test("SQL surface: theta_sketch/theta_estimate/theta_intersection register") {
    spark.range(0, 300).createOrReplaceTempView("theta_sql_a")
    spark.range(100, 500).createOrReplaceTempView("theta_sql_b")
    val row = spark.sql(
      """SELECT theta_estimate(ska) AS na, theta_estimate(skb) AS nb,
        |  theta_intersection(ska, skb) AS ni, theta_union(ska, skb) AS nu
        |FROM (SELECT theta_sketch(id, 1024) AS ska FROM theta_sql_a),
        |     (SELECT theta_sketch(id, 1024) AS skb FROM theta_sql_b)""".stripMargin)
      .head()
    // both below k → everything exact: |A|=300, |B|=400, |A∩B|=200, |A∪B|=500
    assert(row.getDouble(0) == 300.0 && row.getDouble(1) == 400.0)
    assert(row.getDouble(2) == 200.0 && row.getDouble(3) == 500.0)
  }

  test("merge handles empty groups and null inputs") {
    val df = Seq((Some(1L), 0L), (None, 0L), (Some(2L), 0L))
      .toDF("v", "g")
    val e = df.groupBy("g").agg(ThetaSketch.sketch(col("v"), 64).as("sk"))
      .select(ThetaSketch.estimate(col("sk"))).as[Double].head()
    assert(e == 2.0, "nulls must not count")
  }
}
