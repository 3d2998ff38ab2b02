package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = Tables(spark, sfDir, "orders").cache()

  test("custom TopKPerKeyExec equals window row_number") {
    // compound order value: unique per row -> deterministic top-k
    val df = orders.withColumn("ordv",
      col("o_totalprice") * 1e6 - col("o_orderkey"))
    val viaCustom = TopKPerKey.perKey(df, Seq("o_custkey"), "ordv", 3, desc = true)
      .select("o_custkey", "o_orderkey").as[(Long, Long)].collect().toSet
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val viaWindow = orders.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select("o_custkey", "o_orderkey").as[(Long, Long)].collect().toSet
    assert(viaCustom == viaWindow)
  }

  test("custom plan shuffles once and never sorts") {
    val df = orders.withColumn("ordv", col("o_totalprice") * 1e6 - col("o_orderkey"))
    val plan = TopKPerKey.perKey(df, Seq("o_custkey"), "ordv", 3, desc = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    assert(!plan.contains("Sort "), s"unexpected sort in:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("optimizer rule rewrites window row_number <= k into TopKPerKey") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
    val q = orders.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3).drop("rk")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("TopKPerKeyPlan"), s"not rewritten:\n$plan")
    assert(!plan.contains("Window"), plan)
    // equivalence vs an un-rewritten session path: compare against
    // explicit window evaluation through a fresh non-optimized frame
    val viaOp = q.select("o_custkey", "o_orderkey").as[(Long, Long)]
      .collect().toSet
    // compute expected with plain scala over collected rows
    val expected = orders.select("o_custkey", "o_orderkey", "o_totalprice")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).toSeq
      .flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).toSeq
      }
      .map(r => (r._1, r._2)).toSet
    // ties on o_totalprice make membership ambiguous at the boundary;
    // compare per-group sizes and the unambiguous members
    assert(viaOp.size == expected.size)
    val safeGroups = orders.groupBy("o_custkey", "o_totalprice")
      .count().filter($"count" > 1).select("o_custkey")
      .distinct().as[Long].collect().toSet
    assert(viaOp.filterNot(r => safeGroups(r._1)) ==
      expected.filterNot(r => safeGroups(r._1)))
  }

  test("SQL-registered vector functions work in spark.sql") {
    Tables(spark, sfDir, "embeddings").createOrReplaceTempView("emb_sql")
    val r = spark.sql(
      """SELECT e.vec_id,
        |  l2_distance(e.embedding, q.embedding) AS d,
        |  round(vector_norm(e.embedding), 6) AS nrm,
        |  hamming_distance(binary_quantize(e.embedding), binary_quantize(q.embedding)) AS h
        |FROM emb_sql e, (SELECT embedding FROM emb_sql WHERE vec_id = 0) q
        |ORDER BY d, vec_id LIMIT 5""".stripMargin).collect()
    assert(r.length == 5)
    assert(r.head.getLong(0) == 0L && r.head.getDouble(1) == 0.0)
    assert(r.forall(_.getDouble(2) > 0))
  }
}
