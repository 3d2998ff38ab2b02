package graft

import org.apache.spark.sql.functions._

/**
 * The exact-decimal-moment statistics (stats_agg query) agree with
 * Spark's float built-ins (var_pop/stddev_pop/covar_pop/corr) to
 * 1e-9 relative — same math, minus the partition-order float drift
 * the decimal moments exist to remove.
 */
class StatsAggSpec extends SparkSpec {

  test("decimal-moment stats equal the float built-ins within 1e-9") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val builtin = li.groupBy("l_returnflag").agg(
      var_pop(col("l_quantity")).as("v"),
      stddev_pop(col("l_quantity")).as("s"),
      covar_pop(col("l_quantity"), col("l_extendedprice")).as("c"),
      corr(col("l_quantity"), col("l_extendedprice")).as("r"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val exact = SparkEntry.queries("stats_agg")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(exact.keySet == builtin.keySet && exact.nonEmpty)
    exact.foreach { case (k, (v, s, c, r)) =>
      val (bv, bs, bc, br) = builtin(k)
      // the query rounds to 6 decimals — allow the rounding grain plus
      // the float drift the decimal moments remove
      def close(a: Double, b: Double) =
        math.abs(a - b) <= 5e-7 + 1e-9 * math.max(math.abs(a), math.abs(b))
      assert(close(v, bv) && close(s, bs) && close(c, bc) && close(r, br),
        s"$k: exact=($v,$s,$c,$r) builtin=($bv,$bs,$bc,$br)")
    }
  }
}
