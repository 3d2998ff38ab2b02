package graft

import graft.queries.RelationalSuite3
import org.apache.spark.sql.DataFrame

/**
 * Spec-level gate for the partsupp-dependent TPC-H shapes (Q2/Q11/
 * Q16/Q20): the driver data ships no partsupp table, so the fixture
 * synthesizes one (graft.sources.Partsupp — deterministic, distinct
 * suppliers per part, exact-arithmetic costs) into a temp sf-dir that
 * symlinks the real sf0.001 tables, then asserts each DataFrame query
 * equals its own oracle SQL run over the same session views. The same
 * keys auto-gate through graft.Verify + DuckDB the moment the driver
 * ships a real partsupp.parquet (the oracle SQL is ANSI on purpose).
 */
class TpchPartsuppSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_partsupp").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem")
    tables.foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$d/$t.parquet"),
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
    }
    graft.sources.Partsupp.synth(spark, sfDir)
      .write.mode("overwrite").parquet(s"$d/partsupp.parquet")
    (tables :+ "partsupp").foreach { t =>
      spark.read.parquet(s"$d/$t.parquet").createOrReplaceTempView(t)
    }
    d
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case x => x
    })

  test("synthetic partsupp: 4 distinct suppliers per part, keys in range") {
    val ps = spark.read.parquet(s"$dir/partsupp.parquet")
    val nSupp = spark.read.parquet(s"$dir/supplier.parquet").count()
    val perPart = ps.groupBy("ps_partkey")
      .agg(org.apache.spark.sql.functions.countDistinct("ps_suppkey").as("n"))
    assert(perPart.filter(org.apache.spark.sql.functions.col("n") =!= 4).count() == 0,
      "every part must have exactly 4 distinct suppliers")
    import org.apache.spark.sql.functions.col
    assert(ps.filter(col("ps_suppkey") < 1 || col("ps_suppkey") > nSupp).count() == 0)
    assert(ps.filter(col("ps_supplycost") !==
      col("ps_supplycost").cast("long").cast("double")).count() == 0,
      "supplycost must be integer-valued for exact fp64 sums")
  }

  for (name <- RelationalSuite3.partsuppKeys.toSeq.sorted) {
    test(s"$name matches its oracle SQL and is non-empty") {
      val got = rows(SparkEntry.queries(name)(spark, dir))
      val exp = rows(spark.sql(SparkEntry.oracleSql(name)))
      assert(got.nonEmpty, s"$name returned no rows — widen its predicates")
      assert(got.toSet == exp.toSet,
        s"$name: spark=${got.take(5)} oracle=${exp.take(5)}")
      assert(got.size == exp.size)
    }
  }
}
