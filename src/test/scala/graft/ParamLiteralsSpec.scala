package graft

import graft.plans.ParamLiteral
import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types._

/**
 * Filter constants become [[ParamLiteral]]s right before codegen, so
 * statements that differ only in a constant share one compiled class.
 * Every check compares against the same physical plan with the
 * constants turned back into `Literal`s.
 */
class ParamLiteralsSpec extends SparkSpec {

  /** A session of its own (temp views) with AQE off, so `executedPlan`
    * is the plan that runs. */
  private lazy val s: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def params(p: SparkPlan): Seq[ParamLiteral] =
    p.flatMap(_.expressions.flatMap(_.collect { case x: ParamLiteral => x }))

  /** The plan with every ParamLiteral back as the Literal it replaced. */
  private def plain(p: SparkPlan): SparkPlan =
    p.transformAllExpressions { case x: ParamLiteral => Literal(x.value, x.dataType) }

  /** Rows as text, in a fixed order: UnsafeRow text is its bytes, so
    * NaN payloads and the sign of zero count. */
  private def run(p: SparkPlan): Seq[String] = p.executeCollect().map(_.toString).toSeq.sorted

  /** The rows of `sql`, asserted equal to the plain plan's; the rule
    * must have fired. */
  private def parity(sql: String): Seq[String] = {
    val p = s.sql(sql).queryExecution.executedPlan
    assert(params(p).nonEmpty, s"no constant parameterized in: $sql\n$p")
    val got = run(p)
    assert(got == run(plain(p)), sql)
    got
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("q1 statements that differ only in the cut date compile once") {
    // one session as deployed (AQE on) for the compile count, and the
    // AQE-off one for the plain-plan parity
    val aqe = spark.newSession()
    for (x <- Seq(aqe, s)) Tables(x, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    val template = SparkEntry.oracleSql("q1_pricing")
    assert(template.contains("2001-09-02"))
    val cuts = (0 until 12).map(i => java.time.LocalDate.of(1995, 3, 1).plusDays(200L * i))
    def q1(x: SparkSession, cut: java.time.LocalDate) =
      x.sql(template.replace("2001-09-02", cut.toString))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val counts = cuts.map { cut =>
      val before = compiles()
      val df = q1(aqe, cut)
      val got = df.collect().toSeq
      if (cut != cuts.head)
        assert(compiles() == before, s"cut $cut compiled ${compiles() - before} classes")
      assert(nodes(df.queryExecution.executedPlan).flatMap(_.expressions)
        .flatMap(_.collect { case x: ParamLiteral => x.dataType }) == Seq(TimestampType))
      val p = q1(s, cut).queryExecution.executedPlan
      assert(params(p).map(_.dataType) == Seq(TimestampType))
      assert(run(p) == run(plain(p)), s"cut $cut")
      assert(got == q1(s, cut).collect().toSeq)
      got.map(_.getLong(8)).sum
    }
    // the cuts move the result
    assert(counts.distinct.size > 6 && counts == counts.sorted, counts)
  }

  private lazy val edge: Unit = {
    val schema = StructType(Seq("i" -> IntegerType, "l" -> LongType, "d" -> DoubleType,
      "f" -> FloatType, "sh" -> ShortType, "b" -> ByteType, "dt" -> DateType,
      "ts" -> TimestampType, "tn" -> TimestampNTZType).map { case (n, t) => StructField(n, t) })
    def row(i: Int, l: Long, d: Double, f: Float, sh: Short, b: Byte, day: Int): Row =
      Row(i, l, d, f, sh, b, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L + i)),
        java.time.LocalDateTime.ofEpochSecond(day * 86400L - i, 0, java.time.ZoneOffset.UTC))
    val rows = Seq(
      row(0, 0L, 0.0, 0f, 0, 0, 18000), row(1, -1L, -0.0, -0f, -1, -1, 18001),
      row(Int.MaxValue, Long.MaxValue, Double.NaN, Float.NaN, Short.MaxValue, Byte.MaxValue, 18500),
      row(Int.MinValue, Long.MinValue, Double.NegativeInfinity, Float.PositiveInfinity,
        Short.MinValue, Byte.MinValue, 17000),
      row(7, 7L, 1.5, 1.5f, 7, 7, 18262), row(-7, 42L, 2.5e-308, -3.25f, 300, -100, 19000),
      Row(null, null, null, null, null, null, null, null, null))
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema).createOrReplaceTempView("edge")
  }

  test("NaN and -0.0 constants, null columns, and float, short and byte columns") {
    edge
    for (w <- Seq("d = CAST('NaN' AS DOUBLE)", "d > -0.0D", "d = -0.0D", "d <=> 0.0D",
        "d * -0.0D = 0.0D", "d + 1.0D > 1.0D", "d / 0.5D < 4.0D",
        "f = CAST('NaN' AS FLOAT)", "f >= CAST(-0.0 AS FLOAT)", "f - 1.5F < 0.0F",
        "sh > 3S", "sh * 1S = 7S", "b = -1Y", "b < 0Y OR sh = 300S", "i % 2 = 1", "l <> 42L"))
      parity(s"SELECT * FROM edge WHERE $w")
    // null rows fail every comparison, on both plans
    assert(parity("SELECT * FROM edge WHERE i >= -2147483648").size == 6)
  }

  test("int and long boundary constants overflow with the same ANSI error") {
    edge
    def condition(f: => Any): String =
      try { f; "none" }
      catch { case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
          .getOrElse(e.toString)
      }
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
    for (w <- Seq("i + 2147483647 > 0", "i - 2147483647 < 0", "l + 9223372036854775807L > 0",
        "l * 2L > 0")) {
      val p = s.sql(s"SELECT * FROM edge WHERE $w").queryExecution.executedPlan
      assert(params(p).nonEmpty, w)
      val (got, want) = (condition(run(p)), condition(run(plain(p))))
      assert(got == "ARITHMETIC_OVERFLOW" && got == want, s"$w: $got vs $want")
    }
    // in range, the same constants pass
    parity("SELECT * FROM edge WHERE i <= 0 AND i + 2147483647 > 0")
  }

  test("date and timestamp comparisons and an IN list") {
    edge
    for (w <- Seq("dt >= DATE '2019-05-01'", "dt BETWEEN DATE '2016-01-01' AND DATE '2020-01-01'",
        "ts < TIMESTAMP '2020-01-01 00:00:07'", "tn > TIMESTAMP_NTZ '2019-04-23 23:59:00'",
        "i IN (0, 7, -7, 2147483647)", "d IN (-0.0D, CAST('NaN' AS DOUBLE), 1.5D)",
        "l IN (42L, 7L) AND dt < DATE '2025-01-01'")) {
      val got = parity(s"SELECT * FROM edge WHERE $w")
      assert(got.nonEmpty, w)
    }
  }

  test("scans keep their literals: pushed filters and partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_params").toFile
    try {
      val path = s"${dir.getPath}/parts"
      s.range(0, 400).selectExpr("id", "CAST(id % 4 AS INT) AS p", "id * 0.5D AS x")
        .write.partitionBy("p").parquet(path)
      s.read.parquet(path).createOrReplaceTempView("parts")
      val df = s.sql("SELECT id, x FROM parts WHERE p = 2 AND x > 50.5D")
      val got = parity("SELECT id, x FROM parts WHERE p = 2 AND x > 50.5D")
      assert(got.size == 75)
      val p = df.queryExecution.executedPlan
      val scan = p.collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.dataFilters.forall(_.find(_.isInstanceOf[ParamLiteral]).isEmpty))
      assert(scan.partitionFilters.forall(_.find(_.isInstanceOf[ParamLiteral]).isEmpty))
      assert(scan.toString.contains("GreaterThan(x,50.5)"), scan.toString)
      assert(p.collectFirst { case f: FilterExec => f }.exists(f => params(f).nonEmpty))
      df.collect()
      assert(scan.metrics("numPartitions").value == 1)
    } finally Sessions.rmTree(dir)
  }

  test("filters that differ only in a constant never share an exchange") {
    edge
    def agg(c: Int) = s"SELECT i % 3 AS g, count(*) AS n FROM edge WHERE i > $c GROUP BY i % 3"
    val union = s.sql(s"${agg(-10)} UNION ALL ${agg(5)}")
    val p = union.queryExecution.executedPlan
    assert(p.collect { case r: ReusedExchangeExec => r }.isEmpty, p)
    def counts(df: DataFrame) = df.collect().map(r => (r.get(0), r.getLong(1))).toSeq
    assert(counts(union).sortBy(_.toString) ==
      (counts(s.sql(agg(-10))) ++ counts(s.sql(agg(5)))).sortBy(_.toString))
    // equal constants still reuse the shuffle
    val same = s.sql(s"${agg(5)} UNION ALL ${agg(5)}").queryExecution.executedPlan
    assert(same.collect { case r: ReusedExchangeExec => r }.size == 1, same)
    // a constant keeps its value through canonicalization, floats by bits
    assert(ParamLiteral(0.0, DoubleType).canonicalized != ParamLiteral(-0.0, DoubleType).canonicalized)
    assert(ParamLiteral(Double.NaN, DoubleType).canonicalized == ParamLiteral(Double.NaN, DoubleType))
    assert(ParamLiteral(5, IntegerType) != ParamLiteral(5L, LongType))
  }

  test("explain text is identical with and without the rule") {
    edge
    Tables(s, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    for (q <- Seq(SparkEntry.oracleSql("q6_forecast"),
        "SELECT * FROM edge WHERE dt >= DATE '2019-05-01' AND i IN (0, 7) AND d * 2.0D > -0.0D")) {
      val p = s.sql(q).queryExecution.executedPlan
      assert(params(p).size >= 3, p)
      // a copied exchange takes a fresh plan id
      def text(x: SparkPlan) = x.treeString(verbose = true).replaceAll("plan_id=\\d+", "")
      assert(text(p) == text(plain(p)))
      val f = p.collect { case f: FilterExec => f.condition }
      assert(f.map(_.sql) == plain(p).collect { case f: FilterExec => f.condition.sql })
      assert(f.map(_.toString) == plain(p).collect { case f: FilterExec => f.condition.toString })
    }
  }
}
