package graft

import graft.operators.Seasonal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Seasonal decomposition / forecast / anomaly contracts beyond the
 * driver gates (which pin hash-exactness vs DuckDB on events data):
 *  - exact additive reconstruction y = trend + seasonal + resid;
 *  - phases cover the FULL period for period > 24 (the hour-of-day
 *    derivation bug: hour(bucket) % 48 never reaches 24..47);
 *  - a pure trend+seasonal signal is recovered and forecast exactly;
 *  - forecast drops NO key: short-history keys emit rows with null
 *    forecast (< 2 trend points) or trend-only forecast (< 1 full
 *    period of trend rows, seasonal 0);
 *  - anomalies flags a planted spike and nothing on a flat series.
 */
class SeasonalSpec extends SparkSpec {
  import spark.implicits._

  /** Dense hourly series from (key, epochHour, y) triples. */
  private def series(rows: Seq[(String, Long, Long)]): DataFrame =
    rows.toDF("key", "eh", "y")
      .select(col("key"), timestamp_seconds(col("eh") * 3600L).as("bucket"), col("y"))

  // y(t) = 100 + 2t + s(phase): exact linear trend + period-4-ish wave
  // scaled up to period 24 (season repeats every 24 h, sums to zero)
  private val seasonPattern: Seq[Long] =
    (0 until 24).map(p => ((p % 4) match {
      case 0 => 12L; case 1 => -4L; case 2 => -12L; case 3 => 4L
    }))
  private def cleanSeries(nHours: Int): Seq[(String, Long, Long)] =
    (0 until nHours).map { t =>
      ("k", t.toLong, 100L + 2L * t + seasonPattern(t % 24))
    }

  test("decompose: exact additive reconstruction where all parts defined") {
    val dec = Seasonal.decompose(series(cleanSeries(24 * 6)), 24)
      .filter(col("trend").isNotNull && col("seasonal").isNotNull)
      .withColumn("err",
        abs(col("y").cast("double") - col("trend") - col("seasonal") - col("resid")))
    assert(dec.count() > 0)
    assert(dec.agg(max("err")).as[Double].head() < 1e-9)
  }

  test("decompose: linear+seasonal signal recovered (trend linear, phase means exact)") {
    val dec = Seasonal.decompose(series(cleanSeries(24 * 6)), 24)
      .filter(col("trend").isNotNull).orderBy("bucket").collect()
    // centered MA of an exactly linear trend + zero-sum period-24
    // season is the line itself: trend(t) = 100 + 2t, exactly
    dec.foreach { r =>
      val t = r.getAs[java.sql.Timestamp]("bucket").getTime / 3600000L
      assert(math.abs(r.getAs[Double]("trend") - (100.0 + 2.0 * t)) < 1e-9)
      assert(math.abs(r.getAs[Double]("seasonal") - seasonPattern((t % 24).toInt)) < 1e-9)
      assert(math.abs(r.getAs[Double]("resid")) < 1e-9)
    }
  }

  test("decompose: period 48 phases cover 0..47 (epoch-hour, not hour-of-day)") {
    // season with period 48: value depends on t % 48 — hour-of-day
    // phases would alias pairs of distinct phases together
    val rows = (0 until 48 * 5).map { t =>
      ("k", t.toLong, 1000L + (if (t % 48 < 24) 50L else -50L))
    }
    val dec = Seasonal.decompose(series(rows), 48)
      .filter(col("seasonal").isNotNull)
    val phases = dec
      .select(expr("pmod(unix_timestamp(bucket) DIV 3600, 48)").as("ph"))
      .distinct().as[Long].collect().toSet
    assert(phases.max >= 24, s"phases never reached 24+: $phases")
    // and the two half-period levels separate: ±50 around the flat trend
    val mids = dec.filter(col("trend").isNotNull)
      .select(col("seasonal")).as[Double].collect()
    assert(mids.exists(_ > 40.0) && mids.exists(_ < -40.0))
  }

  test("forecast: pure signal extrapolated exactly; horizon rows per key") {
    val fc = Seasonal.forecast(series(cleanSeries(24 * 6)), 24, 24)
    assert(fc.count() === 24)
    fc.collect().foreach { r =>
      val t = r.getAs[java.sql.Timestamp]("bucket").getTime / 3600000L
      val expected = 100.0 + 2.0 * t + seasonPattern((t % 24).toInt)
      assert(math.abs(r.getAs[Double]("forecast") - expected) < 1e-6,
        s"t=$t got ${r.getAs[Double]("forecast")} want $expected")
    }
  }

  test("forecast: short-history keys emit rows instead of vanishing") {
    // kA: full history. kB: 30 h → 6 trend points, mk=0 (no full
    // period) → trend-only forecast, seasonal exactly 0. kC: 10 h →
    // 0 trend points → null forecast. All keys must appear.
    val rows = cleanSeries(24 * 6).map { case (_, t, y) => ("kA", t, y) } ++
      (0 until 30).map(t => ("kB", t.toLong, 500L + 3L * t)) ++
      (0 until 10).map(t => ("kC", t.toLong, 7L))
    val fc = Seasonal.forecast(series(rows), 24, 6).cache()
    assert(fc.groupBy("key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("kA" -> 6L, "kB" -> 6L, "kC" -> 6L))
    val kb = fc.filter(col("key") === "kB").collect()
    kb.foreach { r =>
      assert(r.getAs[Double]("seasonal") === 0.0)
      // exact line 500 + 3t extrapolates exactly
      val t = r.getAs[java.sql.Timestamp]("bucket").getTime / 3600000L
      assert(math.abs(r.getAs[Double]("forecast") - (500.0 + 3.0 * t)) < 1e-6)
    }
    assert(fc.filter(col("key") === "kC").collect()
      .forall(r => r.isNullAt(r.fieldIndex("forecast"))))
    fc.unpersist()
  }

  test("anomalies: planted spike flagged, flat series silent") {
    val flat = (0 until 100).map(t => ("flat", t.toLong, 10L))
    val spiked = (0 until 100).map { t =>
      ("spk", t.toLong, if (t == 80) 500L else 10L + (t % 2)) }
    val an = Seasonal.anomalies(series(flat ++ spiked), 24, 3).cache()
    assert(an.filter(col("key") === "flat" && col("is_anom")).count() === 0)
    val hits = an.filter(col("key") === "spk" && col("is_anom"))
      .select("bucket").collect()
      .map(_.getAs[java.sql.Timestamp](0).getTime / 3600000L).toSet
    assert(hits.contains(80L), s"spike at t=80 not flagged: $hits")
    an.unpersist()
  }

  test("fit/predict two-step == fused forecast, bit-exact through parquet") {
    val rows = cleanSeries(24 * 6).map { case (_, t, y) => ("kA", t, y) } ++
      (0 until 10).map(t => ("kC", t.toLong, 7L)) // zero trend rows
    val s = series(rows)
    val fused = Seasonal.forecast(s, 24, 6).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.get(2), r.get(3), r.get(4)))
      .sortBy(r => (r._1, r._2.getTime))
    val dir = java.nio.file.Files.createTempDirectory("graft-seas-model-").toFile
    try {
      Seasonal.fit(s, 24).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val twoStep = Seasonal.predict(spark.read.parquet(dir.getAbsolutePath), 6)
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.get(2), r.get(3), r.get(4)))
        .sortBy(r => (r._1, r._2.getTime))
      assert(twoStep.toSeq === fused.toSeq) // bit-exact, nulls included
      // the zero-trend key survived the round trip with null forecasts
      assert(twoStep.count(_._1 == "kC") === 6)
      assert(twoStep.filter(_._1 == "kC").forall(_._5 == null))
    } finally {
      Sessions.rmTree(dir)
    }
  }

  test("predict refuses a model with mixed periods") {
    val s = series(cleanSeries(24 * 3))
    val m = Seasonal.fit(s, 24).unionByName(
      Seasonal.fit(s, 48).limit(1))
    intercept[IllegalArgumentException] { Seasonal.predict(m, 3) }
  }

  test("adjusted anomalies: daily pattern masks the raw test, not the residual one") {
    // strong period-24 pattern (amplitude 200) + one genuine +40 spike
    // buried mid-range: the raw z-test's window variance IS the
    // pattern's variance, so the spike hides under 3 sigma; after
    // seasonal adjustment the residual noise floor is ~zero and the
    // spike is unmissable.
    val spikeT = 24 * 4 + 7
    val rows = (0 until 24 * 8).map { t =>
      val base = 1000L + (if (t % 24 < 12) 200L else -200L)
      ("k", t.toLong, if (t == spikeT) base + 40L else base)
    }
    val s = series(rows)
    val raw = Seasonal.anomalies(s, 24, 3)
      .filter(col("is_anom")).select("bucket").collect()
      .map(_.getAs[java.sql.Timestamp](0).getTime / 3600000L).toSet
    val adj = Seasonal.anomaliesAdjusted(s, 24, 24, 3)
      .filter(col("is_anom")).select("bucket").collect()
      .map(_.getAs[java.sql.Timestamp](0).getTime / 3600000L).toSet
    assert(!raw.contains(spikeT.toLong),
      s"raw test unexpectedly saw the masked spike: $raw")
    assert(adj.contains(spikeT.toLong), s"adjusted test missed the spike: $adj")
    // on otherwise-noiseless data the spike contaminates its own phase
    // mean, so its phase-mates carry the only nonzero residual echoes —
    // every other flag would be a real defect
    assert((adj - spikeT.toLong).forall(_ % 24 == spikeT % 24),
      s"flags off the spike's phase: ${adj.filter(_ % 24 != spikeT % 24)}")
  }

  test("odd period 7 over daily buckets: clean weekly signal recovered exactly") {
    // zero-sum weekly pattern + exact linear trend; the plain centered
    // 7-MA recovers the line and the phase means recover the pattern
    val week = Seq(21L, -7L, -14L, 0L, 7L, -14L, 7L)
    val day = 86400L
    val rows = (0 until 7 * 8).map { d =>
      ("k", d.toLong, 100L + 2L * d + week(d % 7))
    }
    val s = rows.toDF("key", "d", "y")
      .select(col("key"), timestamp_seconds(col("d") * day).as("bucket"), col("y"))
    val dec = Seasonal.decompose(s, 7, stepSeconds = day)
      .filter(col("trend").isNotNull).collect()
    assert(dec.length === 7 * 8 - 6) // ±3 edges
    dec.foreach { r =>
      val d = r.getAs[java.sql.Timestamp]("bucket").getTime / (day * 1000L)
      assert(math.abs(r.getAs[Double]("trend") - (100.0 + 2.0 * d)) < 1e-9)
      assert(math.abs(r.getAs[Double]("seasonal") - week((d % 7).toInt)) < 1e-9)
      assert(math.abs(r.getAs[Double]("resid")) < 1e-9)
    }
    // and the forecast extrapolates the weekly signal exactly
    val fc = Seasonal.forecast(s, 7, 7, stepSeconds = day).collect()
    assert(fc.length === 7)
    fc.foreach { r =>
      val d = r.getAs[java.sql.Timestamp]("bucket").getTime / (day * 1000L)
      val want = 100.0 + 2.0 * d + week((d % 7).toInt)
      assert(math.abs(r.getAs[Double]("forecast") - want) < 1e-6,
        s"d=$d got ${r.getAs[Double]("forecast")} want $want")
    }
  }
}
