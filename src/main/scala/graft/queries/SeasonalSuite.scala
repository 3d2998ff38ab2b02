package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.operators.Seasonal
import org.apache.spark.sql.functions._

/**
 * Time-series decomposition / forecast / anomaly gates (reference:
 * src/gausskernel/dbmind/deepsql/madlib_modules/facebook_prophet —
 * prophet_fit/prophet_predict's trend+seasonality shape; the dbmind
 * kernel ships the same rolling-z metric anomaly detector).
 *
 * Hash-exact by the house rules: the hourly series is exact LONG
 * counts/cents, every trend/seasonal/residual numerator stays an
 * exact integer across shuffles, and each emitted double is ONE
 * formula text shared verbatim with the DuckDB oracle (identical
 * IEEE trees). Phase is epoch-hour mod period — engine-neutral and
 * valid for any even period, not just 24.
 */
object SeasonalSuite {

  // shared DuckDB CTE prefix: dense hourly count series per event_type
  private val CountSeries =
    """obs AS (SELECT event_type AS key, date_trunc('hour', ts)::TIMESTAMP AS bucket,
      |    CAST(count(*) AS BIGINT) AS y_obs FROM events GROUP BY 1, 2),
      |bnd AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY key),
      |grd AS (SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bnd),
      |series AS (SELECT grd.key, grd.bucket, CAST(coalesce(o.y_obs, 0) AS BIGINT) AS y
      |  FROM grd LEFT JOIN obs o ON o.key = grd.key AND o.bucket = grd.bucket)""".stripMargin

  // same, over exact cents (round(value*100) — values are 2-decimal)
  private val CentsSeries =
    """obs AS (SELECT event_type AS key, date_trunc('hour', ts)::TIMESTAMP AS bucket,
      |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y_obs
      |  FROM events GROUP BY 1, 2),
      |bnd AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY key),
      |grd AS (SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bnd),
      |series AS (SELECT grd.key, grd.bucket, CAST(coalesce(o.y_obs, 0) AS BIGINT) AS y
      |  FROM grd LEFT JOIN obs o ON o.key = grd.key AND o.bucket = grd.bucket)""".stripMargin

  // decomposition CTE chain over `series` (period 24, h 12, 2m 48):
  // integer trend numerators, whole-period per-phase sums, centering
  private val DecomposeCtes =
    """wt AS (SELECT key, bucket, y,
      |    CAST(sum(y) OVER (PARTITION BY key ORDER BY bucket
      |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS BIGINT) AS s,
      |    lag(y, 12) OVER (PARTITION BY key ORDER BY bucket) AS ylag,
      |    lead(y, 12) OVER (PARTITION BY key ORDER BY bucket) AS ylead
      |  FROM series),
      |t AS (SELECT key, bucket, y,
      |    CASE WHEN ylag IS NOT NULL AND ylead IS NOT NULL
      |      THEN 2 * s - ylag - ylead END AS tnum,
      |    (CAST(epoch(bucket) AS BIGINT) // 3600) % 24 AS phase
      |  FROM wt),
      |tr AS (SELECT key, bucket, phase, y, tnum,
      |    row_number() OVER (PARTITION BY key ORDER BY bucket) - 1 AS i,
      |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n
      |  FROM t WHERE tnum IS NOT NULL),
      |tr2 AS (SELECT *, n // 24 AS mk FROM tr),
      |kept AS (SELECT key, phase, mk, 48 * y - tnum AS dnum FROM tr2 WHERE i < mk * 24),
      |ps AS (SELECT key, phase, CAST(sum(dnum) AS BIGINT) AS ssum,
      |    CAST(max(mk) AS BIGINT) AS mk FROM kept GROUP BY 1, 2),
      |kt AS (SELECT key, CAST(sum(ssum) AS BIGINT) AS tsum FROM ps GROUP BY 1),
      |sea AS (SELECT ps.key, phase, mk, 24 * ssum - tsum AS cnum
      |  FROM ps JOIN kt ON ps.key = kt.key)""".stripMargin

  private val ForecastOracle: String =
    s"""WITH $CentsSeries,
       |$DecomposeCtes,
       |mom AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(i) AS BIGINT) AS sx, CAST(sum(i * i) AS BIGINT) AS sxx,
       |    CAST(sum(i * tnum) AS BIGINT) AS sxy, CAST(sum(tnum) AS BIGINT) AS sy
       |  FROM tr2 GROUP BY key),
       |ends AS (SELECT key, max(bucket) AS hi FROM series GROUP BY key),
       |fut AS (SELECT key, f, hi + f * (INTERVAL 1 HOUR) AS bucket,
       |    (CAST(epoch(hi + f * (INTERVAL 1 HOUR)) AS BIGINT) // 3600) % 24 AS phase
       |  FROM (SELECT key, hi, unnest(generate_series(1, 12)) AS f FROM ends)),
       |joined AS (SELECT fut.key AS key, fut.bucket AS bucket,
       |    mom.n AS n, mom.sx AS sx, mom.sxx AS sxx, mom.sxy AS sxy, mom.sy AS sy,
       |    sea.mk AS mk, sea.cnum AS cnum,
       |    n - 1 + 12 + f AS xf
       |  FROM fut LEFT JOIN mom ON fut.key = mom.key
       |    LEFT JOIN sea ON fut.key = sea.key AND fut.phase = sea.phase)
       |SELECT key, bucket,
       |  CASE WHEN n >= 2 THEN (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) + CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * (CAST(xf AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 48e0 END AS trend_part,
       |  coalesce(CAST(cnum AS DOUBLE) / (48e0 * CAST(mk AS DOUBLE) * 24e0), 0e0) AS seasonal,
       |  CASE WHEN n >= 2 THEN (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) + CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * (CAST(xf AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 48e0 END
       |    + coalesce(CAST(cnum AS DOUBLE) / (48e0 * CAST(mk AS DOUBLE) * 24e0), 0e0) AS forecast
       |FROM joined ORDER BY key, bucket""".stripMargin

  val gated: Seq[Gated] = Seq(
    // ---- classical additive decomposition (F13): dense hourly COUNT
    // series per event_type, period 24 — trend (centered 2×24 MA),
    // per-phase seasonal, exact residual ----
    Gated("seasonal_decompose", (s, dir) => {
      val series = Seasonal.hourlyCounts(Tables(s, dir, "events"), "event_type", "ts")
      Seasonal.decompose(series, 24).transform(Gate.ordered(_, "key", "bucket"))
    },
      Some(s"""WITH $CountSeries,
         |$DecomposeCtes
         |SELECT t.key AS key, t.bucket AS bucket, t.y AS y,
         |  CAST(tnum AS DOUBLE) / 48e0 AS trend,
         |  CAST(cnum AS DOUBLE) / (48e0 * CAST(mk AS DOUBLE) * 24e0) AS seasonal,
         |  CAST(48 * mk * 24 * y - mk * 24 * tnum - cnum AS DOUBLE) / (48e0 * CAST(mk AS DOUBLE) * 24e0) AS resid
         |FROM t LEFT JOIN sea ON t.key = sea.key AND t.phase = sea.phase
         |ORDER BY key, bucket""".stripMargin)),

    // ---- trend+seasonal forecast (F13): hourly cents series per
    // event_type, 12 buckets past each key's grid end ----
    Gated("seasonal_forecast", (s, dir) => {
      val series = Seasonal.hourlySeries(
        Tables(s, dir, "events"), "event_type", "ts", "value")
      Seasonal.forecast(series, 24, 12).transform(Gate.ordered(_, "key", "bucket"))
    },
      Some(ForecastOracle)),

    // ---- prophet_fit / prophet_predict two-step surface (F13): fit
    // writes an exact-integer model relation, predict runs from the
    // PARQUET-RELOADED model — bit-identical to the fused forecast,
    // proven by sharing its oracle ----
    Gated("seasonal_predict_by", (s, dir) => {
      val series = Seasonal.hourlySeries(
        Tables(s, dir, "events"), "event_type", "ts", "value")
      val path = s"target/graft-seasonal-model/${new java.io.File(dir).getName}"
      Seasonal.fit(series, 24).write.mode("overwrite").parquet(path)
      Seasonal.predict(s.read.parquet(path), 12)
        .transform(Gate.ordered(_, "key", "bucket"))
    },
      // the model round-trip must reproduce the fused forecast exactly —
      // ONE shared oracle text (a second literal could silently
      // de-synchronize the same-oracle invariant the gate depends on)
      Some(ForecastOracle)),

    // ---- rolling z-score anomalies (F13): each bucket vs the 24
    // fully-observed buckets strictly before it, k = 3 sigma, the
    // test evaluated in exact integers (no sqrt) ----
    Gated("ts_anomalies", (s, dir) => {
      val series = Seasonal.hourlyCounts(Tables(s, dir, "events"), "event_type", "ts")
      Seasonal.anomalies(series, 24, 3).transform(Gate.ordered(_, "key", "bucket"))
    },
      Some(s"""WITH $CountSeries,
         |w AS (SELECT key, bucket, y,
         |    CAST(sum(y) OVER tw AS BIGINT) AS s,
         |    CAST(sum(y * y) OVER tw AS BIGINT) AS q,
         |    CAST(count(*) OVER tw AS BIGINT) AS cnt
         |  FROM series
         |  WINDOW tw AS (PARTITION BY key ORDER BY bucket
         |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         |SELECT key, bucket, y,
         |  CAST(s AS DOUBLE) / 24e0 AS mean,
         |  (24 * y - s) * (24 * y - s) > 9 * (24 * q - s * s) AS is_anom
         |FROM w WHERE cnt = 24 ORDER BY key, bucket""".stripMargin)),

    // ---- WEEKLY decomposition over DAILY buckets (F13): odd period
    // 7 takes the plain centered 7-MA (denominator 7, not 2m); phase
    // = epoch-day mod 7 ----
    Gated("seasonal_weekly", (s, dir) => {
      val series = Seasonal.dailyCounts(Tables(s, dir, "events"), "event_type", "ts")
      Seasonal.decompose(series, 7, stepSeconds = 86400L)
        .transform(Gate.ordered(_, "key", "bucket"))
    },
      // odd period: trend numerator is the plain ±3 window sum over
      // denominator 7 (no half-weight endpoints)
      Some("""WITH obs AS (SELECT event_type AS key, date_trunc('day', ts)::TIMESTAMP AS bucket,
        |    CAST(count(*) AS BIGINT) AS y_obs FROM events GROUP BY 1, 2),
        |bnd AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY key),
        |grd AS (SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket FROM bnd),
        |series AS (SELECT grd.key, grd.bucket, CAST(coalesce(o.y_obs, 0) AS BIGINT) AS y
        |  FROM grd LEFT JOIN obs o ON o.key = grd.key AND o.bucket = grd.bucket),
        |wt AS (SELECT key, bucket, y,
        |    CAST(sum(y) OVER (PARTITION BY key ORDER BY bucket
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s,
        |    lag(y, 3) OVER (PARTITION BY key ORDER BY bucket) AS ylag,
        |    lead(y, 3) OVER (PARTITION BY key ORDER BY bucket) AS ylead
        |  FROM series),
        |t AS (SELECT key, bucket, y,
        |    CASE WHEN ylag IS NOT NULL AND ylead IS NOT NULL THEN s END AS tnum,
        |    (CAST(epoch(bucket) AS BIGINT) // 86400) % 7 AS phase
        |  FROM wt),
        |tr AS (SELECT key, bucket, phase, y, tnum,
        |    row_number() OVER (PARTITION BY key ORDER BY bucket) - 1 AS i,
        |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n
        |  FROM t WHERE tnum IS NOT NULL),
        |tr2 AS (SELECT *, n // 7 AS mk FROM tr),
        |kept AS (SELECT key, phase, mk, 7 * y - tnum AS dnum FROM tr2 WHERE i < mk * 7),
        |ps AS (SELECT key, phase, CAST(sum(dnum) AS BIGINT) AS ssum,
        |    CAST(max(mk) AS BIGINT) AS mk FROM kept GROUP BY 1, 2),
        |kt AS (SELECT key, CAST(sum(ssum) AS BIGINT) AS tsum FROM ps GROUP BY 1),
        |sea AS (SELECT ps.key, phase, mk, 7 * ssum - tsum AS cnum
        |  FROM ps JOIN kt ON ps.key = kt.key)
        |SELECT t.key AS key, t.bucket AS bucket, t.y AS y,
        |  CAST(tnum AS DOUBLE) / 7e0 AS trend,
        |  CAST(cnum AS DOUBLE) / (7e0 * CAST(mk AS DOUBLE) * 7e0) AS seasonal,
        |  CAST(7 * mk * 7 * y - mk * 7 * tnum - cnum AS DOUBLE) / (7e0 * CAST(mk AS DOUBLE) * 7e0) AS resid
        |FROM t LEFT JOIN sea ON t.key = sea.key AND t.phase = sea.phase
        |ORDER BY key, bucket""".stripMargin)),

    // ---- seasonally-ADJUSTED anomalies (F13): the same k-sigma test
    // on the exact residual numerators — immune to the daily pattern's
    // own variance; integer squares promoted to DECIMAL(38) ----
    Gated("ts_anomalies_seasonal", (s, dir) => {
      val series = Seasonal.hourlyCounts(Tables(s, dir, "events"), "event_type", "ts")
      Seasonal.anomaliesAdjusted(series, 24, 24, 3)
        .transform(Gate.ordered(_, "key", "bucket"))
    },
      Some(s"""WITH $CountSeries,
         |$DecomposeCtes,
         |inter AS (SELECT t.key AS key, t.bucket AS bucket, t.y AS y, sea.mk AS mk,
         |    CAST(48 * mk * 24 * y - mk * 24 * tnum - cnum AS BIGINT) AS rnum
         |  FROM t JOIN sea ON t.key = sea.key AND t.phase = sea.phase
         |  WHERE tnum IS NOT NULL),
         |w AS (SELECT key, bucket, y, rnum, mk,
         |    CAST(sum(rnum) OVER tw AS BIGINT) AS s,
         |    sum(CAST(rnum AS HUGEINT) * CAST(rnum AS HUGEINT)) OVER tw AS q,
         |    CAST(count(*) OVER tw AS BIGINT) AS cnt
         |  FROM inter
         |  WINDOW tw AS (PARTITION BY key ORDER BY bucket
         |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         |SELECT key, bucket, y,
         |  CAST(rnum AS DOUBLE) / (48e0 * CAST(mk AS DOUBLE) * 24e0) AS resid,
         |  CAST(24 * rnum - s AS HUGEINT) * CAST(24 * rnum - s AS HUGEINT)
         |    > 9 * (24 * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS is_anom
         |FROM w WHERE cnt = 24 ORDER BY key, bucket""".stripMargin))
  )
}
