package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.streaming.{Sessionize, StreamAgg}
import org.apache.spark.sql.functions._

/**
 * Streaming-semantics queries (SURVEY §2 E1–E2), run in batch mode for
 * the correctness gate (identical code paths run under readStream;
 * StreamingSpec proves batch/stream equivalence).
 */
object StreamingSuite {
  val gated: Seq[Gated] = Seq(
    // streaming-dedup semantics (dropDuplicates within watermark on a
    // stream); batch form = keep-first per key, SQL-oracle-checked.
    Gated("stream_dedup", (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n_dups"))
        .transform(Gate.ordered(_, "user_id", "event_type")),
      Some("""SELECT user_id, event_type, min(event_id) AS first_event, count(*) AS n_dups
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming near-dup with EXACT VERIFICATION (batch form of the
    // stateful per-bucket verify operator; stream==batch asserted in
    // StreamingSpec). The distinct verified pair set equals batch
    // minhashPairs at the same tau, so the exact-Jaccard SQL oracle
    // applies — the stream path is hash-exact, not candidates-only.
    Gated("stream_neardup", (s, dir) => {
      val hits = graft.streaming.StreamDedup.bandDocs(
        Tables.spread(s, dir, "documents"), "text", "doc_id", "doc_id")
      graft.streaming.StreamDedup.verifiedPairs(hits, tau = 0.5).toDF()
        .dropDuplicates("id_a", "id_b")
        .transform(Gate.ordered(_, "id_a", "id_b"))
    },
      // the verified stream pair set = the exact tau>=0.5 Jaccard pair
      // set (same oracle shape as dedup_minhash; banding recall 1.0 at
      // the verified similarity levels on this corpus, checked at sf0.01
      // and sf0.1)
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(i::DOUBLE / (sa.n + sb.n - i)::DOUBLE, 6) AS jaccard
        |FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // JSON property extraction from the events payload.
    Gated("json_props", (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
          count(lit(1)).as("n"))
        .transform(Gate.ordered(_, "event_type")),
      Some("""SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gated("stream_window", (s, dir) =>
      StreamAgg.windowedAgg(Tables(s, dir, "events"))
        .transform(Gate.ordered(_, "window_start", "event_type")),
      Some("""SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // E7: INCREMENTAL MATVIEW over a change stream — the batch form
    // folds the same per-chunk delta applications foreachBatch
    // performs on the stream (StreamingSpec proves stream==batch under
    // micro-batch slicing; the delta algebra COMMUTES, so any slicing
    // yields the same view); the last chunk retracts every 10th event
    Gated("stream_matview", (s, dir) => {
      import s.implicits._
      val cents = "CAST(round(value * 100, 0) AS BIGINT)"
      val ev = Tables(s, dir, "events")
      def inserts(i: Int) = ev.filter(pmod(col("event_id"), lit(4)) === i)
        .select(col("event_type"), expr(cents).as("c"), lit(1).as("op"))
      val deletes = ev.filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_type"), expr(cents).as("c"), lit(-1).as("op"))
      val empty = Seq.empty[(String, Long, Long)].toDF("event_type", "n", "c")
      ((0 until 4).map(inserts) :+ deletes)
        .foldLeft(empty)((v, d) => graft.operators.Matview.applyDelta(
          v, d, Seq("event_type"), "n", Seq("c"), "op"))
        .transform(Gate.ordered(_, "event_type"))
    },
      // incremental refresh must land on the one-shot aggregate over the
      // post-change base (inserts minus the every-10th retractions)
      Some("""SELECT event_type, count(*)::BIGINT AS n,
        |  sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS c
        |FROM events WHERE event_id % 10 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // HOPPING windows on the stream path (E6): slide < size, each
    // event in 2 overlapping windows; batch run of the identical plan
    // is the gate, stream==batch in StreamingSpec
    Gated("stream_hop", (s, dir) =>
      StreamAgg.hoppingAgg(Tables(s, dir, "events"))
        .transform(Gate.ordered(_, "ws_epoch")),
      // identical to hop_window's enumeration (each event in exactly 2
      // phase-shifted 5-min-aligned 10-min windows); floor the epoch —
      // DuckDB's double→BIGINT cast rounds fractional seconds
      Some("""WITH e AS (SELECT event_id,
        |    CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ep FROM events),
        |a AS (SELECT event_id, ep - ep % 300 AS ws FROM e
        |      UNION ALL
        |      SELECT event_id, (ep - ep % 300) - 300 FROM e)
        |SELECT ws AS ws_epoch, count(*)::BIGINT AS n,
        |  sum(event_id)::BIGINT AS id_sum, min(event_id)::BIGINT AS first_id
        |FROM a GROUP BY ws ORDER BY ws""".stripMargin)),

    // stateless stream sampling: the deterministic hash-threshold
    // filter needs NO state, NO watermark — the same rows pass in any
    // micro-batch slicing (stream==batch in StreamingSpec with zero
    // state operators), which is what makes downsampling a stream
    // reproducible and replay-safe
    Gated("stream_sample", (s, dir) =>
      graft.operators.Sampling.hashFraction(
          Tables(s, dir, "events"), "event_id", 0.1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .transform(Gate.ordered(_, "event_id")),
      Some("""SELECT event_id, user_id, event_type FROM events
        |WHERE ((event_id * 2654435761) % 4294967296) % 1000000 < 100000
        |ORDER BY event_id""".stripMargin)),

    // streaming PREDICT BY (E8 × DB4AI): a ModelStore weight vector
    // scores the event stream as a pure codegen map — the model ships
    // as literals inside the plan, so inference keeps ZERO streaming
    // state (StreamingSpec: stream==batch, stateOperators empty) and
    // replays deterministically
    Gated("stream_score", (s, dir) => {
      val w = Array(-1.0, 0.03, 0.02) // a "loaded" linear model
      val feats = Seq(col("user_id") % 50, col("event_id") % 31)
      Tables(s, dir, "events").select(col("event_id"),
          graft.operators.ModelStore.predictLinear(w, feats).as("score"),
          graft.operators.ModelStore.predictLabel(w, feats).as("pred"))
        .transform(Gate.ordered(_, "event_id"))
    },
      Some("""SELECT event_id,
        |  -1e0 + 3e-2 * CAST(user_id % 50 AS DOUBLE)
        |    + 2e-2 * CAST(event_id % 31 AS DOUBLE) AS score,
        |  CASE WHEN -1e0 + 3e-2 * CAST(user_id % 50 AS DOUBLE)
        |    + 2e-2 * CAST(event_id % 31 AS DOUBLE) >= 0e0
        |  THEN 1 ELSE 0 END AS pred
        |FROM events ORDER BY event_id""".stripMargin)),

    // ONLINE rolling-z anomaly flags (E-series sibling of
    // ts_anomalies): the stateful per-key fold run in batch mode —
    // same dense-grid + exact-integer k-sigma semantics, so the
    // DuckDB window oracle applies verbatim; StreamingSpec slices a
    // memory stream over the same events and asserts emitted ⊆ batch
    // with high recall on watermark-closed buckets
    Gated("stream_anomalies", (s, dir) =>
      graft.streaming.StreamAnomaly.flags(
          Tables(s, dir, "events"), "event_type", "ts",
          lookback = 24, k = 3, streaming = false)
        .transform(Gate.ordered(_, "key", "bucket")),
      // identical text to the batch ts_anomalies oracle — the stateful
      // fold must reproduce the window operator exactly
      Some("""WITH obs AS (SELECT event_type AS key, date_trunc('hour', ts)::TIMESTAMP AS bucket,
        |    CAST(count(*) AS BIGINT) AS y_obs FROM events GROUP BY 1, 2),
        |bnd AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY key),
        |grd AS (SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bnd),
        |series AS (SELECT grd.key, grd.bucket, CAST(coalesce(o.y_obs, 0) AS BIGINT) AS y
        |  FROM grd LEFT JOIN obs o ON o.key = grd.key AND o.bucket = grd.bucket),
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

    // stream-static enrichment: the customer dim BROADCASTS (no join
    // state — only the windowed agg holds state, watermark-bounded);
    // batch run of the identical plan is the gate
    Gated("stream_enrich", (s, dir) =>
      StreamAgg.enrichedWindowedAgg(
          Tables(s, dir, "events"), Tables(s, dir, "customer"),
          "user_id", "c_custkey", "c_nationkey")
        .transform(Gate.ordered(_, "window_start", "c_nationkey")),
      Some("""SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, c_nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // stream-stream join semantics (time-bounded click -> purchase),
    // run batch for the gate; stream/batch equivalence in StreamingSpec.
    Gated("stream_join", (s, dir) => {
      val ev = Tables(s, dir, "events")
      StreamAgg.eventJoin(ev, ev, "click", "purchase", withinMinutes = 30)
        .groupBy(col("l_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("CAST(sum(CAST(r_value AS DECIMAL(18,2))) AS DOUBLE)").as("purchase_value"))
        .transform(Gate.ordered(_, "user_id"))
    },
      Some("""SELECT a.user_id, count(*) AS n_pairs,
        |  CAST(sum(CAST(b.value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Theta/KMV sketch set operations: distinct users per event type
    // AND their intersection/union — the set-op question HLL cannot
    // answer. Below k=4096 distinct values the sketch is EXACT by
    // construction (theta = max, retained = the whole distinct hash
    // set), so this gate is hash-exact against COUNT(DISTINCT) SQL;
    // the approximate regime (50k values through k=256) is
    // error-bound-asserted in ThetaSketchSpec.
    Gated("theta_sketch", (s, dir) => {
      import graft.functions.ThetaSketch
      val ev = Tables(s, dir, "events")
      val sk = ev.groupBy(col("event_type"))
        .agg(ThetaSketch.sketch(col("user_id")).as("sk"))
      val a = sk.filter(col("event_type") === "click").select(col("sk").as("ska"))
      val b = sk.filter(col("event_type") === "purchase").select(col("sk").as("skb"))
      a.crossJoin(b) // 1×1
        .select(
          ThetaSketch.estimate(col("ska")).cast("long").as("n_click_users"),
          ThetaSketch.estimate(col("skb")).cast("long").as("n_purchase_users"),
          ThetaSketch.intersectionEstimate(col("ska"), col("skb")).cast("long")
            .as("n_both"),
          ThetaSketch.unionEstimate(col("ska"), col("skb")).cast("long")
            .as("n_either"))
    },
      // exact below k: the sketch gate equals plain COUNT(DISTINCT) SQL
      Some("""SELECT
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'click') AS n_click_users,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'purchase') AS n_purchase_users,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'click' AND user_id IN (
        |     SELECT user_id FROM events WHERE event_type = 'purchase'))
        |    AS n_both,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type IN ('click', 'purchase')) AS n_either""".stripMargin)),

    // AS-OF join (backward): each purchase enriched with the user's
    // most recent click at-or-before it — union+window plan, one
    // shuffle, deterministic (event_id tiebreak on equal timestamps);
    // left-join semantics (no prior click → NULLs). The SQL oracle
    // replays the same pick via row_number over a range LEFT JOIN.
    Gated("asof_join", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.TemporalJoin.asOf(purchases, clicks, "user_id",
          "ts", "ts", "event_id", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("asof_ts")).as("asof_ts_us"),
          col("asof_event_id"), col("asof_value"))
        .transform(Gate.ordered(_, "event_id"))
    },
      Some("""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(ts) AS rus, event_id AS rid, value AS rval
        |      FROM events WHERE event_type = 'click'),
        |c AS (SELECT l.event_id, l.user_id, l.ts_us, l.value,
        |        r.rus, r.rid, r.rval,
        |        row_number() OVER (PARTITION BY l.event_id
        |          ORDER BY r.rus DESC, r.rid DESC) AS rn
        |      FROM l LEFT JOIN r
        |        ON l.user_id = r.user_id AND r.rus <= l.ts_us)
        |SELECT event_id, user_id, ts_us, value,
        |  rus AS asof_ts_us, rid AS asof_event_id, rval AS asof_value
        |FROM c WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // FORWARD and NEAREST as-of directions (pandas merge_asof's other
    // two): same one-shuffle union+window device in reverse time;
    // nearest picks per row by microsecond distance, ties backward
    Gated("asof_multi", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val TJ = graft.operators.TemporalJoin
      val f = TJ.asOfForward(purchases, clicks, "user_id",
        "ts", "ts", "event_id", Seq("event_id", "value"))
      TJ.asOfNearest(f, clicks, "user_id",
          "ts", "ts", "event_id", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("fwd_ts")).as("fwd_ts_us"),
          col("fwd_event_id"), col("fwd_value"),
          unix_micros(col("near_ts")).as("near_ts_us"),
          col("near_event_id"), col("near_value"))
        .transform(Gate.ordered(_, "event_id"))
    },
      // forward rn=1 orders (rus ASC, rid ASC) — smallest following,
      // smallest ord on ties; nearest CASEs on microsecond distance
      // with the documented ties-backward rule
      Some("""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(ts) AS rus, event_id AS rid, value AS rval
        |      FROM events WHERE event_type = 'click'),
        |f0 AS (SELECT l.event_id, r.rus, r.rid, r.rval,
        |        row_number() OVER (PARTITION BY l.event_id
        |          ORDER BY r.rus ASC, r.rid ASC) AS rn
        |      FROM l LEFT JOIN r
        |        ON l.user_id = r.user_id AND r.rus >= l.ts_us),
        |b0 AS (SELECT l.event_id, r.rus, r.rid, r.rval,
        |        row_number() OVER (PARTITION BY l.event_id
        |          ORDER BY r.rus DESC, r.rid DESC) AS rn
        |      FROM l LEFT JOIN r
        |        ON l.user_id = r.user_id AND r.rus <= l.ts_us),
        |f AS (SELECT * FROM f0 WHERE rn = 1),
        |b AS (SELECT * FROM b0 WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts_us, l.value,
        |  f.rus AS fwd_ts_us, f.rid AS fwd_event_id, f.rval AS fwd_value,
        |  CASE WHEN b.rus IS NOT NULL AND (f.rus IS NULL
        |         OR (l.ts_us - b.rus) <= (f.rus - l.ts_us))
        |       THEN b.rus ELSE f.rus END AS near_ts_us,
        |  CASE WHEN b.rus IS NOT NULL AND (f.rus IS NULL
        |         OR (l.ts_us - b.rus) <= (f.rus - l.ts_us))
        |       THEN b.rid ELSE f.rid END AS near_event_id,
        |  CASE WHEN b.rus IS NOT NULL AND (f.rus IS NULL
        |         OR (l.ts_us - b.rus) <= (f.rus - l.ts_us))
        |       THEN b.rval ELSE f.rval END AS near_value
        |FROM l LEFT JOIN f ON l.event_id = f.event_id
        |       LEFT JOIN b ON l.event_id = b.event_id
        |ORDER BY l.event_id""".stripMargin)),

    // banded RANGE join: purchases within one hour after each error
    // event of the same user — equi-join on (key, time bin) + residual
    // filter (≤2 probe bins per left row), NEVER a nested-loop range
    // join; exact-DECIMAL sum so aggregation order cannot drift.
    Gated("range_join", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.TemporalJoin.rangeJoin(errors, purchases, "user_id",
          "ts", "ts", 0L, 3600000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_in_window"),
          sum(col("r_value").cast("decimal(18,2)")).cast("double")
            .as("window_value"))
        .transform(Gate.ordered(_, "event_id"))
    },
      Some("""SELECT l.event_id, count(*) AS n_in_window,
        |  CAST(sum(CAST(r.value AS DECIMAL(18,2))) AS DOUBLE) AS window_value
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |  AND l.event_type = 'error' AND r.event_type = 'purchase'
        |  AND epoch_us(r.ts) >= epoch_us(l.ts)
        |  AND epoch_us(r.ts) < epoch_us(l.ts) + 3600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gated("sessionize", (s, dir) =>
      Sessionize.batchSessions(Tables(s, dir, "events"), gapMinutes = 30)
        .transform(Gate.ordered(_, "user_id", "session_idx")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |m AS (SELECT user_id, ts_us, event_id,
        |    CASE WHEN prev IS NULL OR ts_us - prev > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |s AS (SELECT user_id, ts_us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
        |  FROM m)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin)),

    // stateful operator on the same data: session_idx derived from start
    // order, so the SQL oracle checks it exactly too.
    Gated("sessionize_stateful", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("start_us"))
      Sessionize.statefulSessions(s, Tables(s, dir, "events"), 30, streaming = false)
        .toDF()
        .withColumn("session_idx", row_number().over(w))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_us"), col("end_us"))
        .transform(Gate.ordered(_, "user_id", "session_idx"))
    },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |m AS (SELECT user_id, ts_us, event_id,
        |    CASE WHEN prev IS NULL OR ts_us - prev > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |s AS (SELECT user_id, ts_us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
        |  FROM m)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin))
  )
}
