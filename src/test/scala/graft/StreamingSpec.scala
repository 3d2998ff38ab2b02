package graft

import graft.streaming.{Sessionize, StreamAgg}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables(spark, sfDir, "events").cache()

  test("streaming near-dup filter equals batch bucket-pioneer verdicts") {
    import graft.streaming.StreamDedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").orderBy("doc_id")
      .as[(Long, String)].collect()
    val expected = StreamDedup.batchVerdicts(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id", "doc_id")
      .as[(Long, Boolean)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val hits = StreamDedup.bandHits(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", "doc_id")
    val q = StreamDedup.bandVerdicts(hits)
      .writeStream.format("memory").queryName("neardup_test")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.length / 3)).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = StreamDedup.verdicts(spark.table("neardup_test"))
      .as[(Long, Boolean)].collect().toMap
    assert(got.size == expected.size)
    assert(got == expected,
      s"diff=${(got.toSet diff expected.toSet).take(5)}")
    assert(expected.values.exists(identity), "corpus should contain candidates")
  }

  test("streaming VERIFIED pairs equal batch minhashPairs under micro-batch slicing") {
    import graft.streaming.StreamDedup
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val expected = graft.operators.Dedup
      .minhashPairs(docsDf, "text", "doc_id", 64, 16, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty, "corpus should contain verified near-dups")
    val docs = docsDf.select($"doc_id", $"text").orderBy("doc_id")
      .as[(Long, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val hits = StreamDedup.bandDocs(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", "doc_id")
    val q = StreamDedup.verifiedPairs(hits, tau = 0.5)
      .writeStream.format("memory").queryName("verified_test")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.length / 4)).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("verified_test")
      .as[(Long, Long, Double)].collect().toSet // distinct across buckets
    assert(got == expected,
      s"stream/batch diff=${((got diff expected) ++ (expected diff got)).take(5)}")
  }

  test("verified pairs: a restored cohort with unsorted hs emits the sorted cohort's pairs") {
    import graft.streaming.StreamDedup.{BandDoc, RetainedDoc, verifyPerBucket}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, TestGroupState}
    val sorted = Seq(
      RetainedDoc(1, 10, Array(1L, 2L, 3L, 4L, 5L, 6L)),
      RetainedDoc(2, 11, Array(-9L, 2L, 4L, 6L, 8L)),
      RetainedDoc(3, 12, Array(7L)))
    // an older checkpoint's layout: hs in arrival order
    val unsorted = sorted.map(r => r.copy(hs = r.hs.reverse))
    val arrivals = Seq(
      BandDoc(7L, 4, 13, Array(6L, 5L, 4L, 3L, 2L, 1L, 9L)),
      BandDoc(7L, 5, 14, Array(8L, -9L, 6L, 4L)))
    def run(cohort: Seq[RetainedDoc]) = {
      val st: GroupState[Seq[RetainedDoc]] = TestGroupState.create(
        org.apache.spark.api.java.Optional.of(cohort), GroupStateTimeout.NoTimeout(), 0L,
        org.apache.spark.api.java.Optional.empty[Long](), false)
      val pairs = verifyPerBucket(0.5, 0)(7L, arrivals.iterator, st).toList
      (pairs, st.get)
    }
    val (want, _) = run(sorted)
    val (got, restored) = run(unsorted)
    assert(want.map(p => (p.id_a, p.id_b)).toSet ==
      Set((10L, 13L), (11L, 14L)), want)
    assert(got == want)
    assert(restored.forall(r => r.hs.sameElements(r.hs.sorted)))
  }

  test("foreachBatch-maintained incremental matview equals batch under slicing") {
    import graft.operators.Matview
    val cents = "CAST(round(value * 100, 0) AS BIGINT)"
    val want = events.filter($"event_id" % 10 =!= 0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(expr(cents)).as("c"))
      .as[(String, Long, Long)].collect().toSet
    // change stream: every event as an insert, then every 10th
    // retracted — deletes arrive in later micro-batches than the
    // inserts they retract
    val rows = events.select($"event_type", expr(cents), $"event_id")
      .as[(String, Long, Long)].collect()
    val changes = rows.map { case (t, c, _) => (t, c, 1) } ++
      rows.filter(_._3 % 10 == 0).map { case (t, c, _) => (t, c, -1) }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Int)]
    var view = Seq.empty[(String, Long, Long)].toDF("event_type", "n", "c")
    val q = mem.toDF().toDF("event_type", "c", "op")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // materialize each refresh — the view is STATE carried across
        // micro-batches, not a lazy plan over all of them
        view = Matview.applyDelta(view, batch,
          Seq("event_type"), "n", Seq("c"), "op").localCheckpoint()
        ()
      }.start()
    try {
      changes.grouped(math.max(1, changes.length / 6)).foreach { ch =>
        mem.addData(ch.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    assert(view.as[(String, Long, Long)].collect().toSet == want)
  }

  test("stateful sessionization (batch mode) equals gaps-and-islands") {
    val batch = Sessionize.batchSessions(events, 30)
      .select("user_id", "n_events", "start_us", "end_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    val stateful = Sessionize.statefulSessions(spark, events, 30, streaming = false)
      .map(s => (s.user_id, s.n_events, s.start_us, s.end_us))
      .collect().toSet
    assert(stateful == batch)
  }

  test("windowed agg over a file stream equals the batch result") {
    val batch = StreamAgg.windowedAgg(events)
      .select($"window_start".cast("long"), $"event_type", $"n", $"total")
      .as[(Long, String, Long, Double)].collect().toSet

    // stream the raw file (ts = long nanos under nanosAsLong), then apply
    // the same normalization Tables does
    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(SparkTestSession.normTs)
    val q = StreamAgg.windowedAgg(stream)
      .writeStream.format("memory").queryName("win_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("win_test")
      .select($"window_start".cast("long"), $"event_type", $"n", $"total")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == batch)
  }

  test("hopping windowed agg over a file stream equals the batch result") {
    val batch = StreamAgg.hoppingAgg(events)
      .as[(Long, Long, Long, Long)].collect().toSet
    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(SparkTestSession.normTs)
    val q = StreamAgg.hoppingAgg(stream)
      .writeStream.format("memory").queryName("hop_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hop_test")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == batch)
    // every event lands in exactly size/slide = 2 windows
    assert(batch.toSeq.map(_._2).sum == events.count() * 2)
  }

  test("stateless stream sampling: equals batch with ZERO state operators") {
    val batch = graft.operators.Sampling
      .hashFraction(events, "event_id", 0.1)
      .select("event_id").as[Long].collect().toSet
    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sfDir)
      .transform(SparkTestSession.normTs)
    val q = graft.operators.Sampling.hashFraction(stream, "event_id", 0.1)
      .select("event_id")
      .writeStream.format("memory").queryName("sample_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "a hash filter must keep no streaming state")
    } finally q.stop()
    val got = spark.table("sample_test").as[Long].collect().toSet
    assert(got == batch && got.nonEmpty)
  }

  test("streaming PREDICT BY: equals batch with ZERO state operators") {
    val w = Array(-1.0, 0.03, 0.02)
    def score(df: org.apache.spark.sql.DataFrame) = {
      val feats = Seq($"user_id" % 50, $"event_id" % 31)
      df.select($"event_id",
        graft.operators.ModelStore.predictLinear(w, feats).as("score"),
        graft.operators.ModelStore.predictLabel(w, feats).as("pred"))
    }
    val batch = score(events).as[(Long, Double, Int)].collect().toSet
    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sfDir)
      .transform(SparkTestSession.normTs)
    val q = score(stream)
      .writeStream.format("memory").queryName("score_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "model inference must keep no streaming state")
    } finally q.stop()
    val got = spark.table("score_test").as[(Long, Double, Int)].collect().toSet
    assert(got == batch && batch.exists(_._3 == 1) && batch.exists(_._3 == 0))
  }

  test("stream-static enriched agg equals batch; join keeps no state") {
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val batch = StreamAgg.enrichedWindowedAgg(events, customer,
        "user_id", "c_custkey", "c_nationkey")
      .select($"window_start".cast("long"), $"c_nationkey".cast("long"),
        $"n", $"total")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty)

    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(SparkTestSession.normTs)
    val enriched = StreamAgg.enrichedWindowedAgg(stream, customer,
      "user_id", "c_custkey", "c_nationkey")
    val q = enriched.writeStream.format("memory").queryName("enrich_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // stream-static join must be stateless: only the aggregation
      // appears in the state operators
      val progress = q.lastProgress
      assert(progress.stateOperators.length == 1,
        s"expected only the agg to keep state: ${progress.stateOperators.toSeq}")
    } finally q.stop()
    val got = spark.table("enrich_test")
      .select($"window_start".cast("long"), $"c_nationkey".cast("long"),
        $"n", $"total")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == batch)
  }

  test("heavy-hitters sketch through streaming state: MG guarantee holds") {
    import graft.functions.HeavyHitters
    // ground truth: exact event_type counts
    val exact = events.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val k = 8

    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sfDir)
    val q = stream.agg(HeavyHitters.sketch(col("event_type"), k).as("hh"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val entries = spark.table("hh_stream")
      .select(explode(col("hh")).as("e"))
      .select($"e.item", $"e.count").as[(String, Long)].collect().toMap
    // Misra-Gries guarantee survives the state-store partials: every
    // item with true frequency > n/k is present, and reported counts
    // under-estimate by at most n/k
    exact.foreach { case (item, f) =>
      if (f > n / k) assert(entries.contains(item), s"$item freq=$f missing")
    }
    entries.foreach { case (item, c) =>
      val f = exact.getOrElse(item, 0L)
      assert(c <= f && c >= f - n / k, s"$item: sketch=$c exact=$f n/k=${n / k}")
    }
  }

  test("stream-stream time-bounded join equals the batch range join") {
    val batch = StreamAgg.eventJoin(events, events, "click", "purchase", 30)
      .select($"l_event", $"r_event").as[(Long, Long)].collect().toSet

    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    def stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .transform(SparkTestSession.normTs)
    val q = StreamAgg.eventJoin(stream, stream, "click", "purchase", 30)
      .select($"l_event", $"r_event")
      .writeStream.format("memory").queryName("sj_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sj_test").as[(Long, Long)].collect().toSet
    assert(got == batch)
    assert(batch.nonEmpty)
  }

  test("stateful sessionization over a memory stream: closed sessions match batch") {
    val data = events
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value", $"props")
      .orderBy("ts")
      .as[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sdf = mem.toDF()
      .toDF("user_id", "ts", "event_id", "event_type", "value", "props")
    val out = Sessionize.statefulSessions(spark, sdf, 30, streaming = true)
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      val chunks = data.grouped(math.max(1, data.length / 4)).toSeq
      chunks.foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()

    val got = spark.table("sess_test")
      .select("user_id", "n_events", "start_us", "end_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batchAll = Sessionize.batchSessions(events, 30)
      .select("user_id", "n_events", "start_us", "end_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the stream emits only sessions closed by a later event or timeout
    // before the final watermark — every emitted session must be a true
    // batch session, and most closed ones should have been emitted.
    assert(got.subsetOf(batchAll), s"phantom=${(got -- batchAll).take(3)}")
    assert(got.nonEmpty)
    val lastWm = data.map(_._2.getTime).max - 30 * 60 * 1000L
    val expectedClosed = batchAll.filter(_._4 / 1000L < lastWm)
    val recall = (got & expectedClosed).size.toDouble / math.max(1, expectedClosed.size)
    assert(recall >= 0.95, s"recall=$recall")
  }

  test("theta sketch aggregates through streaming state: equals batch") {
    // the sketch is a TypedImperativeAggregate — its partials serialize
    // into the state store and merge across micro-batches. Because the
    // k-smallest set is order-free, incremental arrival CANNOT change
    // the result: streaming estimate == batch estimate, exactly.
    import graft.functions.ThetaSketch
    val data = events.select($"event_type", $"user_id")
      .as[(String, Long)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val agg = mem.toDF().toDF("event_type", "user_id")
      .groupBy($"event_type")
      .agg(ThetaSketch.sketch($"user_id", 1024).as("sk"))
      .select($"event_type", ThetaSketch.estimate($"sk").as("est"))
    val q = agg.writeStream.format("memory").queryName("theta_stream")
      .outputMode("complete").start()
    try {
      data.grouped(math.max(1, data.length / 5)).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("theta_stream")
      .as[(String, Double)].collect().toMap
    val batch = events.groupBy($"event_type")
      .agg(ThetaSketch.sketch($"user_id", 1024).as("sk"))
      .select($"event_type", ThetaSketch.estimate($"sk"))
      .as[(String, Double)].collect().toMap
    assert(got == batch, s"stream=$got batch=$batch")
    assert(batch.values.forall(_ > 0))
  }

  test("online anomaly flags over a memory stream: closed buckets match batch") {
    import graft.streaming.StreamAnomaly
    val data = events.select($"event_type", $"ts").orderBy("ts")
      .as[(String, java.sql.Timestamp)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val sdf = mem.toDF().toDF("event_type", "ts")
    val out = StreamAnomaly.flags(sdf, "event_type", "ts",
      lookback = 24, k = 3, streaming = true)
    val q = out.writeStream.format("memory").queryName("anom_test")
      .outputMode("append").start()
    val maxTs = data.map(_._2.getTime).max
    try {
      val chunks = data.grouped(math.max(1, data.length / 5)).toSeq
      chunks.foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
      // one sentinel event PER KEY so the final watermark (maxTs - 1s,
      // set by the last real batch) deterministically APPLIES to every
      // group in a data-bearing invocation — silent keys also advance
      // via event-time timeouts (pinned by the silent-key test below),
      // but the sentinel keeps this recall assertion trigger-exact.
      // The sentinel lands in the last (never-finalized) bucket,
      // so it cannot alter any emitted row.
      val keys = data.map(_._1).distinct
      mem.addData(keys.map(k => (k, new java.sql.Timestamp(maxTs))).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getBoolean(4))
    val got = spark.table("anom_test").collect().map(keyOf).toSet
    val batch = StreamAnomaly.flags(events, "event_type", "ts",
      lookback = 24, k = 3, streaming = false).collect().map(keyOf).toSet
    // the online grid advances with the watermark even when a key goes
    // silent — zero-count buckets past the key's last event are
    // legitimate monitor output the batch grid (which stops at the
    // key's max bucket) cannot contain. Inside the batch span the
    // stream must agree exactly; beyond it only silence is allowed.
    val keyEnd = batch.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
    val (inSpan, beyond) = got.partition(g => g._2 <= keyEnd.getOrElse(g._1, 0L))
    assert(inSpan.subsetOf(batch), s"phantom flags: ${(inSpan -- batch).take(3)}")
    assert(beyond.forall(_._3 == 0L), s"non-silent beyond-span: ${beyond.filter(_._3 != 0).take(3)}")
    // buckets whose end the final applied watermark passed MUST have
    // been emitted: h <= (maxTs - 1000) / 3600000 - 1
    val closedHour = (maxTs - 1000L) / 3600000L - 1L
    val expectedClosed = batch.filter(_._2 / 3600000L <= closedHour)
    assert(expectedClosed.nonEmpty)
    val recall = (inSpan & expectedClosed).size.toDouble / expectedClosed.size
    assert(recall >= 0.999, s"recall=$recall of ${expectedClosed.size}")
    // and the stream caught every batch ANOMALY among closed buckets
    assert(expectedClosed.filter(_._4).subsetOf(inSpan))
  }

  test("a silent key keeps finalizing: zero buckets fire low-side off the watermark alone") {
    import graft.streaming.StreamAnomaly
    // key a: exactly 10 events/hour for hours 0..30, then SILENT.
    // key b: 1 event/hour through hour 40 — it alone drives the
    // watermark. No sentinels for a: its trailing buckets must close
    // via event-time timeouts, emit y = 0, and flag (the 24-hour
    // window behind them is constant 10 → zero variance → any dev
    // fires the k-sigma test). This is the low-side outage case the
    // NoTimeout formulation could never flag.
    def ts(hour: Long, sec: Long) = new java.sql.Timestamp(hour * 3600000L + sec * 1000L)
    val aEv = for (h <- 0L to 30L; i <- 0 until 10) yield ("a", ts(h, i.toLong))
    val bEv = for (h <- 0L to 40L) yield ("b", ts(h, 0L))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val sdf = mem.toDF().toDF("event_type", "ts")
    val out = StreamAnomaly.flags(sdf, "event_type", "ts",
      lookback = 24, k = 3, streaming = true)
    val q = out.writeStream.format("memory").queryName("anom_silent")
      .outputMode("append").start()
    try {
      val (early, late) = bEv.partition(_._2.getTime <= ts(30, 0).getTime)
      mem.addData((aEv ++ early).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.filter(_._2.getTime <= ts(35, 0).getTime).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(late.filter(_._2.getTime > ts(35, 0).getTime).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val aRows = spark.table("anom_silent").filter(col("key") === "a")
      .collect().map(r => (r.getTimestamp(1).getTime / 3600000L,
        r.getLong(2), r.getBoolean(4))).toSet
    // batch-2's applied watermark is hour 30 - 1s → a's observed span
    // closes; batch-3's (hour 35 - 1s) closes zero buckets 31..33
    val silent = aRows.filter(_._1 >= 31L)
    assert(silent.nonEmpty, s"no silent-span rows emitted: $aRows")
    assert(silent.forall(_._2 == 0L),
      s"silent buckets must be zero-count: ${silent.take(5)}")
    // buckets 31..33 flag: their 24-hour windows are still all-or-
    // nearly-all 10s, so a zero is > 3 sigma out. From 34 on enough
    // zeros sit in the window that the variance legitimately absorbs
    // further zeros — the test tracks the math, not "always anom".
    assert((31L to 33L).forall(h => aRows.contains((h, 0L, true))),
      s"buckets 31..33 must be flagged zero-count anomalies: $aRows")
  }
}
