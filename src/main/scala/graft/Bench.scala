package graft

/**
 * Benchmark main (driver contract): runs the headline query set on
 * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
 *
 * Queries are forced through the noop sink — a bare count() would let
 * Catalyst prune the very expressions under test.
 *
 * TIME-BUDGETED, PHASED EXECUTION (r12): the r11 driver run hit the
 * external wall-clock timeout (rc 124) — 173 queries × (2 warmups +
 * 3 reps at sf0.1, then 1 warmup + 3 reps at sf0.01) is ~880 s of
 * query work before overhead. The bench now guarantees it FINISHES:
 *   phase A  — every query once (1 warmup + 1 timed rep): full
 *              coverage lands first, whatever happens later;
 *   phase B  — up to 2 more timed passes over the whole set, entered
 *              only while the refinement budget holds (median-of-≤3);
 *   phase C  — one timed rep per query at the SMALL sf for the
 *              super-linear-plan ratio check, skipped per-query once
 *              the total budget is spent (skips are reported, never
 *              silent).
 * The artifact file is rewritten after EVERY phase, so even an
 * external kill leaves complete phase-A data on disk. Per-rep
 * System.gc() is gone (one gc per query before its first timed rep):
 * ~500 full-heap GCs were themselves minutes of wall-clock.
 */
object Bench {
  // headline set, TRIMMED AGAIN (r14): ~57 queries. The r13 trim to 98
  // was not enough — the driver's 550 s budget was consumed by phase
  // A's cold-codegen pass alone (measured 2.9× the timed sum), so the
  // committed artifact was single-rep two rounds running. At one query
  // per operator FAMILY (not per operator): phase A cold ≈ 57×(3-4 s)
  // ≈ 200 s, two phase-B passes ≈ 2×60 s, phase C ≈ 45 s — medians
  // of 3 always land inside the budget with slack for a contended
  // machine. The full per-query correctness surface is
  // CORRECTNESS_r{N}; per-operator timings beyond the family
  // representative come from graft.PlanDump during development.
  val headline: Seq[String] = Seq(
    // TPC-H / relational core (one per join/agg/window/maintenance family)
    "q1_pricing", "q3_shipping", "q6_forecast",
    "window_topn", "rollup_agg", "percentiles",
    "connect_by", "gap_fill", "scd2_intervals",
    "merge_upsert", "profile_stats", "json_ops",
    "skew_join", "bloom_join", "matview_inc",
    "range_join", "asof_join", "theta_sketch", "hilbert_layout",
    // vector + ANN (exact, joined, and one per index tier)
    "vec_l2_topk", "knn_join", "ivf_search", "pq_search",
    "hnsw_routed", "vec_sparse_topk", "ivf_bit_search",
    // dedup + text + pipeline
    "dedup_minhash", "dedup_semantic",
    "text_quality", "text_bm25", "text_trigram_ppl", "text_repetition",
    "quality_classifier", "bpe_encode", "pack_sequences",
    "pipeline_pretrain", "decontaminate", "shuffle_batches",
    // full-text search (fts_parser = the r15 default-parser family;
    // fts_headline_default = the r15 headline kernel; sql_fts = the r16
    // spark.sql-registered spelling of the same stack)
    "fts_rank_cd", "fts_indexed_retrieve", "hybrid_rrf", "trgm_search",
    "fts_parser", "fts_headline_default", "sql_fts", "sql_contrib",
    // PG operator syntax (r16 session 2): the rewriter+dispatch path
    "sql_pg_ops", "sql_pg_vector", "sql_jsonb_surface",
    // statement-level SQL (r17): MERGE routing + CONNECT BY routing
    "sql_merge", "sql_connect_by",
    // statement-level DML + opclass access paths (r18)
    "sql_update", "sql_ip_index", "sql_sparsevec_index",
    // statement maintenance + introspection verbs (r19)
    "sql_explain_dml", "sql_sequence",
    // storage introspection + foreign files (r15 families, sub-second)
    "storage_stats", "file_fdw",
    // dbmind additions (r16)
    "sqldiag", "knob_advisor",
    // multimodal
    "mm_pipeline",
    // streaming
    "stream_neardup", "sessionize_stateful",
    // type systems / compat / security
    "geo_radius_join", "range_overlap_join", "pii_redact",
    "crypto_cipher",
    // ML / DB4AI / advisor / time series
    "ml_kmeans", "ml_logreg", "ml_gbdt", "db4ai_snapshot",
    "index_whatif", "seasonal_forecast", "ts_anomalies_seasonal",
    "stream_anomalies")

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // total budget for query work (seconds, from JVM-main entry).
    // Sized so budget + session-init + sbt overhead stays safely under
    // the driver's external timeout (r11's rc 124). Phase A ignores
    // the budget — coverage always completes; B and C respect it.
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .flatMap(_.trim.toDoubleOption).filter(_ > 0).getOrElse(550.0)
    val spark = Sessions.local(cpus)

    // JVM/codegen warmup on the smallest sf
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    val qs = SparkEntry.queries
    val names = headline.filter(qs.contains)
    def run(name: String, dir: String): Boolean =
      try { qs(name)(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      if (run(name, dir)) (System.nanoTime() - t0) / 1e9 else -1.0
    }

    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_LOCAL.json")
    // Phase-by-phase rewrites go to a scratch path so an external kill
    // still leaves complete phase-A data on disk WITHOUT letting a
    // contended pass clobber a committed quiet artifact (r15: the
    // driver's contended run overwrote the quiet 55.9 s baseline).
    // The acceptance criterion for promoting the final artifact to
    // outPath lives below, at the quality gate.
    val runPath = outPath + ".run"
    val contendedPath = outPath.stripSuffix(".json") + ".contended.json"
    def writeTo(path: String, s: String): Unit =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (s + "\n").getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(_) => () }
    def writeArtifact(s: String): Unit = writeTo(runPath, s)

    // per-query collected reps at the main sf (median-of-whatever-ran)
    val reps = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    def med(ts: Vector[Double]): Double =
      if (ts.isEmpty || ts.contains(-1.0)) -1.0
      else { val s = ts.sorted; s(s.length / 2) }
    def spreadOf(ts: Vector[Double]): Double = {
      val ok = ts.filter(_ >= 0)
      if (ok.size < 2) 0.0
      else { val m = med(ts); if (m > 0) (ok.max - ok.min) / m else 0.0 }
    }
    def currentLine(extra: String): (String, String) = {
      val rows = names.map(n => (n, med(reps.getOrElse(n, Vector.empty)),
        spreadOf(reps.getOrElse(n, Vector.empty)),
        reps.getOrElse(n, Vector.empty).count(_ >= 0)))
      val qJson = rows.map { case (k, v, _, _) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
      val sJson = rows.map { case (k, _, s, _) => "\"" + k + f"""\":$s%.2f""" }
        .mkString("{", ",", "}")
      // per-query successful-rep counts: an artifact claiming medians
      // must SHOW how many reps each median stands on (r12 lesson)
      val rJson = rows.map { case (k, _, _, r) => "\"" + k + s"""\":$r""" }
        .mkString("{", ",", "}")
      val total = rows.map(_._2).filter(_ >= 0).sum
      // FIELD ORDER MATTERS for the capture window: the driver keeps
      // only the last ~2000 chars of output — per-query timings LAST.
      val line =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","reps":$rJson,"spread":$sJson,"queries":$qJson}"""
      val summary =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${rows.size}}"""
      (line.dropRight(1) + extra + "}", summary)
    }

    // ---- phase A: full coverage, 1 warmup + 1 timed rep ----
    // The warmup is itself timed: a query that DEGENERATES (a plan
    // regression à la the 225 s hilbert tree) must not run twice —
    // past the per-query cap its warmup time stands in for the rep
    // (cold, pessimistic, honest: the artifact shows the blowup
    // without the bench paying for it twice).
    val perQueryCap = budget / 8.0
    names.foreach { n =>
      val warm = timed(n, sfDir) // warmup (JIT + codegen compile)
      if (warm > perQueryCap) reps(n) = Vector(warm)
      else {
        System.gc() // once per query: last query's allocation debt out
        reps(n) = Vector(timed(n, sfDir))
      }
    }
    writeArtifact(currentLine(f""","phase":"A","elapsed":${elapsed()}%.1f""")._1)

    // ---- phase B: refinement passes while the budget holds ----
    // PHASE B OUTRANKS PHASE C (r13 lesson: two rounds of single-rep
    // artifacts): medians-of-3 are the artifact's whole point. BUDGET-
    // SAFE ADMISSION (r15): phase-A timed reps underestimate a pass on
    // a contended machine (r14's 1.05 slack admitted a pass that
    // overran the budget by 44 s), so (a) the admission slack is 30%,
    // and (b) the pass HARD-STOPS mid-pass the moment the next query's
    // own worst observed time would cross the budget — a partial pass
    // leaves some queries at fewer reps (visible in "reps"), never an
    // artifact past its budget.
    var passCost = reps.values.map(_.head).filter(_ >= 0).sum
    var pass = 0
    var budgetHit = false
    while (pass < 2 && !budgetHit && elapsed() + passCost * 1.3 < budget) {
      val t0 = elapsed()
      val it = names.iterator
      while (it.hasNext && !budgetHit) {
        val n = it.next()
        val worst = reps(n).filter(_ >= 0).foldLeft(0.0)(math.max)
        if (elapsed() + worst * 1.3 > budget) budgetHit = true
        else if (reps(n).forall(r => r >= 0 && r <= perQueryCap))
          reps(n) = reps(n) :+ timed(n, sfDir)
      }
      pass += 1
      passCost = math.max(passCost, elapsed() - t0)
      writeArtifact(currentLine(
        f""","phase":"B$pass","elapsed":${elapsed()}%.1f""")._1)
    }

    // ---- phase C: one rep per query at the small sf (scale ratios) ----
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR_SMALL",
      "/root/testdata/sf0.01")
    val small = scala.collection.mutable.LinkedHashMap[String, Double]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    // SCALE GUARD (r12 advice): a run whose "main" SF is not actually
    // bigger than the small SF produces inverted scale ratios and a
    // baseline useless for regression comparison — refuse the C phase
    // and flag it in the artifact rather than shipping nonsense.
    def dirBytes(d: String): Long = {
      def du(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
        else f.length()
      du(new java.io.File(d))
    }
    // a single-SF run (main dir == small dir, however spelled) is a
    // supported mode, not an inversion — phase C is just skipped
    val sameDir = new java.io.File(sfDir).getCanonicalPath ==
      new java.io.File(smallDir).getCanonicalPath
    val scaleOk = sameDir || dirBytes(sfDir) > dirBytes(smallDir)
    if (!scaleOk)
      System.err.println(s"[bench] SCALE INVERTED: $sfDir is not larger than " +
        s"$smallDir — phase C skipped; do not commit this artifact as the baseline")
    if (scaleOk && !sameDir && new java.io.File(smallDir).isDirectory) {
      names.foreach { n =>
        // a query already degenerate at the main sf (> cap) is skipped
        // here too: its blowup is visible without risking the budget
        if (elapsed() < budget && med(reps(n)) >= 0 && med(reps(n)) <= perQueryCap)
          small(n) = timed(n, smallDir)
        else skipped += n
      }
    }
    val scaleJson = if (small.isEmpty) "" else {
      val ratios = names.flatMap { n =>
        val v = med(reps(n))
        small.get(n).filter(s => s > 0 && v >= 0)
          .map(s => (n, v / math.max(s, 1e-3)))
      }
      val rJson = ratios.map { case (k, r) => "\"" + k + f"""\":$r%.1f""" }
        .mkString("{", ",", "}")
      val qsJson = small.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
      val totalSmall = small.values.filter(_ >= 0).sum
      val outliers = ratios.filter(_._2 >= 15.0).map("\"" + _._1 + "\"")
        .mkString("[", ",", "]")
      val skJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      f""","sf_small":"$smallDir","total_small":$totalSmall%.3f,"small_skipped":$skJson,"outliers_15x":$outliers,"queries_small":$qsJson,"scale_ratio":$rJson"""
    }

    val (fileLine, summary) = currentLine(scaleJson +
      f""","scale_ok":$scaleOk,"phase_b_passes":$pass,"elapsed":${elapsed()}%.1f,"budget":$budget%.0f""")
    // Artifact quality gate (tightened r17, per the r16 verdict): a
    // candidate replaces the committed artifact only when BOTH hold —
    //  (a) its median total is no worse than the committed one (+5%
    //      slack), and
    //  (b) every query's ABSOLUTE rep spread (max−min) is within
    //      max(median, 0.3 s) — the 0.3 s floor absorbs timer/JIT
    //      noise on sub-second queries (the late-r16 lesson) while a
    //      genuinely contended run, whose spreads blow past their own
    //      medians, can no longer land just by luckily beating the
    //      total. Per-query medians in the committed artifact are
    //      trustworthy regression anchors again.
    // A changed query set (or no committed artifact) always refreshes.
    // Spread is measured over the WARM reps (the first timed rep is
    // dropped when 3+ ran): phase A's rep still carries JIT warmup on
    // heavy queries — cold−warm regularly exceeds the median even on
    // an idle box (measured r17: 8/70 violations in back-to-back quiet
    // runs, same set both times) — while real contention disagrees
    // BETWEEN the warm reps too, which is what this gate must catch.
    def absSpread(ts: Vector[Double]): Double = {
      val ok0 = ts.filter(_ >= 0)
      val ok = if (ok0.size >= 3) ok0.drop(1) else ok0
      if (ok.size < 2) 0.0 else ok.max - ok.min
    }
    val contendedQs = names.filter { n =>
      val m = med(reps(n))
      m >= 0 && absSpread(reps(n)) > math.max(m, 0.3)
    }
    // ONE read of the committed artifact feeds both the total and the
    // per-query medians (two reads could straddle a concurrent write
    // and make the accept decision internally inconsistent)
    val committedText: Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outPath)), "UTF-8"))
      catch { case scala.util.control.NonFatal(_) => None }
    val committedTotal: Option[Double] = committedText.flatMap(s =>
      """"value":([0-9.]+)""".r.findFirstMatchIn(s).map(_.group(1).toDouble))
    // per-query medians of the committed artifact — the regression
    // comparison runs over the INTERSECTION of query names (r19, per
    // the r18 advice: a set-change waiver let a round that added 3
    // queries ratchet the anchor +12.8% on the 70 shared queries; the
    // shared set is always comparable, so compare it)
    val committedQueries: Map[String, Double] = committedText.flatMap(s =>
      """"queries":\{([^}]*)\}""".r.findFirstMatchIn(s).map { m =>
        """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(m.group(1))
          .map(x => x.group(1) -> x.group(2).toDouble).toMap
      }).getOrElse(Map.empty)
    val medTotal = names.map(n => med(reps(n))).filter(_ >= 0).sum
    // QUIET is always required (r17 verdict closed the set-change
    // loophole: a round that adds queries must not land a contended
    // run as the new anchor). With no committed artifact (or one
    // without parseable per-query medians), fall back to the total
    // rule; otherwise the shared-set sums decide — a set change never
    // waives the comparison. (The artifact always carries ONLY this
    // run's own measurements — no min-merging of past medians, which
    // would fabricate timings no single run produced.)
    val sharedNames = names.filter(n =>
      committedQueries.contains(n) && med(reps(n)) >= 0 &&
        committedQueries(n) >= 0)
    // a query that WORKED in the committed artifact but FAILED in this
    // run (med -1) must reject the candidate, not silently drop out of
    // the intersection — the same waive-by-changing class this guard
    // exists to close
    val brokeQs = names.filter(n =>
      committedQueries.getOrElse(n, -1.0) >= 0 && med(reps(n)) < 0)
    val candShared = sharedNames.map(n => med(reps(n))).sum
    val commShared = sharedNames.map(committedQueries).sum
    val accept =
      if (committedTotal.isEmpty) true
      else if (contendedQs.nonEmpty || brokeQs.nonEmpty) false
      else if (sharedNames.nonEmpty) candShared <= commShared * 1.05
      else medTotal <= committedTotal.get * 1.05
    if (accept) writeTo(outPath, fileLine)
    else {
      writeTo(contendedPath, fileLine)
      System.err.println(f"[bench] REJECTED RUN (spread > max(median, 0.3s) " +
        s"on [${contendedQs.mkString(", ")}], failed-but-committed " +
        s"[${brokeQs.mkString(", ")}], or shared-set total " +
        f"$candShared%.2f (${sharedNames.size} queries) worse than " +
        f"committed $commShared%.2f) — artifact written to " +
        s"$contendedPath; $outPath left untouched")
    }
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(runPath))
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    // FINAL STDOUT FRAMES (r16): the driver parses JSON out of the last
    // ~2000 chars of the sbt run's output. r15 proved BOTH frames print
    // complete inside that window and still went unparsed — the
    // remaining culprits were sbt's "[info] " line prefixes and its
    // "[success] Total time" trailer landing after them (both removed
    // in build.sbt via run/outputStrategy := StdoutOutput and
    // showSuccess := false). Belt and braces here: print the full
    // queries frame FIRST, then a ~110-char minimal contract frame as
    // the ABSOLUTE last stdout line, after spark.stop() so no shutdown
    // logging can land behind it. Full detail stays in the file.
    val rows = names.map(n => (n, med(reps.getOrElse(n, Vector.empty))))
    val qJson = rows.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = rows.map(_._2).filter(_ >= 0).sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","queries":$qJson}""")
    println(summary)
    Console.out.flush()
  }
}
