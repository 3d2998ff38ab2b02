package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * General iterative / recursive query execution (reference capability:
 * WITH RECURSIVE — src/common/backend/parser/gram.y:23981; the openGauss
 * executor runs a recursive CTE's step query to a fixpoint). Spark has
 * no recursive plan node, so the cluster-grade form is a
 * driver-coordinated loop of DataFrame rounds with per-round lineage
 * truncation — this operator is that loop, factored once: graph
 * reachability, connected components, iterative label propagation and
 * k-means-style refinement all instantiate it with a `step`.
 *
 * Contract per round: `next = step(state)` is truncated, then
 * `changed(state, next)` is evaluated; the loop ends when it returns 0
 * and THROWS if maxIter is hit first — returning an unconverged state
 * would silently answer the recursive query wrong.
 *
 * Lineage truncation is what makes the loop survivable: without it the
 * logical plan doubles per round (analysis alone kills the driver long
 * before data does). When the SparkContext has a checkpoint dir set,
 * rounds go through RELIABLE checkpoints — state lands in the
 * checkpoint filesystem, so a lost executor recomputes from the last
 * round's files instead of unrecoverably losing executor-resident
 * blocks. Without one it falls back to localCheckpoint, which is
 * correct but executor-resident — acceptable only in local mode.
 * `Sessions.local` (the Verify/Bench/PlanDump mains and the test
 * fixture) sets a checkpoint dir, so every gated run exercises the
 * reliable path.
 */
object Iterate {

  /**
   * Truncate a DataFrame's lineage: reliable checkpoint when the
   * context has a checkpoint dir, else localCheckpoint. Steps can also
   * call this on round-internal intermediates that are consumed more
   * than once (instead of cache(), which pins executor memory across
   * rounds with no fault tolerance).
   */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /**
   * Edge-count ceiling for the driver-local fixpoint fast path. A
   * distributed fixpoint round costs ~6 shuffle stages plus a reliable
   * checkpoint — ~0.3s of pure scheduling overhead per round even when
   * the data is a few thousand rows. When the canonical edge set is
   * broadcast-small (default 1M edges = ~16MB of longs, the same order
   * as a broadcast join side), one driver pass answers the whole
   * recursion for less than a single round costs. Above the threshold
   * the distributed path keeps 100TB-safe semantics. Setting it to 0
   * forces the distributed path — IterateSpec's forced-path fixtures do
   * exactly that and assert (via [[fixpointRuns]]) that the distributed
   * code actually executed.
   */
  private[graft] def localEdgeThreshold(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.fixpoint.localEdgeThreshold", "1000000").toLong

  /**
   * Execution proof for path-selection tests: bumped once per
   * [[fixpoint]] invocation. A driver fast path must leave it untouched;
   * a forced distributed run must move it — specs assert the delta, so
   * "the distributed path is tested" is itself a tested claim.
   */
  private[graft] val fixpointRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /**
   * Collect a (Long, Long) edge set to the driver iff the fast path is
   * enabled, both columns are LongType, and the count fits the
   * threshold. The input should already be cached — the count and the
   * collect both read it, and the caller's distributed fallback reuses
   * it. Returns None when the fast path doesn't apply.
   */
  private[graft] def collectIfSmall(cached: DataFrame): Option[Array[(Long, Long)]] = {
    import org.apache.spark.sql.types.LongType
    val threshold = localEdgeThreshold(cached)
    if (threshold <= 0 || !cached.schema.fields.forall(_.dataType == LongType)) None
    else if (cached.count() > threshold) None
    else Some(cached.collect().map(r => (r.getLong(0), r.getLong(1))))
  }

  /**
   * Multi-source BFS hop distances over an undirected pair set —
   * a second instantiation of the fixpoint (distance relaxation, not
   * label propagation). Classic frontier BFS: only rows whose
   * distance was set or improved LAST round (`fresh`) propagate, so
   * total edge work is O(E) over the whole run, not O(E × diameter) —
   * settled nodes are never re-expanded. Input `pairs` has
   * (id_a, id_b); `sources` has (id); output (id, hops) covers
   * exactly the nodes reachable from any source.
   *
   * `maxIter` bounds DISTRIBUTED rounds only (one frontier hop per
   * round, so it caps the reachable diameter — exceeding it throws
   * rather than returning partial distances); the driver BFS fast
   * path is exact at any diameter.
   */
  def hopDistances(pairs: DataFrame, sources: DataFrame,
      maxIter: Int = 60): DataFrame = {
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct().cache()
    try {
      // Same fast-path contract as Dedup.connectedComponents: a
      // broadcast-small edge set answers the whole recursion in one
      // driver BFS pass for less than a single distributed round's
      // scheduling overhead. Sources are nodes of (or roots over) the
      // same graph, so they are bounded by the edge threshold too.
      // the source set must pass the same driver-size gate as the
      // edges: "sources are usually nodes of the graph" is a heuristic,
      // not a contract — an oversized (or null-laden) source table must
      // fall back to the distributed path, not OOM the driver
      val srcDf = sources.select(col("id").cast("long").as("id"))
        .filter(col("id").isNotNull).distinct().cache()
      try {
        val srcSmall = srcDf.count() <= localEdgeThreshold(srcDf)
        collectIfSmall(edges) match {
          case Some(es) if srcSmall =>
            val srcIds = srcDf.collect().map(_.getLong(0))
            val s = pairs.sparkSession
            import s.implicits._
            localBfs(es, srcIds).toSeq.toDF("id", "hops")
          case _ => hopDistancesDistributed(edges, srcDf, maxIter)
        }
      } finally srcDf.unpersist()
    } finally edges.unpersist()
  }

  /** Driver-local multi-source BFS over a symmetrized distinct edge set;
   *  covers exactly the sources plus nodes reachable from any source —
   *  the same output contract as the distributed relaxation. */
  private def localBfs(edges: Array[(Long, Long)],
      sources: Array[Long]): Array[(Long, Long)] = {
    import scala.collection.mutable
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty[Long]) += v
    }
    val dist = mutable.LongMap.empty[Long]
    val queue = mutable.Queue.empty[Long]
    sources.foreach { s =>
      if (!dist.contains(s)) { dist(s) = 0L; queue.enqueue(s) }
    }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      val du = dist(u)
      adj.get(u).foreach(_.foreach { v =>
        if (!dist.contains(v)) { dist(v) = du + 1L; queue.enqueue(v) }
      })
    }
    dist.toArray
  }

  private def hopDistancesDistributed(edges: DataFrame, sources: DataFrame,
      maxIter: Int): DataFrame = {
    val init = sources.select(col("id"), lit(0L).as("hops"),
      lit(true).as("fresh"))
    val settled = fixpoint(init, maxIter, "hopDistances") { st =>
      val cand = edges.join(st.filter(col("fresh")), edges("u") === st("id"))
        .groupBy(col("v").as("id")).agg((min(col("hops")) + 1L).as("cand"))
      st.select(col("id"), col("hops"))
        .join(cand, Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("hops"), col("cand")),
            coalesce(col("cand"), col("hops"))).as("hops"),
          (col("hops").isNull ||
            (col("cand").isNotNull && col("cand") < col("hops"))).as("fresh"))
    } { (_, next) => next.filter(col("fresh")).count() }
    settled.select(col("id"), col("hops"))
  }

  /**
   * Run `step` from `init` until `changed` reports 0 differences.
   * Returns the converged state (lineage-truncated — safe to consume
   * or iterate further downstream).
   */
  def fixpoint(init: DataFrame, maxIter: Int, what: String = "fixpoint")(
      step: DataFrame => DataFrame)(
      changed: (DataFrame, DataFrame) => Long): DataFrame = {
    fixpointRuns.incrementAndGet()
    var state = truncate(init)
    var delta = 1L
    var it = 0
    while (delta > 0) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"graft: $what did not converge in $maxIter rounds")
      val next = truncate(step(state))
      delta = changed(state, next)
      state = next
      it += 1
    }
    state
  }

  /**
   * PageRank, fixed iteration count, ENGINE-EXACT arithmetic — the
   * iterative-analytics capability beyond reachability (the reference
   * kernel runs arbitrary recursive CTEs; PageRank is the canonical
   * one that needs numeric state, not just set growth).
   *
   * Float determinism: a naive double accumulation is aggregation-
   * order-dependent, so ranks would drift between engines (and between
   * runs!). Here every per-edge contribution is double-DIVIDED (IEEE
   * division is correctly rounded — deterministic), ROUNDED to 12dp,
   * and summed as DECIMAL(28,12) — exact, order-invariant — then the
   * damping update rounds back to 12dp. Both engines compute the
   * identical bits, so the gate is hash-exact with no tolerance.
   *
   * Variant: dangling-node mass is NOT redistributed (their rank
   * leaks, the common simplification); nodes with no in-edges hold
   * the teleport term. Scale shape per iteration: edges join ranks on
   * src (shuffle or broadcast — AQE decides; ranks is nodes-sized,
   * edges corpus-sized), one groupBy dst — the standard distributed
   * PR round. `iters` is fixed (no convergence test): lineage is
   * truncated per round.
   *
   * Output: (node, rank) — rank as DOUBLE (12dp-rounded value, exact
   * in fp64).
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank needs iters >= 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().cache()
    try {
      // same fast-path contract as connectedComponents/hopDistances: a
      // broadcast-small edge set answers all `iters` rounds in one
      // driver pass for less than one distributed round's scheduling
      // overhead (each distributed round = 2 joins + an agg + a
      // reliable checkpoint). The arithmetic below and in
      // localPageRank is IDENTICAL bit-for-bit (IEEE divide → HALF_UP
      // 12dp round → exact decimal sums), so the paths agree exactly
      // (forced-path parity is spec-asserted).
      collectIfSmall(e) match {
        case Some(es) =>
          val s = edges.sparkSession
          import s.implicits._
          localPageRank(es, iters, damping).toSeq.toDF("node", "rank")
        case None => pageRankDistributed(e, iters, damping)
      }
    } finally e.unpersist()
  }

  private def pageRankDistributed(e: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val n = nodes.count() // 1 scalar to the driver: the teleport term
    require(n > 0, "pageRank needs at least one node")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    // both round() calls run in-engine (Spark HALF_UP == DuckDB
    // ties-away for positive values), never on the driver (whose
    // math.rint is half-EVEN)
    val teleport = round(lit((1.0 - damping) / n), 12)
    val init = nodes.withColumn("rank",
      round(lit(1.0 / n), 12).cast("decimal(28,12)"))
    var ranks = truncate(init)
    var it = 0
    while (it < iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst"),
          round(col("rank").cast("double") / col("odeg").cast("double"), 12)
            .cast("decimal(28,12)").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = truncate(nodes
        .join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          round(teleport +
              lit(damping) * coalesce(col("s"), lit(0)).cast("double"), 12)
            .cast("decimal(28,12)").as("rank")))
      it += 1
    }
    ranks.select(col("node"), col("rank").cast("double").as("rank"))
  }

  /** Driver replica of one-rank-per-node PR with the SAME rounding
    * discipline as the distributed loop: scala.BigDecimal(double) is
    * repr-based exactly like Spark's Round, HALF_UP matches, and the
    * per-dst contribution sum is an exact BigDecimal sum (the
    * DECIMAL(28,12) analogue). */
  private def localPageRank(es: Array[(Long, Long)], iters: Int,
      damping: Double): Array[(Long, Double)] = {
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nodes = es.flatMap(e => Array(e._1, e._2)).distinct.sorted
    val n = nodes.length
    require(n > 0, "pageRank needs at least one node")
    val odeg = es.groupBy(_._1).map { case (s, l) => s -> l.length }
    val teleport = r12((1.0 - damping) / n)
    var rank = nodes.map(_ -> r12(1.0 / n)).toMap
    var it = 0
    while (it < iters) {
      val prev = rank
      val in = es.groupBy(_._2).map { case (d, l) =>
        d -> l.map { case (s, _) => BigDecimal(r12(prev(s) / odeg(s))) }.sum
      }
      rank = nodes.map(v => v ->
        r12(teleport + damping * in.getOrElse(v, BigDecimal(0)).toDouble)).toMap
      it += 1
    }
    nodes.map(v => v -> rank(v))
  }
}
