package graft.operators

import graft.functions.VectorKernel
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * Batch graph ANN: per-partition navigable-small-world graphs + beam
 * search (reference: contrib/datavec/src/hnswbuild.cpp, hnswscan.cpp,
 * sql/datavec--0.7.2.sql:291-330).
 *
 * The reference's HNSW optimizes single-node serving: ONE global graph
 * whose upper layers route a single entry point toward the query. That
 * shape doesn't distribute — every edge traversal would be a network
 * hop. The Spark-native equivalent keeps the graph's local-search
 * economics but shards them: build an independent single-layer NSW
 * graph per partition (mapPartitions — edges never cross partitions, so
 * the build is embarrassingly parallel and append = new partitions, no
 * global rebuild); search runs one beam per partition in parallel and
 * exact-reranks the union of the beams. The hierarchy's log-routing is
 * replaced by multi-entry seeding (beam from several spread entry
 * nodes), which serves the same purpose — escaping the entry's
 * neighborhood — without cross-partition coordination. At 100 TB,
 * compose with the IVF layout (Ivf.writeIndex partitionBy list) so the
 * reader prunes partitions before any beam runs.
 *
 * Memory contract: one partition's (vectors + adjacency) must fit in
 * an executor — the same residency assumption the reference makes of
 * its graph pages, but per-shard instead of global.
 */
object Hnsw {

  /** m: out-degree target; graph degree is capped at 2m. `metric` is
    * the beam's comparison kernel: "l2" (squared L2 — the default) or
    * "l1" (taxicab, hnsw `vector_l1_ops`, datavec sql 0.7.2:399).
    * Cosine and inner-product opclasses do NOT need a kernel: cosine
    * rides the L2 beam over L2-NORMALIZED vectors (on unit vectors
    * L2² = 2·cosine_distance — monotone), inner product rides it over
    * MIPS-augmented vectors (append sqrt(M²−‖x‖²); query appends 0 —
    * the classic order-preserving MIPS→L2 reduction). */
  final case class Params(m: Int = 8, efConstruction: Int = 48,
      efSearch: Int = 32, nEntries: Int = 3, metric: String = "l2") {
    require(metric == "l2" || metric == "l1",
      s"graft: hnsw beam metric must be l2 or l1, got '$metric'")
  }

  final case class GraphRow(part_id: Int, id: Long, vec: Array[Float],
      nbrs: Array[Int])

  private def distFn(metric: String): (Array[Float], Array[Float]) => Double =
    if (metric == "l1") VectorKernel.l1 else VectorKernel.l2sq

  /** The beam works on squared L2 (sqrt at the end) or raw L1. */
  private def finalizeDist(metric: String, d: Double): Double =
    if (metric == "l1") d else math.sqrt(d)

  /**
   * Best-first beam search over an adjacency graph. Returns up to `ef`
   * (dist, nodeIdx) results, best first. Classic NSW search: a
   * candidate min-heap, a bounded result max-heap, a visited set;
   * terminates when the best open candidate is worse than the worst
   * retained result.
   */
  private def beam(vecs: Array[Array[Float]], adj: Int => scala.collection.IndexedSeq[Int],
      q: Array[Float], ef: Int, entries: Seq[Int],
      metric: String = "l2"): mutable.PriorityQueue[(Double, Int)] = {
    val dm = distFn(metric)
    val visited = new java.util.BitSet(vecs.length)
    // min-heap of open candidates (closest first)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1).reverse)
    // max-heap of results (worst first at head)
    val res = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1))
    entries.foreach { e =>
      if (!visited.get(e)) {
        visited.set(e)
        val d = dm(q, vecs(e))
        cand.enqueue((d, e)); res.enqueue((d, e))
      }
    }
    while (cand.nonEmpty) {
      val (d, n) = cand.dequeue()
      if (res.size >= ef && d > res.head._1) return res // beam converged
      var i = 0
      val nbrs = adj(n)
      while (i < nbrs.length) {
        val nb = nbrs(i)
        // (during build, adjacency only references already-inserted nodes)
        if (!visited.get(nb)) {
          visited.set(nb)
          val nd = dm(q, vecs(nb))
          if (res.size < ef || nd < res.head._1) {
            cand.enqueue((nd, nb)); res.enqueue((nd, nb))
            if (res.size > ef) res.dequeue()
          }
        }
        i += 1
      }
    }
    res
  }

  /** Spread deterministic entry points: stride across insertion order. */
  private def entryPoints(n: Int, count: Int): Seq[Int] =
    if (n == 0) Seq.empty
    else (0 until math.min(count, n)).map(i => (i.toLong * n / math.min(count, n)).toInt)

  /** Build one partition's NSW graph by incremental insertion. */
  private def buildGraph(vecs: Array[Array[Float]], p: Params): Array[Array[Int]] = {
    val maxDeg = 2 * p.m
    val adj = Array.fill(vecs.length)(mutable.ArrayBuffer.empty[Int])
    var i = 1
    while (i < vecs.length) {
      val found = beam(vecs, adj(_), vecs(i), p.efConstruction,
        entryPoints(i, p.nEntries), p.metric)
      val nearest = found.toArray.sortBy(e => (e._1, e._2)).take(p.m)
      nearest.foreach { case (_, nb) =>
        adj(i) += nb
        adj(nb) += i
        if (adj(nb).length > maxDeg) {
          // prune to the maxDeg closest (the reference prunes with a
          // diversity heuristic; closest-k keeps the same degree bound)
          val pruned = adj(nb).toArray
            .sortBy(x => (distFn(p.metric)(vecs(nb), vecs(x)), x)).take(maxDeg)
          adj(nb).clear(); adj(nb) ++= pruned
        }
      }
      i += 1
    }
    adj.map(_.toArray)
  }

  /**
   * Build per-partition NSW graphs. Rows hash into `numParts` shards;
   * each shard's graph is built independently inside mapPartitions.
   * Output: (part_id, id, vec, nbrs) — nbrs index into the shard's
   * id-sorted order, making the table self-contained on reload.
   */
  def buildIndex(df: DataFrame, vecCol: String, idCol: String,
      numParts: Int, params: Params = Params()): Dataset[GraphRow] =
    buildShards(df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"),
        pmod(xxhash64(col(idCol)), lit(numParts)).cast("int").as("part_id")),
      params)

  /**
   * Cluster-sharded build: shards follow an IVF coarse quantizer
   * (part_id = nearest-centroid list) instead of a hash, so shards are
   * spatially coherent and [[searchRouted]] can prune whole shards by
   * centroid distance before any beam runs — the NSW×IVF hybrid. Hash
   * shards (buildIndex) cannot route: every shard looks like the global
   * distribution.
   */
  def buildIndexClustered(df: DataFrame, vecCol: String, idCol: String,
      model: Ivf.Model, params: Params = Params()): Dataset[GraphRow] =
    buildShards(Ivf.assign(df, vecCol, model)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"),
        col("list_id").cast("int").as("part_id")), params)

  /** One graph per LOGICAL shard of (id, vec, part_id) rows, inserted
    * in id order — the order [[beamShard]] re-derives, so nbrs stay
    * valid however the index is later laid out. */
  private def buildShards(rows: DataFrame, params: Params): Dataset[GraphRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[(Long, Array[Float], Int)]
      .groupByKey(_._3)
      .flatMapGroups { (pid, it) =>
        val shard = it.toArray.sortBy(_._1) // deterministic insertion order
        val vecs = shard.map(_._2)
        val adj = buildGraph(vecs, params)
        shard.indices.iterator.map { i =>
          GraphRow(pid, shard(i)._1, vecs(i), adj(i))
        }
      }
  }

  /**
   * Periodic shard compaction — completes the append story (reference:
   * contrib/datavec/src/hnswinsert.cpp maintains ONE graph in place;
   * the batch analogue appends as NEW shards, so shard count and beam
   * work grow with every append batch and never consolidate). Compaction
   * rebuilds a single clustered layout over the union of all current
   * shards' rows: vectors re-assign to their quantizer list and each
   * list's graph is rebuilt in deterministic id order. Because the
   * build is deterministic, compacting a fragmented index yields
   * byte-for-byte the index a fresh buildIndexClustered would produce
   * on the same rows (asserted in AnnSpec) — run it when the shard
   * count has drifted ~2× past nlists, like the reference's REINDEX
   * guidance for degraded graphs.
   */
  def compactShards(index: Dataset[GraphRow], model: Ivf.Model,
      params: Params = Params()): Dataset[GraphRow] =
    buildIndexClustered(
      index.toDF.select(col("id"), col("vec")), "vec", "id", model, params)

  /**
   * Routed single-query ANN over a cluster-sharded index: beam only in
   * the nprobe shards whose centroids are nearest the query. Search
   * cost drops by ~shards/nprobe vs [[search]]; recall follows the IVF
   * probe geometry (asserted in AnnSpec). With the index persisted via
   * partitionBy(part_id), the filter prunes at the parquet reader.
   */
  def searchRouted(index: Dataset[GraphRow], model: Ivf.Model,
      query: Array[Float], k: Int, nprobe: Int,
      params: Params = Params()): DataFrame = {
    val probeIds = model.probes(query, nprobe).map(Integer.valueOf)
    search(index.filter(col("part_id").isin(probeIds: _*)), query, k, params)
  }

  /**
   * Routed MANY-query ANN over a cluster-sharded index — the 100 TB
   * workload shape. Queries are a DataFrame, so their count is
   * unbounded by driver memory. Routing is distributed: each query row
   * is tagged with its nprobe nearest lists ([[Ivf.probeLists]], the
   * column Ivf.knnJoin routes with), then EXPLODED to (part_id, qid, qv)
   * and cogrouped with the index shards on part_id — queries reach
   * their shards through a key-partitioned shuffle, never a driver
   * array. Each shard beams ONLY its routed queries (total beam work
   * ~nprobe/nlists of an unrouted search), and shards routed by no
   * query are dropped by a left-semi join BEFORE the group pass
   * (reader-level pruning on a partitionBy(part_id)-persisted index).
   * The per-shard beam is [[search]]'s; the qid shuffle carries at most
   * k rows per (query, shard) via the bounded-heap partial aggregate.
   * AnnSpec asserts row-for-row agreement with per-query
   * [[searchRouted]]. Output: (qid, rank, nid, dist).
   *
   * Cogroup SKEW under Zipfian query load: the shard shuffle keys by
   * part_id, so a shard most queries route to is one task. With salt S
   * ([[routingSalt]], derived from the routing itself) the queries
   * split into S salt buckets (by qid) and the pruned shard rows
   * replicate to every bucket — the hot shard's beam work spreads
   * across S tasks at the cost of S× index shuffle volume. Results are
   * salt-invariant (each query still beams against its full shard;
   * AnnSpec asserts parity under a Zipfian load).
   */
  def searchManyRoutedDF(index: Dataset[GraphRow], model: Ivf.Model,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nprobe: Int, params: Params = Params()): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val probes = Ivf.probeLists(spark, col(qVecCol), model, nprobe)
    val routed0 = queries.select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<float>").as("qv"),
        explode(probes).as("part_id")) // sequence() ids are already int
    val salt = routingSalt(queries, qVecCol, probes)
    val routed = routed0.withColumn("salt",
        pmod(col("qid"), lit(salt)).cast("int"))
      .as[(Long, Array[Float], Int, Int)]
    val probedShards = routed.select(col("part_id")).distinct()
    val pruned = index.join(probedShards, Seq("part_id"), "left_semi")
      .as[GraphRow]
    // shard rows fan out to every salt bucket; queries keep one bucket
    // (salt=1: constant column, no generator in the index scan)
    val prunedSalted = (if (salt == 1) pruned.toDF.withColumn("salt", lit(0))
      else pruned.toDF.withColumn("salt",
        explode(array((0 until salt).map(lit): _*))))
      .as[(Int, Long, Array[Float], Array[Int], Int)]
    val candidates = prunedSalted.groupByKey(r => (r._1, r._5))
      .cogroup(routed.groupByKey(r => (r._3, r._4))) { (_, idxIt, qIt) =>
        beamShard(idxIt.map(r => GraphRow(r._1, r._2, r._3, r._4)),
          qIt.map(r => (r._1, r._2)).toArray, k, params)
      }
      .toDF("qid", "nid", "dist")
      .select(col("qid"), col("nid"), round(col("dist"), 6).as("dist"))
    graft.operators.Knn.explodeTopK(
      candidates.groupBy(col("qid"))
        .agg(graft.operators.Knn.topKPairs(col("nid"), col("dist"), k).as("nn")))
  }

  /**
   * The cogroup salt of [[searchManyRoutedDF]], derived from the
   * routing: per-shard routed counts over a CAPPED 100k query prefix
   * (LocalLimit early-exits the scan, so this extra routing pass costs
   * O(cap) probes no matter how many queries the DF holds; ≤ nlists
   * result rows collect). Skew detection only needs the count SHAPE,
   * not exact totals. Salt 1 when the load is near-uniform (max ≤ 3×
   * mean: plan unchanged, no replication tax), else ceil(max/mean)
   * capped at 16. `probes` is the routing column over `qVecCol`.
   */
  private[graft] def routingSalt(queries: DataFrame, qVecCol: String,
      probes: Column): Int = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cap = 100000
    val cs = queries.select(col(qVecCol)).limit(cap)
      .select(explode(probes).as("part_id"))
      .groupBy(col("part_id")).agg(count(lit(1)).as("c"))
      .select(col("c")).as[Long].collect()
    if (cs.isEmpty) 1
    else {
      val mean = math.max(1L, cs.sum / cs.length)
      val skew = cs.max.toDouble / mean
      if (skew <= 3.0) 1 else math.min(math.ceil(skew).toInt, 16)
    }
  }

  /**
   * Single-query ANN: one beam per shard graph (flatMapGroups on
   * part_id so a reloaded index works regardless of physical layout),
   * exact rerank of the union of beams. Output: (vec_id, dist) top-k.
   */
  def search(index: Dataset[GraphRow], query: Array[Float], k: Int,
      params: Params = Params()): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    index.groupByKey(_.part_id)
      .flatMapGroups { (_, it) =>
        beamShard(it, Array((0L, query)), k, params).map { case (_, nid, d) => (nid, d) }
      }
      .toDF("vec_id", "dist")
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /**
   * Every query's beam through one shard's graph: the rows sort by id
   * (the build's insertion order, so nbrs index correctly) and each
   * query runs one beam at ef = max(efSearch, k) from the shard's
   * spread entry points. Emits (qid, nid, dist), dist final but not
   * rounded. A shard no query reaches is never read.
   */
  private def beamShard(shard: Iterator[GraphRow],
      queries: Array[(Long, Array[Float])], k: Int,
      p: Params): Iterator[(Long, Long, Double)] =
    if (queries.isEmpty) Iterator.empty
    else {
      val rows = shard.toArray.sortBy(_.id)
      val vecs = rows.map(_.vec)
      val adj = rows.map(_.nbrs.toIndexedSeq)
      val entries = entryPoints(rows.length, p.nEntries)
      queries.iterator.flatMap { case (qid, qv) =>
        beam(vecs, adj(_), qv, math.max(p.efSearch, k), entries, p.metric)
          .toArray.map { case (d, i) =>
            (qid, rows(i).id, finalizeDist(p.metric, d)) }
      }
    }
}
