package graft.operators

import graft.functions.{TopKPairsAgg, VectorMetrics, VectorFunctions => VF}
import graft.plans.KnnJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/**
 * Exact KNN operators (reference: contrib/datavec/src/ivfscan.cpp exact
 * path — `ORDER BY embedding <-> q LIMIT k`).
 *
 * Scale design (SURVEY §5):
 *  - single-query top-k compiles to TakeOrderedAndProject: per-partition
 *    O(k) heap, driver merge of #partitions × k rows — no shuffle, no sort.
 *  - knn join is one fused scan ([[graft.plans.KnnJoinExec]]): the query
 *    side is broadcast, each corpus task scores every row against every
 *    query into one bounded heap per query, abandoning a candidate once
 *    its partial distance passes the heap's k-th best, and emits at most
 *    k rows per (query, partition). A top-k aggregate per query id merges
 *    them, so the shuffle never carries the corpus.
 */
object Knn {

  /** Single-query exact top-k: (id, dist) ascending, ties broken on id. */
  def exactTopK(corpus: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int,
      dist: (Column, Column) => Column = VF.l2Distance): DataFrame =
    corpus
      .select(col(idCol), round(dist(col(vecCol), lit(query)), 6).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /**
   * Bounded top-k aggregate over (id, dist) pairs: a Catalyst
   * TypedImperativeAggregate on primitive-array heaps (see TopKPairsAgg).
   * Partial (map-side) aggregation ships at most k pairs per partition
   * per group, as a flat 16-bytes-per-entry blob.
   */
  def topKPairs(idCol: Column, distCol: Column, k: Int): Column =
    Bridge.column(TopKPairsAgg(Bridge.expression(idCol),
      Bridge.expression(distCol), k).toAggregateExpression())

  /** [[topKPairs]] with a long payload column riding along each entry
    * (see [[graft.functions.TopKPayloadAgg]]) — for rankings that must
    * emit an auxiliary per-candidate aggregate without re-joining the
    * ranked rows back to the scored set. */
  def topKPayloadPairs(idCol: Column, distCol: Column, payloadCol: Column,
      k: Int): Column =
    Bridge.column(graft.functions.TopKPayloadAgg(Bridge.expression(idCol),
      Bridge.expression(distCol), Bridge.expression(payloadCol),
      k).toAggregateExpression())

  /**
   * Expand the array<struct<nid,dist>> produced by [[topKPairs]] into
   * (qid, rank, nid, dist) rows.
   */
  def explodeTopK(df: DataFrame): DataFrame =
    df.select(col("qid"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("e.nid").as("nid"), col("e.dist").as("dist"))

  /**
   * KNN join: for every row of `queries`, the k nearest rows of `corpus`
   * under `metric` (a [[VectorMetrics]] name). Output: (qid, rank, nid,
   * dist), dist rounded to 6 places, ties broken on nid — the values of
   * `round(dist(vec, qv), 6)` ranked per query. Vectors are read as
   * array<float>; rows with a null id or vector and queries with a null
   * vector are skipped. `queries` must be small enough to broadcast (the
   * common shape: |Q| ≪ |corpus|).
   */
  def knnJoin(queries: DataFrame, qVecCol: String, qIdCol: String,
      corpus: DataFrame, vecCol: String, idCol: String, k: Int,
      metric: String = VectorMetrics.L2): DataFrame = {
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).cast("array<float>").as("qv"))
    val c = corpus.select(col(idCol).cast("long").as("nid"), col(vecCol).cast("array<float>").as("v"))
    explodeTopK(KnnJoin.pairs(c, q, k, metric)
      .groupBy(col("qid"))
      .agg(topKPairs(col("nid"), col("dist"), k).as("nn")))
  }
}
