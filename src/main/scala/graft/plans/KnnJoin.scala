package graft.plans

import graft.functions.{TopKPairsBuffer, VectorKernel, VectorMetrics}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, BoundReference, PredicateHelper, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

import scala.annotation.switch
import scala.collection.mutable

/**
 * Fused exact KNN join: every corpus row is scored against every query
 * in one pass, into one bounded heap per query, with no per-pair row,
 * expression or aggregate buffer in between (FuseME's fused
 * query×corpus operator, with the early-abandon test of progressive
 * top-k similarity search). The node also merges the heaps, so it is
 * the whole join: one job, with no exchange and no aggregate.
 *
 * Children: `corpus`, a Catalyst-planned scan, and `queries`, read on
 * the driver when the node executes. `reads` names the columns the node
 * reads: (nid: long, v: array<float>) of the corpus, then (qid,
 * qv: array<float>) of the queries; holding them keeps column pruning
 * from dropping them. Output: (qid, rank, nid, dist), the k nearest
 * corpus rows per qid ranked by (dist, nid), where dist is the metric's
 * distance rounded like Spark's `round(dist, 6)`. Query rows that share
 * a qid (null included) share one heap, as a `groupBy(qid)` would.
 * `produced` holds the (rank, nid, dist) attributes; `newInstance`
 * renews them, so a plan that uses one join twice (a self-join) can be
 * deduplicated like any relation.
 */
final case class KnnJoinPlan(corpus: LogicalPlan, queries: LogicalPlan, k: Int,
    metric: String, reads: Seq[Attribute], produced: Seq[Attribute]) extends BinaryNode
    with MultiInstanceRelation {
  require(k > 0, "k must be positive")
  require(VectorMetrics.all.contains(metric), s"unknown metric $metric")
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  override def output: Seq[Attribute] = reads(2) +: produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def newInstance(): KnnJoinPlan = copy(produced = produced.map(_.newInstance()))
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): KnnJoinPlan = copy(corpus = l, queries = r)
}

/**
 * Rows whose nid or v is null, and queries whose qv is null, are
 * skipped; a corpus vector whose length differs from a query's throws,
 * as `VectorDistance` does.
 *
 * Both children keep their own partitioning, so the plan has no
 * exchange. Each corpus task returns one heap of at most k entries per
 * query row. `executeCollect` merges them on the driver after one job,
 * as `TakeOrderedAndProjectExec` does; `execute` (a composed plan)
 * moves them to one partition and merges them there.
 *
 * Metrics: `pairs` scored, `pairs_pruned` rejected against the heap's
 * k-th best without rounding, `pairs_rounded` rounded and offered to the
 * heap (`pairs = pairs_pruned + pairs_rounded`).
 */
final case class KnnJoinExec(corpus: SparkPlan, queries: SparkPlan, k: Int,
    metric: String, reads: Seq[Attribute], produced: Seq[Attribute]) extends BinaryExecNode {
  override def left: SparkPlan = corpus
  override def right: SparkPlan = queries
  override def output: Seq[Attribute] = reads(2) +: produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "pairs" -> SQLMetrics.createMetric(sparkContext, "pairs scored"),
    "pairs_pruned" -> SQLMetrics.createMetric(sparkContext, "pairs pruned by the k-th best"),
    "pairs_rounded" -> SQLMetrics.createMetric(sparkContext, "pairs rounded"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (heaps, merge) = scan()
    heaps.coalesce(1, shuffle = true).mapPartitions(merge)
  }

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val (heaps, merge) = scan()
    val out = merge(heaps.collect().iterator).map(_.copy()).toArray
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    out
  }

  /**
   * The corpus scan, lazily: per corpus partition, one heap per query
   * row, as [[TopKPairsBuffer.toBytes]]. And the merge of those heaps
   * into output rows, one heap per distinct qid. Reads the query side
   * (a local relation runs no job) and broadcasts its vectors.
   */
  private def scan(): (RDD[Array[Array[Byte]]],
      Iterator[Array[Array[Byte]]] => Iterator[InternalRow]) = {
    def ordinal(p: SparkPlan, a: Attribute): Int = p.output.indexWhere(_.exprId == a.exprId)
    val Seq(nidAt, vAt) = reads.take(2).map(ordinal(corpus, _))
    val Seq(qidAt, qvAt) = reads.drop(2).map(ordinal(queries, _))
    val qs = queries.executeCollect()
    val qidType = reads(2).dataType
    val keyOf = UnsafeProjection.create(
      Bridge.normalizeFloats(BoundReference(qidAt, qidType, nullable = true)) :: Nil)
    val keyIds = mutable.LinkedHashMap.empty[UnsafeRow, Int]
    val group = qs.map(q => keyIds.getOrElseUpdate(keyOf(q).copy(), keyIds.size))
    val keys = keyIds.keys.toArray
    val bq = sparkContext.broadcast(
      qs.map(q => if (q.isNullAt(qvAt)) null else q.getArray(qvAt).toFloatArray()))
    val (k, metric) = (this.k, this.metric)
    val m = metrics
    val heaps = corpus.execute().mapPartitions { rows =>
      val scan = new FusedTopK(bq.value, k, metric)
      var v = Array.emptyFloatArray
      while (rows.hasNext) {
        val row = rows.next()
        if (!row.isNullAt(vAt)) {
          val a = row.getArray(vAt)
          val n = a.numElements()
          if (v.length != n) v = new Array[Float](n)
          var i = 0
          while (i < n) { v(i) = a.getFloat(i); i += 1 }
          scan.checkDims(n)
          if (!row.isNullAt(nidAt)) scan.score(row.getLong(nidAt), v)
        }
      }
      m("pairs") += scan.pairs
      m("pairs_pruned") += scan.pruned
      m("pairs_rounded") += scan.rounded
      Iterator.single(scan.heaps.map(_.toBytes))
    }
    val merge = (parts: Iterator[Array[Array[Byte]]]) => {
      val merged = Array.fill(keys.length)(new TopKPairsBuffer(k))
      parts.foreach(hs => hs.indices.foreach(qi =>
        merged(group(qi)).mergeFrom(TopKPairsBuffer.fromBytes(hs(qi)))))
      val types = Array[DataType](qidType, IntegerType, LongType, DoubleType)
      val buf = new SpecificInternalRow(types.toSeq)
      val proj = UnsafeProjection.create(types)
      val numOut = m("numOutputRows")
      keys.indices.iterator.flatMap { g =>
        if (keys(g).isNullAt(0)) buf.setNullAt(0) else buf.update(0, keys(g).get(0, qidType))
        merged(g).sorted().iterator.zipWithIndex.map { case ((nid, d), j) =>
          buf.setInt(1, j + 1); buf.setLong(2, nid); buf.setDouble(3, d)
          numOut += 1
          proj(buf)
        }
      }
    }
    (heaps, merge)
  }

  override protected def withNewChildrenInternal(l: SparkPlan,
      r: SparkPlan): KnnJoinExec = copy(corpus = l, queries = r)
}

/**
 * One task's state: a [[TopKPairsBuffer]] per query and, per heap, the
 * bound a candidate must not exceed to still have a chance of entering.
 *
 * Survivors take exactly the arithmetic of `round(VectorDistance, 6)`.
 * The bound only decides which candidates skip that arithmetic. With
 * d_w the heap's worst (a rounded distance) and e = d_w + 2e-6, any
 * distance d > e rounds to more than d_w, so it cannot enter: rounding
 * moves a value by at most 5e-7, and the heap admits a tie at d_w only
 * through the id tie-break. For l2 the bound is e² on the sum of
 * squares, because sqrt is monotone and sqrt(fl(e·e)) = e. For l2, l2sq
 * and l1 the kernel compares the partial sum every 32 dimensions, and
 * these partial sums never decrease. A worst of NaN, ±Inf or magnitude
 * past 1e6 (where 2e-6 nears the double spacing) sets no bound.
 */
private[plans] final class FusedTopK(qvs: Array[Array[Float]], k: Int,
    metric: String) {
  import FusedTopK._
  private val code = Codes(metric)
  val heaps: Array[TopKPairsBuffer] = Array.fill(qvs.length)(new TopKPairsBuffer(k))
  private val bounds = Array.fill(qvs.length)(Double.PositiveInfinity)
  var pairs = 0L
  var pruned = 0L
  var rounded = 0L

  def checkDims(n: Int): Unit = {
    var qi = 0
    while (qi < qvs.length) {
      val q = qvs(qi)
      if (q != null && q.length != n)
        throw new IllegalArgumentException(
          s"graft: vector dims differ: $n vs ${q.length}")
      qi += 1
    }
  }

  /** Offer corpus row (nid, v) to every query's heap; dims already checked. */
  def score(nid: Long, v: Array[Float]): Unit = {
    var qi = 0
    while (qi < qvs.length) {
      val q = qvs(qi)
      if (q != null) {
        val bound = bounds(qi)
        // the distance (for l2: its square) in the bound's domain
        val d = (code: @switch) match {
          case L2 | L2Sq => VectorKernel.l2sqBounded(v, q, bound)
          case L1 => VectorKernel.l1Bounded(v, q, bound)
          case Ip => VectorKernel.dot(v, q)
          case NegIp => -VectorKernel.dot(v, q)
          case Cosine => VectorKernel.cosineDistance(v, q)
          case Spherical =>
            math.acos(math.max(-1.0, math.min(1.0, VectorKernel.dot(v, q)))) / math.Pi
        }
        pairs += 1
        if (d > bound) pruned += 1
        else {
          rounded += 1
          val h = heaps(qi)
          h.insert(nid, round6(if (code == L2) math.sqrt(d) else d))
          if (h.size == k) bounds(qi) = boundOf(h.dists(0))
        }
      }
      qi += 1
    }
  }

  private def boundOf(worst: Double): Double =
    if (!(math.abs(worst) < BoundLimit)) Double.PositiveInfinity
    else {
      val e = worst + RoundSlack
      if (code == L2) e * e else e
    }
}

private[plans] object FusedTopK {
  final val L2 = 0; final val L2Sq = 1; final val L1 = 2; final val Ip = 3
  final val NegIp = 4; final val Cosine = 5; final val Spherical = 6
  private val Codes = Map(VectorMetrics.L2 -> L2, VectorMetrics.L2Sq -> L2Sq,
    VectorMetrics.L1 -> L1, VectorMetrics.Ip -> Ip, VectorMetrics.NegIp -> NegIp,
    VectorMetrics.Cosine -> Cosine, VectorMetrics.Spherical -> Spherical)
  private final val RoundSlack = 2e-6
  private final val BoundLimit = 1e6

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * form of x, with NaN and ±Inf passed through. */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

object KnnJoin {
  private object KnnJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case KnnJoinPlan(corpus, queries, k, metric, reads, produced) =>
        KnnJoinExec(planLater(corpus), planLater(queries), k, metric, reads, produced) :: Nil
      case _ => Nil
    }
  }

  /** The planning strategy, for SparkSessionExtensions injection. */
  def strategy: SparkStrategy = KnnJoinStrategy

  /**
   * Moves each deterministic filter conjunct that reads only the join's
   * qid into the query child. A qid group's heap depends on its own
   * query rows alone, so dropping whole groups before the scan returns
   * the rows that dropping them after would, and the corpus is scored
   * only against the queries kept. Floating-point qids stay put: their
   * groups are keyed on the normalized value (-0.0 with 0.0), and a
   * predicate on the raw value could split a group.
   */
  private object PushQidFilter extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, j: KnnJoinPlan) if !Bridge.needsNormalize(j.reads(2)) =>
        val qid = AttributeSet(j.reads(2))
        val (push, keep) = splitConjunctivePredicates(cond)
          .partition(p => p.deterministic && p.references.subsetOf(qid))
        if (push.isEmpty) f
        else {
          val pushed = j.copy(queries = Filter(push.reduce(And), j.queries))
          keep.reduceOption(And).fold[LogicalPlan](pushed)(Filter(_, pushed))
        }
    }
  }

  /** The qid filter pushdown, for optimizer injection. */
  def pushQidFilter: Rule[LogicalPlan] = PushQidFilter

  /**
   * The k nearest rows of `corpus` (nid: long, v: array<float>) for each
   * qid of `queries` (qid, qv: array<float>), as (qid, rank, nid, dist);
   * the first two columns of each side, by position. Lazy: no job runs
   * until an action.
   */
  def join(corpus: DataFrame, queries: DataFrame, k: Int,
      metric: String): DataFrame = {
    val spark = corpus.sparkSession
    graft.GraftExtensions.install(spark)
    val (c, q) = (Bridge.logicalPlan(corpus), Bridge.logicalPlan(queries))
    val produced = Seq(AttributeReference("rank", IntegerType, nullable = false)(),
      AttributeReference("nid", LongType, nullable = false)(),
      AttributeReference("dist", DoubleType, nullable = false)())
    Bridge.ofRows(spark, KnnJoinPlan(c, q, k, metric,
      c.output.take(2) ++ q.output.take(2), produced))
  }
}
