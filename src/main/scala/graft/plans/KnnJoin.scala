package graft.plans

import graft.functions.{TopKPairsBuffer, VectorKernel, VectorMetrics}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import scala.annotation.switch

/**
 * Fused exact KNN join: every corpus row is scored against every query
 * in one pass, into one bounded heap per query, with no per-pair row,
 * expression or aggregate buffer in between (FuseME's fused
 * query×corpus operator, with the early-abandon test of progressive
 * top-k similarity search).
 *
 * Children: `corpus` = (nid: long, v: array<float>), a Catalyst-planned
 * scan; `queries` = (qid, qv: array<float>), broadcast to every corpus
 * task. Output: (qid, nid, dist), at most k rows per query per corpus
 * partition, where dist is the metric's distance rounded like Spark's
 * `round(dist, 6)`. A downstream top-k aggregate per qid merges them.
 */
final case class KnnJoinPlan(corpus: LogicalPlan, queries: LogicalPlan, k: Int,
    metric: String, dist: Attribute) extends BinaryNode {
  require(k > 0, "k must be positive")
  require(VectorMetrics.all.contains(metric), s"unknown metric $metric")
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  override def output: Seq[Attribute] =
    Seq(queries.output.head, corpus.output.head, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): KnnJoinPlan = copy(corpus = l, queries = r)
}

/**
 * Rows whose nid or v is null, and queries whose qv is null, are
 * skipped; a corpus vector whose length differs from a query's throws,
 * as `VectorDistance` does.
 *
 * Metrics: `pairs` scored, `pairs_pruned` rejected against the heap's
 * k-th best without rounding, `pairs_rounded` rounded and offered to the
 * heap (`pairs = pairs_pruned + pairs_rounded`).
 */
final case class KnnJoinExec(corpus: SparkPlan, queries: SparkPlan, k: Int,
    metric: String, dist: Attribute) extends BinaryExecNode {
  override def left: SparkPlan = corpus
  override def right: SparkPlan = queries
  override def output: Seq[Attribute] =
    Seq(queries.output.head, corpus.output.head, dist)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(corpus.outputPartitioning.numPartitions)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "pairs" -> SQLMetrics.createMetric(sparkContext, "pairs scored"),
    "pairs_pruned" -> SQLMetrics.createMetric(sparkContext, "pairs pruned by the k-th best"),
    "pairs_rounded" -> SQLMetrics.createMetric(sparkContext, "pairs rounded"))

  override protected def doExecute(): RDD[InternalRow] = {
    val bq: Broadcast[Array[InternalRow]] = queries.executeBroadcast[Array[InternalRow]]()
    val (k, metric) = (this.k, this.metric)
    val qidType = queries.output.head.dataType
    val m = metrics
    corpus.execute().mapPartitions { rows =>
      val qs = bq.value
      val scan = new FusedTopK(
        qs.map(q => if (q.isNullAt(1)) null else q.getArray(1).toFloatArray()), k, metric)
      var v = Array.emptyFloatArray
      while (rows.hasNext) {
        val row = rows.next()
        if (!row.isNullAt(1)) {
          val a = row.getArray(1)
          val n = a.numElements()
          if (v.length != n) v = new Array[Float](n)
          var i = 0
          while (i < n) { v(i) = a.getFloat(i); i += 1 }
          scan.checkDims(n)
          if (!row.isNullAt(0)) scan.score(row.getLong(0), v)
        }
      }
      m("pairs") += scan.pairs
      m("pairs_pruned") += scan.pruned
      m("pairs_rounded") += scan.rounded
      val numOut = m("numOutputRows")
      val buf = new SpecificInternalRow(Seq[DataType](qidType, LongType, DoubleType))
      val proj = UnsafeProjection.create(Array[DataType](qidType, LongType, DoubleType))
      qs.indices.iterator.flatMap { qi =>
        val h = scan.heaps(qi)
        val q = qs(qi)
        if (q.isNullAt(0)) buf.setNullAt(0) else buf.update(0, q.get(0, qidType))
        Iterator.range(0, h.size).map { j =>
          buf.setLong(1, h.ids(j)); buf.setDouble(2, h.dists(j))
          numOut += 1
          proj(buf)
        }
      }
    }
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
      case KnnJoinPlan(corpus, queries, k, metric, dist) =>
        KnnJoinExec(planLater(corpus), planLater(queries), k, metric, dist) :: Nil
      case _ => Nil
    }
  }

  /** The planning strategy, for SparkSessionExtensions injection. */
  def strategy: SparkStrategy = KnnJoinStrategy

  /**
   * Per-partition top-k (qid, nid, dist) rows of `corpus` (nid: long,
   * v: array<float>) for each row of `queries` (qid, qv: array<float>);
   * the first two columns of each side, by position. Lazy: no job runs
   * until an action.
   */
  def pairs(corpus: DataFrame, queries: DataFrame, k: Int,
      metric: String): DataFrame = {
    val spark = corpus.sparkSession
    graft.GraftExtensions.install(spark)
    Bridge.ofRows(spark, KnnJoinPlan(Bridge.logicalPlan(corpus),
      Bridge.logicalPlan(queries), k, metric,
      AttributeReference("dist", DoubleType, nullable = false)()))
  }
}
