package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge

/**
 * Per-key top-k as a first-class operator (SURVEY §3 tier (c): custom
 * LogicalPlan + Strategy + SparkPlan).
 *
 * The window-function formulation (`row_number() OVER (PARTITION BY k
 * ORDER BY o) <= n`) sorts every group in full; this operator keeps a
 * bounded heap per key — O(k) memory per group, one pass — after a
 * hash-partition on the keys (declared via requiredChildDistribution, so
 * Catalyst plans the exchange and AQE still applies).
 */
final case class TopKPerKeyPlan(child: LogicalPlan, keys: Seq[Expression],
    order: SortOrder, k: Int) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyPlan =
    copy(child = c)
}

/**
 * Memory bound: one entry per retained row — distinct keys per
 * partition × k rows (plus the key map). That is the operator's
 * contract (same bound as any hash aggregate over the keys); for
 * unbounded key cardinality use the window formulation, which
 * sort-spills. Output is produced lazily per heap — no second
 * whole-partition buffer.
 *
 * NULL order keys follow the SortOrder's null ordering exactly
 * (NULLS FIRST sorts before every non-null under either direction),
 * matching the row_number window semantics the optimizer rewrite
 * replaces.
 */
final case class TopKPerKeyExec(child: SparkPlan, keys: Seq[Expression],
    order: SortOrder, k: Int) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val ordExpr = order.child
    val descending = order.direction == Descending
    val nullsFirst = order.nullOrdering == org.apache.spark.sql.catalyst.expressions.NullsFirst
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordEval = UnsafeProjection.create(Seq(ordExpr), childOutput)
      final case class Entry(isNull: Boolean, v: Double, row: UnsafeRow)
      // output-order comparison: nulls placed per nullOrdering, non-null
      // per direction — identical to SortOrder semantics
      def cmpOut(a: Entry, b: Entry): Int =
        if (a.isNull && b.isNull) 0
        else if (a.isNull) { if (nullsFirst) -1 else 1 }
        else if (b.isNull) { if (nullsFirst) 1 else -1 }
        else if (descending) java.lang.Double.compare(b.v, a.v)
        else java.lang.Double.compare(a.v, b.v)
      // per key: a bounded heap; head = the entry to evict = worst (last
      // in output order)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[Entry]]()
      val cmp = new java.util.Comparator[Entry] {
        override def compare(a: Entry, b: Entry): Int = cmpOut(b, a)
      }
      it.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[Entry](k + 1, cmp)
          heaps.put(key.copy(), heap)
        }
        val ordRow = ordEval(row)
        val entry =
          if (ordRow.isNullAt(0)) Entry(isNull = true, 0.0, null)
          else Entry(isNull = false, ordRow.getDouble(0), null)
        if (heap.size() < k) {
          heap.add(entry.copy(row = row.copy().asInstanceOf[UnsafeRow]))
        } else if (cmpOut(entry, heap.peek()) < 0) {
          heap.poll()
          heap.add(entry.copy(row = row.copy().asInstanceOf[UnsafeRow]))
        }
      }
      // lazy per-heap drain: no second whole-partition buffer
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap { heap =>
        val rows = new Array[Entry](heap.size())
        var i = rows.length - 1
        while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // best-first
        rows.iterator.map(_.row)
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

object TopKPerKey {
  private object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyPlan(child, keys, order, k) =>
        TopKPerKeyExec(planLater(child), keys, order, k) :: Nil
      case _ => Nil
    }
  }

  /** The planning strategy, for SparkSessionExtensions injection. */
  def strategy: SparkStrategy = TopKStrategy

  /**
   * Top-k rows per key group, ordered by `orderCol` (asc unless `desc`).
   * Ties are unspecified — pass a compound numeric order (e.g. value *
   * 1e6 + id) or re-sort downstream when determinism matters.
   */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String, k: Int,
      desc: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val lp = Bridge.logicalPlan(df)
    val attrs = keyCols.map(c => lp.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"no column $c")))
    val ordAttr = lp.output.find(_.name == orderCol).getOrElse(
      throw new IllegalArgumentException(s"no column $orderCol"))
    val so = SortOrder(ordAttr, if (desc) Descending else Ascending)
    Bridge.ofRows(spark, TopKPerKeyPlan(lp, attrs, so, k))
  }
}
