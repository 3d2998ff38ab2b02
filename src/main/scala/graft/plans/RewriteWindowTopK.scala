package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/**
 * Optimizer rule rewriting the canonical per-group top-k window pattern
 *
 *   Project(cols without rk)
 *     Filter(rk <= k)
 *       Window(row_number() OVER (PARTITION BY p ORDER BY o) AS rk)
 *
 * into TopKPerKeyPlan — no per-group sort, no rank evaluation (Spark's
 * own WindowGroupLimit only prunes rows before the sort; this removes
 * the sort+window entirely). Fires only when the rewrite is provably
 * equivalent: single row_number window expression, rank used only in
 * the <=/< filter and dropped by the project, and a single DoubleType
 * sort key (what TopKPerKeyExec orders by). The full SortOrder —
 * direction AND null ordering — is passed through; TopKPerKeyExec
 * places NULL keys exactly where the window's sort would (NULLS
 * FIRST/LAST), so nullable sort columns are safe.
 */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  private def asLimit(cond: Expression, rk: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rk => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rk => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: AttributeReference) if a.exprId == rk => Some(k)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond, w: Window)) if w.windowExpressions.length == 1 =>
      val rewritten = for {
        alias <- w.windowExpressions.headOption.collect { case a: Alias => a }
        we <- Some(alias.child).collect { case e: WindowExpression => e }
        _ <- Some(we.windowFunction).collect { case r: RowNumber => r }
        k <- asLimit(cond, alias.exprId)
        // single double-typed sort attribute, frame = entire group prefix
        so <- w.orderSpec match {
          case Seq(s @ SortOrder(attr: AttributeReference, _, _, _))
              if attr.dataType == DoubleType => Some(s)
          case _ => None
        }
        keys <- {
          val ks = w.partitionSpec.collect { case a: AttributeReference => a }
          if (ks.length == w.partitionSpec.length && ks.nonEmpty) Some(ks) else None
        }
        // project must not reference the rank and only pass through child cols
        if projList.forall {
          case a: AttributeReference => a.exprId != alias.exprId
          case _ => false
        }
      } yield {
        // drop Spark's own WindowGroupLimit if it planned one beneath
        val child = w.child match {
          case wgl: WindowGroupLimit => wgl.child
          case c => c
        }
        Project(projList, TopKPerKeyPlan(child, keys, so, k))
      }
      rewritten.getOrElse(p)
  }
}
