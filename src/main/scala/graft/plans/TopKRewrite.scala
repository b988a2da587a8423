package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Cast, EqualTo, Expression, LessThan,
  LessThanOrEqual, Literal, RowNumber, WindowExpression, WindowSpecDefinition
}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Project, Window, WindowGroupLimit
}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the ubiquitous top-k-per-key SQL idiom
  *
  *   `row_number() OVER (PARTITION BY key ORDER BY ord) AS rn` + `rn <= k`
  *
  * into [[TopKPerKeyPlan]], the bounded-heap operator. The window
  * formulation sorts every key group (O(n log n)) and ships every row to
  * the shuffle; the heap operator's partial pass caps shuffle volume at
  * k·keys·partitions and never sorts more than k rows per key
  * (O(n log k)). Spark's own `InferWindowGroupLimit` mitigates the same
  * pattern but keeps the sort-based Window; this rule replaces the whole
  * operator. It is opt-in: one frame at a time, deterministically, via
  * [[TopKPerKey.viaRewrite]], or every query of a session via
  * [[TopKPerKey.registerRewrite]]. `GraftExtensions` installs only the
  * strategy that plans the operator, never this rule.
  *
  * Fires only when the rewrite is provably output-identical:
  *   - exactly one window expression, a plain `row_number()` (rank/
  *     dense_rank admit ties and need different emission);
  *   - non-empty PARTITION BY (the operator clusters by key);
  *   - the filter is solely `rn <= k` / `rn < k+1` / `rn = 1` with
  *     1 ≤ k ≤ [[TopKRewrite.MaxK]] (per-key heap memory is k rows).
  * The emitted rank is cast back to the window's IntegerType under the
  * ORIGINAL alias exprId, so downstream references bind unchanged.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  val MaxK = 1000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      // The analyzer leaves one or more attribute-only Projects between the
      // filter and the window (the optimizer collapses them, but this rule
      // must also fire on analyzed plans via TopKPerKey.viaRewrite). Peel
      // the chain, rewrite, and re-apply the outermost projection above.
      peelProjects(child) match {
        case (projs, w: Window) =>
          rewrite(cond, w).map { r =>
            projs.headOption.map(p => Project(p, r)).getOrElse(r)
          }.getOrElse(f)
        case _ => f
      }
  }

  /** Strip a chain of attribute-only Projects, returning their project
    * lists outermost-first plus the first non-Project descendant. */
  private def peelProjects(
      plan: LogicalPlan): (Seq[Seq[AttributeReference]], LogicalPlan) =
    plan match {
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        val (rest, leaf) = peelProjects(child)
        (projList.map(_.asInstanceOf[AttributeReference]) +: rest, leaf)
      case other => (Nil, other)
    }

  private def rankLimit(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
          if a.exprId == rn.exprId => Some(k)
      case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
          if a.exprId == rn.exprId => Some(k - 1)
      case EqualTo(a: AttributeReference, Literal(k: Int, IntegerType))
          if a.exprId == rn.exprId && k == 1 => Some(1)
      case _ => None
    }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] =
    w.windowExpressions match {
      case Seq(alias @ Alias(
            WindowExpression(_: RowNumber, WindowSpecDefinition(_, _, _)), _))
          if w.partitionSpec.nonEmpty =>
        rankLimit(cond, alias.toAttribute).flatMap { k =>
          if (k < 1 || k > MaxK) None
          else {
            // If InferWindowGroupLimit already ran, its group-limit node is
            // redundant under the heap operator — strip it.
            val child = w.child match {
              case wgl: WindowGroupLimit => wgl.child
              case other                 => other
            }
            val topk = TopKPerKeyPlan(w.partitionSpec, w.orderSpec, k, child)
            Some(Project(
              child.output :+
                Alias(Cast(topk.rankAttr, IntegerType), alias.name)(
                  exprId = alias.exprId),
              topk))
          }
        }
      case _ => None
    }
}
