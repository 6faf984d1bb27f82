package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the standard top-N-per-group idiom
  *
  *   Project(cols…,                                 — rank column dropped
  *     Filter(rn <= k,
  *       Window(row_number() over (partition by g order by o))))
  *
  * into [[TopKPerGroup]], which keeps bounded per-group heaps instead of
  * fully sorting every group (see TopKPerGroup's scaladoc for the cost
  * model). Fires only when:
  *  - the window computes exactly one expression, a plain `row_number()`;
  *  - the filter is `rn <= k` / `rn < k` with a literal bound;
  *  - the projection does not reference the rank attribute (if the caller
  *    wants the rank itself, the window must run).
  *
  * Row-number ties on a non-total order are nondeterministic in BOTH forms,
  * so the rewrite never changes a deterministic result. Installed by
  * [[graft.GraftExtensions]] (injected, or through
  * `spark.experimental.extraOptimizations` by `GraftExtensions.register`).
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteTopKWindow` turns
  * it off.
  *
  * Relation to Spark's own `WindowGroupLimit` (physical optimization for
  * the same idiom, Spark 3.5+): that still sorts each partition and runs
  * the Window operator, pruning rows between the two; TopKPerGroup replaces
  * sort+window entirely with a bounded-heap partial/final aggregation — no
  * per-partition sort of the full input, O(n log k) with k-sized state.
  */
object RewriteTopKWindow extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rn) =>
      Some(k)
    case LessThan(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rn) =>
      Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rn) =>
      Some(k)
    case _ => None
  }

  private def isPlainRowNumber(spec: WindowSpecDefinition): Boolean = spec match {
    case WindowSpecDefinition(_, _,
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(
            WindowExpression(_: RowNumber, spec: WindowSpecDefinition), _)),
            partitionSpec, orderSpec, child, _))) if isPlainRowNumber(spec) =>
      val rn = alias.toAttribute
      limitOf(cond, rn) match {
        case Some(k) if k > 0 && partitionSpec.nonEmpty &&
            !projectList.exists(_.references.contains(rn)) =>
          Project(projectList, TopKPerGroup(k, partitionSpec, orderSpec, child))
        case _ => p
      }
  }
}
