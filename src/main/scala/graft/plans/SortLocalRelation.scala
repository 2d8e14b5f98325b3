package graft.plans

import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global sort of a `LocalRelation` sorts its rows on
  * the driver, where they already are. Spark folds filters and
  * projections into a local relation but not sorts, so an
  * `information_schema` lookup with an `ORDER BY` cost three Spark jobs
  * for a handful of rows. Streaming relations and orders that are
  * nondeterministic or hold a subquery keep Spark's sort. */
object SortLocalRelation extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Sort(order, true, rel: LocalRelation, _) if !rel.isStreaming &&
        order.forall(o => o.deterministic && !SubqueryExpression.hasSubquery(o)) =>
      rel.copy(data = rel.data.sorted(new InterpretedOrdering(order, rel.output)))
  }
}
