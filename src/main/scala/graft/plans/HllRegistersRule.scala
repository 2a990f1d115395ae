package graft.plans

import graft.expressions.HllRegisters

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE_EXPRESSION, PLAN_EXPRESSION}

/** Logical optimizer rule: every `approx_count_distinct` aggregate, in the
  * plan and in its subqueries, runs as [[HllRegisters]], whose registers sit
  * in one typed buffer instead of one LONG buffer field per 10 registers.
  * Mode, DISTINCT, FILTER and result id stay as they are, and so does the
  * answer. Injected in `Graft.session` with `injectOptimizerRule`, so every
  * session, child session and broker query gets it; it has no conf key
  * because no graft session plans Spark's wide buffer layout.
  */
object HllRegistersRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueriesAndPruning(_.containsAnyPattern(AGGREGATE_EXPRESSION, PLAN_EXPRESSION)) {
      case p => p.transformExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
        case ae @ AggregateExpression(h: HyperLogLogPlusPlus, _, _, _, _) =>
          ae.copy(aggregateFunction = HllRegisters(h.child, h.relativeSD))
      }
    }
}
