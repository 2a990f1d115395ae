package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}

/** AQE runtime rule: a global sort, or a window with no PARTITION BY, over
  * small materialized input runs in one partition.
  *
  * The typical dashboard query is a small aggregate with ORDER BY. AQE plans
  * `Exchange rangepartitioning` for the sort, which costs a RangePartitioner
  * sampling job, a range-shuffle map job and one more re-optimization, all to
  * order a few KB. A window without PARTITION BY plans `Exchange
  * SinglePartition`, one more job. Once every input is a materialized query
  * stage whose runtime size AQE's own `CoalesceShufflePartitions` would fold
  * into one partition anyway, this rule puts `Repartition(1, shuffle =
  * false)` under the operator: `CoalesceExec(1)` reports `SinglePartition`,
  * which satisfies both the ordered and the all-tuples distribution, so
  * `EnsureRequirements` plans no exchange.
  *
  * It never fires on static estimates (every leaf must be a materialized
  * `LogicalQueryStage`), nor after the operator's own exchange has run (a
  * join's size-only estimate can be too large until the range stage itself
  * materializes; coalescing its output then saves nothing). Injected in
  * `Graft.session` with `injectRuntimeOptimizerRule`, so every session and
  * `newSession()` child has it. The threshold is AQE's, shared with
  * [[OnePartitionRule]]: `OnePartitionRule.maxBytes`.
  */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(_, true, child, _) if fits(child) => s.copy(child = single(child))
    case w @ Window(_, Seq(), _, child, _) if fits(child) => w.copy(child = single(child))
    case w @ WindowGroupLimit(Seq(), _, _, _, child) if fits(child) => w.copy(child = single(child))
  }

  private def single(p: LogicalPlan): LogicalPlan = Repartition(1, shuffle = false, p)

  private def fits(child: LogicalPlan): Boolean =
    !singlePartition(child) && !exchangeRan(child) &&
      child.collectLeaves().forall {
        case s: LogicalQueryStage => s.isMaterialized
        case _ => false
      } &&
      child.stats.sizeInBytes <= OnePartitionRule.maxBytes(conf)

  /** Already in one partition: a Repartition(1) under operators that keep
    * their child's partitioning (an inner sort or window this rule fixed). */
  @tailrec private def singlePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case p @ (_: Project | _: Filter | _: Sort | _: Window | _: WindowGroupLimit) =>
      singlePartition(p.children.head)
    case _ => false
  }

  /** The exchange serving this operator has already run: its shuffle
    * stage sits directly under a Project/Filter chain. */
  @tailrec private def exchangeRan(p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage => s.physicalPlan.isInstanceOf[ShuffleQueryStageExec]
    case p @ (_: Project | _: Filter) => exchangeRan(p.children.head)
    case _ => false
  }
}
