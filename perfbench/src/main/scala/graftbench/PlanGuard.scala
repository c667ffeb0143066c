package graftbench

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit,
  LogicalPlan, Project, Sort, SubqueryAlias, V2WriteCommand, Window}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-plan guard: a timed write must execute every Window, Aggregate
  * and Sort its analyzed plan declares. A `count()`-style action lets
  * the optimizer prune unused columns and, with them, whole window and
  * aggregate operators; an executed plan with fewer such nodes than the
  * analyzed plan measured less work than the query declares.
  *
  * Logical Aggregates become a partial and a final physical aggregate,
  * so only aggregates that require a distribution (final ones) count.
  * Sorts count only if they are global (`orderBy`, not the per-partition
  * sorts Spark adds under windows and sort-merge joins), and on the
  * declared side only if they order the output: a sort under a join or
  * an aggregate orders nothing the result shows, and Catalyst drops it
  * whatever the action. A sort with a limit executes as a top-k
  * (`TakeOrderedAndProjectExec`), which counts as a global sort.
  * The executed plan is walked through adaptive stages, reused
  * exchanges, cached relations and subqueries. */
object PlanGuard {
  final case class Shape(windows: Int, aggregates: Int, sorts: Int) {
    def covers(declared: Shape): Boolean =
      windows >= declared.windows && aggregates >= declared.aggregates &&
        sorts >= declared.sorts
    override def toString = s"windows=$windows aggregates=$aggregates sorts=$sorts"
  }

  def declared(plan: LogicalPlan): Shape = {
    val nodes = plan.collectWithSubqueries { case p => p }
    Shape(nodes.count(_.isInstanceOf[Window]), nodes.count(_.isInstanceOf[Aggregate]),
      outputSorts(plan))
  }

  /** Global sorts reachable from the root through operators that keep
    * order. */
  private def outputSorts(p: LogicalPlan): Int = p match {
    case s: Sort => if (s.global) 1 else 0
    case _: V2WriteCommand | _: DataWritingCommand | _: Project | _: Filter |
        _: SubqueryAlias | _: GlobalLimit | _: LocalLimit => p.children.map(outputSorts).sum
    case _ => 0
  }

  def executed(plan: SparkPlan): Shape = {
    val nodes = physicalNodes(plan)
    Shape(nodes.count(_.isInstanceOf[WindowExec]),
      nodes.count {
        case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isDefined
        case _ => false
      },
      nodes.count {
        case s: SortExec => s.global
        case _: TakeOrderedAndProjectExec => true
        case _ => false
      })
  }

  def physicalNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    p +: (inner ++ p.subqueries).flatMap(physicalNodes)
  }

  /** The writes a workload times or checks: noop and file sinks. */
  def isWrite(qe: QueryExecution): Boolean = qe.analyzed match {
    case _: V2WriteCommand | _: DataWritingCommand => true
    case _ => false
  }

  /** None if the executed plan covers the declared one, else why not. */
  def check(qe: QueryExecution): Option[String] = {
    val want = declared(qe.analyzed)
    val got = executed(qe.executedPlan)
    if (got.covers(want)) None
    else Some(s"pruned plan: declared $want, executed $got")
  }
}
