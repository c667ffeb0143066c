package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Tables
import graft.operators.{Bars, Indicators}

/** Self-check of the whole-plan guard, run by the benchmark's tests:
  * `GuardCheck <dir with events.parquet> <work dir>`.
  *
  *  - Under `count()` Catalyst prunes the window operators of an
  *    indicator query, and the guard must trip.
  *  - The same query forced in full by a noop write must pass.
  *  - A noop write whose optimizer drops the final `orderBy` keeps every
  *    window, and the per-partition sorts under them, yet must trip.
  *
  * Prints one line per case and exits 0 when all three hold. */
object GuardCheck {
  /** Stands in for an action that loses the output ordering. */
  object DropGlobalSorts extends Rule[LogicalPlan] {
    def apply(p: LogicalPlan): LogicalPlan = p.transformDown { case s: Sort if s.global => s.child }
  }

  def main(args: Array[String]): Unit = {
    val spark = Main.session(2, args(1))
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def planOf(action: => Unit): QueryExecution = {
      seen.clear()
      action
      seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val rsi: DataFrame = Indicators.rsi(Bars.ohlcv(Tables.events(spark, args(0))))
    val counted = PlanGuard.check(planOf(rsi.count()))
    val forced = PlanGuard.check(planOf(noop(rsi)))

    spark.experimental.extraOptimizations = Seq(DropGlobalSorts)
    val unsorted = planOf(noop(rsi))
    val declared = PlanGuard.declared(unsorted.analyzed)
    val executed = PlanGuard.executed(unsorted.executedPlan)
    val localSorts = PlanGuard.physicalNodes(unsorted.executedPlan).count(_.isInstanceOf[SortExec])
    val keptWindows = declared.windows > 0 && executed.windows >= declared.windows && localSorts > 0
    val sortDropped = PlanGuard.check(unsorted)

    println(s"count(): ${counted.getOrElse("passed")}")
    println(s"noop write: ${forced.getOrElse("passed")}")
    println(s"orderBy dropped: ${sortDropped.getOrElse("passed")} (local sorts $localSorts)")
    spark.stop()
    sys.exit(if (counted.isDefined && forced.isEmpty && keptWindows && sortDropped.isDefined) 0 else 1)
  }
}
