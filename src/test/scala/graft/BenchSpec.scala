package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** `Bench.run`, the benchmark's timed action, must execute the whole
  * plan a query declares: every window and the global output sort. A
  * `count()` lets Catalyst prune both, so it is the control that shows
  * the check can fail. */
class BenchSpec extends SparkSpec {

  test("Bench.run executes q_rsi's every window and its output sort; count() does not") {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the plan the action executed; listener events arrive asynchronously
    def executed(action: => Unit): Seq[SparkPlan] = {
      seen.clear()
      action
      val qe = seen.poll(60, TimeUnit.SECONDS)
      assert(qe != null, "no query execution reported")
      PlanAudit.executedNodes(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      val rsi = SparkEntry.queries("q_rsi")(spark, sf())
      val windows = rsi.queryExecution.analyzed.collectWithSubqueries { case w: Window => w }.size
      assert(windows > 0)
      def wholePlan(ran: Seq[SparkPlan]): Boolean =
        ran.count(_.isInstanceOf[WindowExec]) >= windows && ran.exists {
          case s: SortExec => s.global
          case _: TakeOrderedAndProjectExec => true
          case _ => false
        }
      assert(wholePlan(executed(Bench.run(rsi))))
      assert(!wholePlan(executed(rsi.count())))
    } finally {
      spark.listenerManager.unregister(listener)
      graft.operators.Ema.unpersistAll()
      spark.catalog.clearCache()
    }
  }
}
