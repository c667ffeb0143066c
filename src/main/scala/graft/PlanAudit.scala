package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Emits a markdown audit of every query's physical plan: exchange
  * counts, broadcast usage, scan pushdown, codegen coverage. The output
  * (PLANS.md) is the scale-review artifact — a query with surprise
  * exchanges or a scan without pushdown shows up immediately.
  *
  * Counts reflect EXECUTION, not plan text: a persisted dataset's
  * lineage is materialized once however many times the plan references
  * it, so each distinct cached plan is descended into exactly once
  * (the raw `toString` re-prints cached subtrees per reference and
  * inflated multi-pass queries like q_macd ~4×).
  * `runMain graft.PlanAudit <sfDir>` */
object PlanAudit {

  /** All plan nodes that execute: the root tree, plus each DISTINCT
    * cached plan behind the InMemoryTableScans it references. AQE
    * wraps the whole query in an AdaptiveSparkPlanExec LEAF node, so
    * the walk must descend into its current physical plan — without
    * that, any audit on an AQE session sees exactly one node and every
    * count is trivially zero (PlanShapeSpec has a planted-offender
    * test guarding against that vacuity). */
  private[graft] def executedNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seenCaches = mutable.Set[SparkPlan]()
    val out = mutable.Buffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      p.foreach { n =>
        out += n
        n match {
          case s: InMemoryTableScanExec =>
            val cp = s.relation.cachedPlan
            if (seenCaches.add(cp)) walk(cp)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            // After execution the adaptive plan is stitched from query
            // stages (ResultQueryStage/ShuffleQueryStage/...), which are
            // LEAF wrappers — without descending, a post-execution walk
            // sees only the stage shells (the skew-join spec pins this).
            walk(q.plan)
          case _ =>
        }
      }
    }
    walk(root)
    out.toSeq
  }

  /** Shuffle exchanges among `nodes`: every `ShuffleExchangeExec`,
    * whatever its partitioning (hash, range, single-partition,
    * round-robin). A `ReusedExchange` re-reads an earlier shuffle's
    * output and is not one. PLANS.md and PlanShapeSpec's exchange gates
    * both count with this, over the plan made with AQE off, where
    * exchange reuse has run. */
  private[graft] def shuffles(nodes: Seq[SparkPlan]): Int =
    nodes.count(_.isInstanceOf[ShuffleExchangeExec])

  /** Count of window expressions whose frame has a BOUNDED lower edge
    * and an UnboundedFollowing upper edge. Spark executes that shape
    * (`UnboundedFollowingWindowFunctionFrame`) by re-scanning from the
    * current row to the partition end for every row — O(rows²) per
    * partition, the quadratic blowup that stalled q_gap_fill's backfill
    * for 11+ minutes at sf1.0 (SCALING.md). Unbounded-to-unbounded and
    * unbounded-preceding-to-bounded frames are O(rows) and not counted.
    * The scale contract is 0 everywhere; gated by PlanShapeSpec. */
  private[graft] def quadraticFrames(nodes: Seq[SparkPlan]): Int = {
    import org.apache.spark.sql.catalyst.expressions.{
      SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
    nodes.map {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.windowExpression.map(_.collect {
          case WindowExpression(_, spec) => spec.frameSpecification match {
            case SpecifiedWindowFrame(_, lower, upper) =>
              if (upper == UnboundedFollowing && lower != UnboundedPreceding) 1 else 0
            case _ => 0
          }
        }.sum).sum
      case _ => 0
    }.sum
  }

  /** Count of window operators whose partitionSpec is empty — each one
    * is a single-partition global sort at scale (the "No Partition
    * Defined for Window operation" warning). The scale contract is that
    * every query reports 0 here; gated by PlanShapeSpec. */
  private[graft] def globalWindows(nodes: Seq[SparkPlan]): Int =
    nodes.count {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false") // static plan for auditing
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("# Physical-plan audit")
    println()
    println(s"Generated by `graft.PlanAudit` over `$sfDir` with AQE off. " +
      "Shuffle = every shuffle `Exchange` (hash, range, single-partition " +
      "or round-robin; the final range " +
      "partitioning implements each query's deterministic ORDER BY output " +
      // ASCII only: this goes through the console charset, which is not
      // guaranteed UTF-8 under every sbt/JVM launcher
      "contract), counted once per distinct cached lineage -- the executed " +
      "count. Pushdown = non-trivial `PushedFilters` on a scan. " +
      "Global windows = window operators with an empty partitionSpec " +
      "(single-partition at scale) -- the contract is 0 everywhere, " +
      "gated by PlanShapeSpec. Quad frames = window frames with a " +
      "bounded lower and UnboundedFollowing upper edge, which Spark " +
      "evaluates in O(rows^2) per partition -- contract 0 everywhere, " +
      "same gate.")
    println()
    println("| query | shuffles | of which output-sort | broadcasts | codegen spans | pushdown | global windows | quad frames | notes |")
    println("|---|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val nodes = executedNodes(df.queryExecution.executedPlan)
        val texts = nodes.map(_.simpleString(120))
        val buf = new ByteArrayOutputStream()
        Console.withOut(new PrintStream(buf)) { df.explain("formatted") }
        val formatted = buf.toString
        val rangeEx = nodes.count {
          case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
          case _ => false
        }
        val bc = texts.count(_.startsWith("BroadcastExchange"))
        val wsc = nodes.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.codegenStageId
        }.toSet.size
        val pushed = "PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|EqualTo)".r
          .findFirstIn(formatted).isDefined
        def has(s: String) = texts.exists(_.contains(s))
        val notes = Seq(
          if (has("SortMergeJoin")) Some("SMJ") else None,
          if (has("BroadcastHashJoin")) Some("BHJ") else None,
          if (has("BroadcastNestedLoopJoin")) Some("BNLJ") else None,
          if (has("MapGroups") || has("FlatMapGroups")) Some("typed-pass") else None,
          if (has("Window")) Some("window") else None
        ).flatten.mkString(" ")
        println(s"| $name | ${shuffles(nodes)} | $rangeEx | $bc | $wsc | " +
          s"${if (pushed) "yes" else "-"} | ${globalWindows(nodes)} | ${quadraticFrames(nodes)} | $notes |")
      } catch {
        case e: Throwable => println(s"| $name | ERROR ${e.getClass.getSimpleName} | | | | | | | |")
      } finally {
        graft.operators.Ema.unpersistAll()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
