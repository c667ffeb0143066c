package graftbench

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run of a workload needs: the session, its listeners, the
  * operation bookkeeping behind `attempted`/`failed`, and the per-layer
  * numbers a traced run collects. */
final class Harness(val spark: SparkSession, val inputs: String, val work: String,
    val cores: Int, val probe: Probe, val progress: ProgressProbe) {
  val attempted = new AtomicLong
  /** Failure reasons by operation instance (`name#n`, or `name#check`
    * for the checked first pass). */
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Cached RDD blocks still held after operations' own cleanup. */
  val leakedBlocks = new AtomicLong

  def failed: Seq[(String, String)] = failures.asScala.toSeq
  def fail(key: String, why: String): Unit = failures.add(key -> why)
  def sample(name: String, v: Double): Unit =
    samples.synchronized(samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

  def trace: Option[Trace] = probe.trace
  def drainEvents(): Unit = Bus.drain(spark.sparkContext)

  /** Evaluate every column and row of `df` without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `body` inside a span (when tracing) whose id tags its jobs. */
  def span[A](kind: String, name: String)(body: => A): A = trace match {
    case None => body
    case Some(t) =>
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty(t.SpanKey)).map(_.toLong).getOrElse(0L)
      val s = t.open(kind, name, outer)
      sc.setLocalProperty(t.SpanKey, s.id.toString)
      try body finally {
        s.end = t.now()
        sc.setLocalProperty(t.SpanKey, if (outer == 0L) null else outer.toString)
      }
  }

  /** One timed operation: its wall time (excluding the guard and
    * cleanup that follow it), or None if it failed. The whole-plan guard
    * runs on every write the operation made. */
  def op(name: String, key: Option[String] = None)(body: => Unit): Option[Double] = {
    val n = attempted.incrementAndGet()
    val k = key.getOrElse(s"$name#$n")
    probe.takeWrites()
    val t0 = System.nanoTime()
    val ok = try { span("op", name)(body); true } catch {
      case e: Throwable => fail(k, e.toString.take(300)); false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    drainEvents()
    val guarded = ok && guard(k, probe.takeWrites())
    cleanup()
    if (guarded) Some(dt) else None
  }

  /** Operations run concurrently, untimed: the cold first pass, whose
    * outputs are checked. Each counts as attempted. */
  def parallel(ops: Seq[(String, () => Unit)]): Unit = {
    probe.takeWrites()
    val pool = Executors.newFixedThreadPool(math.min(cores, ops.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = ops.map { case (name, run) => Future {
        attempted.incrementAndGet()
        try run() catch { case e: Throwable => fail(s"$name#check", e.toString.take(300)) }
      } }
      fs.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    drainEvents()
    // a pruned write names its output directory, which names the query
    probe.takeWrites().foreach { qe =>
      val q = ops.map(_._1).find(n => qe.analyzed.toString.contains(s"/out/$n")).getOrElse("check")
      guard(s"$q#check", Seq(qe))
    }
    cleanup()
  }

  private def guard(name: String, writes: Seq[org.apache.spark.sql.execution.QueryExecution]): Boolean =
    if (writes.isEmpty) { fail(name, "no write observed"); false }
    else writes.flatMap(PlanGuard.check).map(fail(name, _)).isEmpty

  /** Release what an operation cached: first through graft's own
    * registry (the cleanup its operators document), then count what is
    * still held and drop it so the next operation starts clean. */
  def cleanup(): Unit = {
    graft.operators.Ema.unpersistAll()
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs
    val ids = held.keySet
    leakedBlocks.addAndGet(sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(_.numCachedPartitions.toLong).sum)
    held.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Engine counters of one pass as per-layer `spark.*` numbers. */
  def engine(c: Counters, wallS: Double): Unit = {
    val mb = 1024.0 * 1024.0
    def put(k: String, v: Double): Unit = layer(s"spark.$k") = v
    put("jobs", c.jobs.toDouble); put("stages", c.stages.toDouble)
    put("tasks", c.tasks.toDouble); put("failed_tasks", c.failedTasks.toDouble)
    put("shuffle_write_mb", c.shuffleWrite / mb); put("shuffle_read_mb", c.shuffleRead / mb)
    put("spill_mb", c.spill / mb); put("input_mb", c.input / mb); put("output_mb", c.output / mb)
    put("task_run_s", c.runMs / 1e3); put("task_cpu_s", c.cpuNs / 1e9); put("gc_s", c.gcMs / 1e3)
    layer("spark.core_busy_ratio") = c.runMs / 1e3 / (wallS * cores)
  }

  /** Time a layer call from outside, as a `layer` span. */
  def timeLayer[A](metric: String, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = span("layer", name)(body)
    layer(metric) = layer.getOrElse(metric, 0.0) + (System.nanoTime() - t0) / 1e9
    a
  }
}

/** A workload: the inputs it reads, what one pass does, and how a traced
  * run splits a pass into layer calls. */
trait Workload {
  /** Queries whose checked outputs are compared with their DuckDB
    * references (`SparkEntry.oracleSql`). */
  def oracle: Seq[String] = Nil
  /** Touch the inputs once in a fresh session; part of set-up. */
  def warmUp(h: Harness): Unit
  /** The first pass of the run, untimed: its outputs are checked. */
  def checkPass(h: Harness): Unit
  /** One timed pass; None if any operation in it failed. */
  def pass(h: Harness): Option[Double]
  /** Traced run: one pass as separately timed layer calls. */
  def layers(h: Harness): Unit
}

/** A workload of `SparkEntry.queries` entries that one client runs one
  * after another, each forced in full by a noop write. */
abstract class QueryWorkload extends Workload {
  def queries: Seq[String]

  override def oracle: Seq[String] = queries

  protected def query(h: Harness, q: String): DataFrame = graft.SparkEntry.queries(q)(h.spark, h.inputs)

  def checkPass(h: Harness): Unit =
    h.parallel(queries.map(q => q -> { () =>
      query(h, q).write.mode("overwrite").parquet(s"${h.work}/out/$q")
    }))

  def pass(h: Harness): Option[Double] = {
    val times = queries.map(q => h.op(q)(h.noop(query(h, q))))
    if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
  }
}
