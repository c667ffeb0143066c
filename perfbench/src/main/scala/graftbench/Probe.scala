package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine totals at one instant; `minus` gives a region's share. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long,
    runMs: Long, cpuNs: Long, gcMs: Long) {
  def minus(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, failedTasks - o.failedTasks, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, input - o.input, output - o.output,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs)
}

/** One node of the trace: operation → layer call → Spark job → stage, or
  * a streaming micro-batch. Times are epoch milliseconds. */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
    val start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

/** Benchmark-side listeners: always-on engine counters (cheap atomic
  * adds), the write plans the whole-plan guard inspects, and, while
  * tracing, the span tree. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(12)(new AtomicLong)
  private val peakMem = new LongAccumulator((a, b) => math.max(a, b), 0L)

  def counters(): Counters = {
    val v = c.map(_.get)
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11))
  }
  def peakTaskMemory(): Long = peakMem.get()
  def resetPeak(): Unit = peakMem.reset()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    trace.foreach(_.jobStart(e))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = trace.foreach(_.jobEnd(e))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c(1).incrementAndGet()
    trace.foreach(_.stage(e.stageInfo))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    if (e.reason != Success) c(3).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(7).addAndGet(m.inputMetrics.bytesRead)
      c(8).addAndGet(m.outputMetrics.bytesWritten)
      c(9).addAndGet(m.executorRunTime)
      c(10).addAndGet(m.executorCpuTime)
      c(11).addAndGet(m.jvmGCTime)
      peakMem.accumulate(m.peakExecutionMemory)
    }
  }

  // ── write plans for the whole-plan guard ──
  private val writes = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (PlanGuard.isWrite(qe)) writes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  /** Write plans seen since the last call. */
  def takeWrites(): Seq[QueryExecution] = {
    val out = Seq.newBuilder[QueryExecution]
    var q = writes.poll()
    while (q != null) { out += q; q = writes.poll() }
    out.result()
  }

  // ── tracing ──
  @volatile var trace: Option[Trace] = None
}

/** Spans kept in memory and written out when the run ends. The span a
  * job belongs to travels as a Spark local property. */
final class Trace {
  val SpanKey = "perfbench.span"
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def now(): Double = base + System.nanoTime() / 1e6

  def open(kind: String, name: String, parent: Long, start: Double = now()): Span = {
    val s = new Span(nextId.incrementAndGet(), parent, kind, name, start)
    spans.add(s)
    s
  }

  def jobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val s = open("job", s"job ${e.jobId}", parent, e.time.toDouble)
    jobSpan.put(e.jobId, s)
    e.stageIds.foreach(id => stageJob.put(id, s))
  }
  def jobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach(_.end = e.time.toDouble)
  def stage(i: StageInfo): Unit = {
    val job = Option(stageJob.get(i.stageId))
    val s = open("stage", s"stage ${i.stageId}.${i.attemptNumber()}",
      job.map(_.id).getOrElse(0L), i.submissionTime.getOrElse(0L).toDouble)
    s.end = i.completionTime.getOrElse(0L).toDouble
    s.attrs("tasks") = i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      s.attrs("shuffle_write_bytes") = m.shuffleWriteMetrics.bytesWritten.toDouble
      s.attrs("shuffle_read_bytes") = m.shuffleReadMetrics.totalBytesRead.toDouble
      s.attrs("spill_bytes") = (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      s.attrs("task_run_ms") = m.executorRunTime.toDouble
    }
  }

  /** Streaming progress as a micro-batch span under `parent`. */
  def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress, parent: Long): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala
    val s = open("batch", s"batch ${p.batchId}", parent, start)
    s.end = start + d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
    d.foreach { case (k, v) => s.attrs(s"${k}_ms") = v.toDouble }
    s.attrs("input_rows") = p.numInputRows.toDouble
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Duration minus the part of the interval its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.filter(c => !c.end.isNaN && c.end > c.start)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cur._1.isNaN || a > cur._2) {
        if (!cur._1.isNaN) covered += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, math.max(cur._2, b))
    }
    if (!cur._1.isNaN) covered += cur._2 - cur._1
    (s.end - s.start) - covered
  }

  def write(path: String): Unit = {
    val byParent = all.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      val self = if (s.end.isNaN) Double.NaN else selfMs(s, byParent.getOrElse(s.id, Nil))
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self, "attrs" -> s.attrs)))
    } finally w.close()
  }
}

/** Streaming progress as micro-batch spans under the current operation,
  * while tracing. */
final class ProgressProbe(probe: Probe) extends StreamingQueryListener {
  @volatile var parent: Long = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    probe.trace.foreach(_.batch(e.progress, parent))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
