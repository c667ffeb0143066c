package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *  1. Set-up, `Setups` times: build a `local[cores]` session, register
  *     the listeners, touch the inputs. The median is `setup_s`.
  *  2. The checked pass: the workload's first pass, untimed, writing the
  *     outputs that are compared against their references.
  *  3. Untraced: `seconds` worth of timed passes (see [[PassBudgetS]]).
  *     Traced: a traced pass, then an untraced one (the difference is
  *     the tracing overhead), then the pass split into separately timed
  *     layer calls; spans go to `spans.jsonl`.
  *
  * Raw numbers go to `result.json` in the work directory; `run.py` turns
  * them into the reported metrics. `setup.done` marks the end of set-up;
  * the timed region starts only once `refs.done` exists in the work
  * directory, so the reference computations that overlap the checked
  * pass stay out of the timings.
  *
  * `Main --workload <name> --inputs <dir> --work <dir> --seconds <s> --trace <0|1> --cores <n>`
  */
object Main {
  val Setups = 5
  /** Nominal seconds of one pass: a run of `--seconds s` times
    * round(s / PassBudgetS) passes (at least one). A fixed count keeps
    * every run at the same point of JIT warm-up. */
  val PassBudgetS = 5.0

  val Workloads: Map[String, Workload] = Map(
    "dashboard_refresh" -> Dashboard,
    "corpus_curation" -> Curation,
    "tick_stream" -> TickStream)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opt("workload"))
    val work = opt("work")
    val cores = opt("cores").toInt
    val tracing = opt("trace") == "1"

    val probe = new Probe
    var spark: SparkSession = null
    var h: Harness = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) {
        graft.operators.Ema.unpersistAll()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      System.gc() // the previous session's garbage is not this set-up's cost
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val progress = new ProgressProbe(probe)
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      spark.streams.addListener(progress)
      h = new Harness(spark, opt("inputs"), work, cores, probe, progress)
      workload.warmUp(h)
      (System.nanoTime() - t0) / 1e9
    }
    Files.writeString(Paths.get(work, "oracle_sql.json"),
      Json.value(graft.SparkEntry.oracleSql.filter { case (q, _) => workload.oracle.contains(q) }))
    Files.writeString(Paths.get(work, "setup.done"), "")
    workload.checkPass(h)
    while (!Files.exists(Paths.get(work, "refs.done"))) Thread.sleep(20)
    Cpu.awaitJitIdle(10)

    val passes = Seq.newBuilder[Double]
    probe.resetPeak()
    if (!tracing) {
      val n = math.max(1, math.round(opt("seconds").toDouble / PassBudgetS).toInt)
      var ok = true
      var i = 0
      while (ok && i < n) {
        val cpu0 = Cpu.appNs()
        workload.pass(h) match {
          case Some(t) =>
            passes += t
            h.sample("pass_cpu_s", (Cpu.appNs() - cpu0) / 1e9)
          case None => ok = false
        }
        i += 1
      }
    } else {
      val trace = new Trace
      probe.trace = Some(trace)
      val before = probe.counters()
      val leakedBefore = h.leakedBlocks.get
      val t = workload.pass(h)
      h.drainEvents()
      probe.trace = None
      t.foreach(h.engine(probe.counters().minus(before), _))
      h.layer("cache.leaked_blocks") = (h.leakedBlocks.get - leakedBefore).toDouble
      // the untraced pass comes second, so JIT warm-up favours it and
      // the overhead estimate errs high
      val u = workload.pass(h)
      for (tt <- t; uu <- u) h.layer("trace.overhead_pct") = (tt / uu - 1) * 100
      probe.trace = Some(trace)
      workload.layers(h)
      h.drainEvents()
      probe.trace = None
      trace.write(s"$work/spans.jsonl")
      passes ++= u
    }
    h.drainEvents()
    val result = Seq(
      "setup_s" -> setups,
      "passes_s" -> passes.result(),
      "attempted" -> h.attempted.get,
      "failures" -> h.failed.map { case (k, why) => Json.Obj(Seq("op" -> k, "why" -> why)) },
      "peak_task_mem_mb" -> probe.peakTaskMemory() / 1048576.0,
      "layers" -> h.layer,
      "samples" -> h.samples)
    Files.writeString(Paths.get(work, "result.json"), Json.obj(result))
    graft.operators.Ema.unpersistAll()
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
