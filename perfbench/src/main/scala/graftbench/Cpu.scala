package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** CPU time of this JVM from the kernel's accounting (Linux `/proc`),
  * without the JIT compiler threads: the CPU cost of the work itself,
  * which the steal time of a shared host does not inflate. The JVM runs
  * with a fixed set of compiler threads
  * (`-XX:-UseDynamicNumberOfCompilerThreads`) so none exits and takes
  * its share along. */
object Cpu {
  private val TickNs = 1e9 / 100 // USER_HZ

  private def ticks(stat: String): Long = {
    // fields after the parenthesised name: utime and stime are 14 and 15
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }

  /** Wait until the JIT compiler threads go quiet (under a tenth of a
    * core over 200 ms) or `maxS` pass; returns the seconds waited. */
  def awaitJitIdle(maxS: Double): Double = {
    val t0 = System.nanoTime()
    var last = jitNs()
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < maxS) {
      Thread.sleep(200)
      val now = jitNs()
      quiet = now - last < 0.1 * 200e6
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Process CPU, including exited threads, minus JIT compilation. */
  def appNs(): Double = processNs() - jitNs()

  private def processNs(): Double = ticks(Files.readString(Paths.get("/proc/self/stat"))) * TickNs

  private def jitNs(): Double = {
    val tasks = Paths.get("/proc/self/task")
    Files.list(tasks).iterator().asScala.map { t =>
      try {
        val comm = Files.readString(t.resolve("comm")).trim
        if (comm.contains("CompilerThre")) ticks(Files.readString(t.resolve("stat"))) * TickNs else 0.0
      } catch { case _: java.io.IOException => 0.0 } // the thread exited
    }.sum
  }
}
