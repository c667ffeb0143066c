package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.operators.Bars
import graft.streaming.StreamPipelines

/** Tick ingest: JSON-message files (the `toJsonFeed` shape) flow through
  * a file-source stream — `parseJsonFeed` → `streamingDedup` on the
  * RocksDB state store → `foreachBatch` into `dualWriteBatch`, which
  * writes the raw events and per-batch OHLCV bars as parquet.
  *
  * A timed pass drains a fixed backlog with `Trigger.AvailableNow`,
  * `FilesPerTrigger` files per micro-batch. A traced run adds the open
  * loop: files land on a fixed schedule, and each file's lag runs from
  * when it was due to the commit of the micro-batch that wrote it. */
object TickStream extends Workload {
  val FilesPerTrigger = 2
  /** Open-loop arrival rate; below the drain capacity on 4 cores. */
  val LiveFilesPerS = 10.0
  /** How long after the last file is due the open loop waits for it. */
  val LiveGraceS = 5.0

  private var drains = 0
  private var traced = 0

  private def feed(h: Harness) = s"${h.inputs}/feed"
  private def messages(df: DataFrame) = df.select(col("value").as("msg"))

  def warmUp(h: Harness): Unit =
    h.noop(StreamPipelines.parseJsonFeed(messages(h.spark.read.text(feed(h)))))

  /** The pipeline over the files in `dir`, writing under `out`. */
  private def start(h: Harness, dir: String, out: String, trigger: Trigger,
      maxFiles: Option[Int], timeSink: Boolean): StreamingQuery = {
    val reader = maxFiles.foldLeft(h.spark.readStream)(
      (r, n) => r.option("maxFilesPerTrigger", n.toLong))
    val events = StreamPipelines.streamingDedup(
      StreamPipelines.parseJsonFeed(messages(reader.text(dir))))
    events.writeStream.trigger(trigger)
      .option("checkpointLocation", s"$out/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        StreamPipelines.dualWriteBatch(batch, id, out)
        if (timeSink) h.sample("sink.write_s", (System.nanoTime() - t0) / 1e9)
      }
      .start()
  }

  /** Drain the backlog into `out`; returns the query for its progress. */
  private def drain(h: Harness, out: String): StreamingQuery = {
    h.progress.parent = Option(h.spark.sparkContext.getLocalProperty("perfbench.span"))
      .map(_.toLong).getOrElse(0L)
    val q = start(h, feed(h), out, Trigger.AvailableNow(), Some(FilesPerTrigger),
      timeSink = h.trace.isDefined)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q
  }

  def checkPass(h: Harness): Unit = {
    val out = s"${h.work}/stream/check"
    if (h.op("drain", Some("drain#check"))(drain(h, out)).isDefined)
      try twinMismatches(h, out).foreach(h.fail("drain#check", _))
      catch { case e: Exception => h.fail("drain#check", s"twin check: ${e.toString.take(300)}") }
  }

  /** The stream's outputs against its batch twin on the same events:
    * the feed parses back to the source table, the raw sink equals the
    * batch dedup, and per-batch bars merged across batches equal
    * `Bars.ohlcv` over the deduplicated events. */
  def twinMismatches(h: Harness, out: String): Seq[String] = {
    val spark = h.spark
    val parsed = StreamPipelines.parseJsonFeed(messages(spark.read.text(feed(h))))
    val cols = parsed.columns.map(col).toSeq
    val deduped = parsed.dropDuplicates("event_type", "ts")
    val raw = spark.read.parquet(s"$out/raw").select(cols: _*)
    val barCols = Seq("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val merged = spark.read.parquet(s"$out/processed")
      .groupBy(col("symbol"), col("bar_ts"))
      .agg(min_by(col("open"), col("batch_id")).as("open"), max(col("high")).as("high"),
        min(col("low")).as("low"), max_by(col("close"), col("batch_id")).as("close"),
        sum(col("volume")).as("volume"), round(sum(col("vsum")), 6).as("vsum"))
    val expected = Bars.ohlcv(deduped).withColumn("vsum", round(col("vsum"), 6))
    // compared as row multisets in this JVM: the inputs are small
    def diff(what: String, got: DataFrame, want: DataFrame): Option[String] = {
      def bag(df: DataFrame) = df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
      val (g, w) = (bag(got), bag(want))
      val extra = g.count { case (r, n) => w.getOrElse(r, 0) != n }
      val missing = w.count { case (r, _) => !g.contains(r) }
      if (extra + missing == 0) None else Some(s"$what: $extra unexpected, $missing missing rows")
    }
    Seq(
      diff("feed vs events table", parsed, Tables.events(spark, h.inputs).select(cols: _*)),
      diff("raw sink vs batch dedup", raw, deduped),
      diff("processed sink vs batch bars", merged.select(barCols.map(col): _*),
        expected.select(barCols.map(col): _*))
    ).flatten
  }

  def pass(h: Harness): Option[Double] = {
    drains += 1
    val out = s"${h.work}/stream/pass$drains"
    var q: StreamingQuery = null
    val t = h.op("drain") { q = drain(h, out) }
    if (t.isDefined && h.trace.isDefined) progressLayers(h, q, out)
    deleteTree(Paths.get(out))
    t
  }

  /** Per-batch progress of a traced drain, as samples and totals. */
  private def progressLayers(h: Harness, q: StreamingQuery, out: String): Unit = {
    traced += 1
    val ps = q.recentProgress.toSeq
    def add(k: String, v: Double): Unit = h.layer(k) = h.layer.getOrElse(k, 0.0) + v
    add("stream.batches", ps.size)
    ps.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      h.sample("stream.trigger_ms", d.getOrElse("triggerExecution", 0.0))
      h.sample("stream.add_batch_ms", d.getOrElse("addBatch", 0.0))
      h.sample("stream.get_batch_ms", d.getOrElse("getBatch", 0.0))
      h.sample("stream.planning_ms", d.getOrElse("queryPlanning", 0.0))
      h.sample("stream.wal_commit_ms", d.getOrElse("walCommit", 0.0))
    }
    ps.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      add("stream.state_rows", s.numRowsTotal.toDouble)
      add("stream.state_mem_mb", s.memoryUsedBytes / 1048576.0)
    }
    // newest event time seen minus the watermark, at the last batch
    // that read data
    ps.map(_.eventTime.asScala).filter(_.contains("max")).lastOption.foreach { et =>
      for (mx <- et.get("max"); wm <- et.get("watermark"))
        add("stream.watermark_lag_s",
          (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli) / 1e3)
    }
    add("sink.bytes_mb", treeBytes(Paths.get(out, "raw")) / 1048576.0 +
      treeBytes(Paths.get(out, "processed")) / 1048576.0)
    // Bars.ohlcv timed from outside on each micro-batch's deduplicated
    // events, as dualWriteBatch runs it
    val raw = h.spark.read.parquet(s"$out/raw")
    ps.map(_.batchId).foreach { id =>
      val batch = raw.filter(col("batch_id") === id).drop("batch_id")
      h.timeLayer("bars.ohlcv_s", "Bars.ohlcv")(h.noop(Bars.ohlcv(batch)))
    }
    add("bars.rows", h.spark.read.parquet(s"$out/processed").count().toDouble)
  }

  def layers(h: Harness): Unit = {
    val events = Tables.events(h.spark, h.inputs)
    h.timeLayer("tables.scan_s", "Tables.events")(h.noop(events))
    h.layer("tables.rows") = events.count().toDouble
    // more traced drains, until per-batch medians rest on 20 batches
    while (h.samples.get("stream.trigger_ms").forall(_.size < 20) && traced < 8) pass(h)
    Seq("stream.batches", "stream.state_rows", "stream.state_mem_mb", "stream.watermark_lag_s",
      "sink.bytes_mb", "bars.ohlcv_s", "bars.rows").foreach { k =>
      h.layer(k) = h.layer.getOrElse(k, 0.0) / math.max(traced, 1)
    }
    h.span("op", "open loop")(openLoop(h))
  }

  /** Files land in a watched directory on a fixed schedule, from a
    * generator thread that does not slow when the stream does. */
  private def openLoop(h: Harness): Unit = {
    val staged = Files.list(Paths.get(h.inputs, "live")).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
    val bodies = staged.map(n => Files.readAllBytes(Paths.get(h.inputs, "live", n)))
    val rows = bodies.map(b => new String(b, "UTF-8").linesIterator.count(_.nonEmpty).toLong).sum
    val dir = Paths.get(h.work, "stream", "live-in")
    val out = s"${h.work}/stream/live-out"
    Files.createDirectories(dir)
    val q = start(h, dir.toString, out, Trigger.ProcessingTime(0L), None, timeSink = false)
    val n = staged.size
    val t0 = System.currentTimeMillis() + 1000.0
    val due = Array.tabulate(n)(i => t0 + i * 1000.0 / LiveFilesPerS)
    val landed = new Array[Double](n)
    val gen = new Thread(() => {
      staged.indices.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        val tmp = dir.resolve(s".${staged(i)}.tmp")
        Files.write(tmp, bodies(i))
        Files.move(tmp, dir.resolve(staged(i)), StandardCopyOption.ATOMIC_MOVE)
        landed(i) = System.currentTimeMillis().toDouble
      }
    }, "perfbench-loadgen")
    gen.start()
    val deadline = due.last + LiveGraceS * 1000
    def processed = q.recentProgress.map(_.numInputRows).sum
    while (System.currentTimeMillis() < deadline && (gen.isAlive || processed < rows))
      Thread.sleep(50)
    gen.join()
    val end = System.currentTimeMillis().toDouble
    q.stop()
    q.exception.foreach(e => throw e)

    // which micro-batch took each file, and when that batch committed
    val ckpt = Paths.get(out, "ckpt")
    val entry = "\"path\":\"[^\"]*(part-\\d+\\.json)\".*\"batchId\":(\\d+)".r
    val fileBatch = Files.list(ckpt.resolve("sources/0")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")) // checksum files
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong))
      .toMap
    val committed = Files.list(ckpt.resolve("commits")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong ->
        Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3)
      .toMap
    val commitAt = staged.map(f => fileBatch.get(f).flatMap(committed.get))
    staged.indices.foreach { i =>
      h.sample("stream.emit_lag_s", (commitAt(i).getOrElse(end) - due(i)) / 1e3)
    }
    val mid = (due.head + due.last) / 2
    h.layer("loadgen.late_max_s") = staged.indices.map(i => landed(i) - due(i)).max / 1e3
    h.layer("loadgen.backlog_mid") =
      staged.indices.count(i => due(i) <= mid && commitAt(i).forall(_ > mid)).toDouble
    val backlogEnd = commitAt.count(_.isEmpty)
    h.layer("loadgen.backlog_end") = backlogEnd.toDouble
    h.layer("loadgen.sustained") = if (backlogEnd == 0) 1.0 else 0.0
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
