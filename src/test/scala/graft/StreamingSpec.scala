package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamPipelines
import graft.streaming.StreamPipelines.Ev

case class RawEv(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming windowed agg matches the batch result on the same data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Seq(
      RawEv(1, ts("2024-01-01 10:01:00"), 1, "A", 10.0),
      RawEv(2, ts("2024-01-01 10:05:00"), 1, "A", 20.0),
      RawEv(3, ts("2024-01-01 10:12:00"), 1, "A", 30.0),
      RawEv(4, ts("2024-01-01 10:03:00"), 2, "B", 5.0))
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.windowedAggStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("win_out")
      .start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    // advance the watermark past all windows so append mode emits them
    mem.addData(RawEv(99, ts("2024-01-01 12:00:00"), 9, "Z", 0.0))
    q.processAllAvailable()
    mem.addData(RawEv(100, ts("2024-01-01 13:00:00"), 9, "Z", 0.0))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("win_out")
      .filter(col("event_type").isin("A", "B"))
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getAs[Timestamp]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    val batch = StreamPipelines.windowedAgg(rows.toDF())
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getAs[Timestamp]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.toSeq === Seq(
      ("2024-01-01 10:00:00.0", "A", 2L, 30.0),
      ("2024-01-01 10:00:00.0", "B", 1L, 5.0),
      ("2024-01-01 10:10:00.0", "A", 1L, 30.0)))
  }

  test("streaming session_window agg matches batch and splits at exactly the gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Seq(
      // user 1: second event 29 min after the first (merge), third
      // exactly 30 min after the second — Spark session windows merge
      // ADJACENT windows too (boundary-inclusive), so all three join
      // one session; the fourth, 30:01 after the third, starts fresh
      RawEv(1, ts("2024-01-01 10:00:00"), 1, "A", 10.0),
      RawEv(2, ts("2024-01-01 10:29:00"), 1, "A", 20.0),
      RawEv(3, ts("2024-01-01 10:59:00"), 1, "A", 30.0),
      RawEv(5, ts("2024-01-01 11:29:01"), 1, "A", 40.0),
      // user 2: a lone event = singleton session ending ts+gap
      RawEv(4, ts("2024-01-01 10:03:00"), 2, "B", 5.0))
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.sessionWindowAggStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("swin_out")
      .start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    // advance the watermark past every session end so append emits them
    mem.addData(RawEv(99, ts("2024-01-01 14:00:00"), 9, "Z", 0.0))
    q.processAllAvailable()
    mem.addData(RawEv(100, ts("2024-01-01 15:00:00"), 9, "Z", 0.0))
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
        r.getAs[Timestamp]("session_end").toString, r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))
    val streamed = spark.table("swin_out")
      .filter(col("user_id") < 9).orderBy("user_id", "session_start")
      .collect().map(key)
    val batch = StreamPipelines.sessionWindowAgg(rows.toDF())
      .orderBy("user_id", "session_start").collect().map(key)
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.toSeq === Seq(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:29:00.0", 3L, 60.0),
      (1L, "2024-01-01 11:29:01.0", "2024-01-01 11:59:01.0", 1L, 40.0),
      (2L, "2024-01-01 10:03:00.0", "2024-01-01 10:33:00.0", 1L, 5.0)))
  }

  test("streaming sliding-window agg matches the batch result on the same data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Seq(
      RawEv(1, ts("2024-01-01 10:01:00"), 1, "A", 10.0),
      RawEv(2, ts("2024-01-01 10:05:00"), 1, "A", 20.0),
      RawEv(3, ts("2024-01-01 10:12:00"), 1, "A", 30.0),
      RawEv(4, ts("2024-01-01 10:03:00"), 2, "B", 5.0))
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.slidingAggStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("slide_out")
      .start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData(RawEv(99, ts("2024-01-01 12:00:00"), 9, "Z", 0.0))
    q.processAllAvailable()
    mem.addData(RawEv(100, ts("2024-01-01 13:00:00"), 9, "Z", 0.0))
    q.processAllAvailable(); q.stop()

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type").isin("A", "B"))
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getAs[Timestamp]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    val streamed = shape(spark.table("slide_out"))
    val batch = shape(StreamPipelines.slidingAgg(rows.toDF()))
    assert(streamed.toSeq === batch.toSeq)
    // every event appears in exactly two windows: 10:01 A -> 9:55 & 10:00
    assert(streamed.toSeq === Seq(
      ("2024-01-01 09:55:00.0", "A", 1L, 10.0),
      ("2024-01-01 09:55:00.0", "B", 1L, 5.0),
      ("2024-01-01 10:00:00.0", "A", 2L, 30.0),
      ("2024-01-01 10:00:00.0", "B", 1L, 5.0),
      ("2024-01-01 10:05:00.0", "A", 2L, 50.0),
      ("2024-01-01 10:10:00.0", "A", 1L, 30.0)))
  }

  test("tick feed: rate-limited continuous source with deterministic tick mapping") {
    val feed = StreamPipelines.tickFeed(spark, rowsPerSecond = 500)
    assert(feed.isStreaming)
    assert(feed.columns.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = feed.writeStream.outputMode("append")
      .format("memory").queryName("tick_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      // let a few micro-batches through
      val deadline = System.currentTimeMillis + 20000
      while (spark.table("tick_out").count() < 100 &&
        System.currentTimeMillis < deadline) Thread.sleep(200)
    } finally q.stop()
    val rows = spark.table("tick_out").collect()
    assert(rows.length >= 100)
    val syms = Seq("AAPL", "GOOG", "MSFT", "AMZN", "TSLA")
    rows.foreach { r =>
      val id = r.getAs[Long]("event_id")
      // symbol round-robin and md5-derived price are functions of the id
      assert(r.getAs[String]("event_type") === syms((id % 5).toInt))
      val px = r.getAs[Double]("value")
      assert(px >= 100.0 && px < 110.0)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val h4 = java.lang.Long.parseLong(
        md.take(2).map("%02x".format(_)).mkString, 16)
      assert(px === 100.0 + (h4.toDouble % 1000) / 100.0)
    }
    // the feed composes with the batch bar pipeline unchanged
    val bars = graft.operators.Bars.ohlcv(
      spark.table("tick_out")).collect()
    assert(bars.nonEmpty)
  }

  test("streaming dedup drops duplicate (event_type, ts) within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.streamingDedup(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .start()
    mem.addData(
      RawEv(1, ts("2024-01-01 10:00:00"), 1, "A", 1.0),
      RawEv(2, ts("2024-01-01 10:00:00"), 1, "A", 2.0),
      RawEv(3, ts("2024-01-01 10:00:00"), 1, "B", 3.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").count() === 2)
  }

  test("stateful sessionization closes sessions on the event-time gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamPipelines.sessionizeStream(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .start()
    mem.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1.0),
      Ev(1, ts("2024-01-01 10:10:00"), 2.0),
      Ev(1, ts("2024-01-01 11:30:00"), 4.0))  // > 30-min gap → new session
    q.processAllAvailable()
    // push the watermark + timeout forward so the open session closes
    mem.addData(Ev(2, ts("2024-01-01 15:00:00"), 0.0))
    q.processAllAvailable()
    mem.addData(Ev(2, ts("2024-01-01 20:00:00"), 0.0))
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess_out").filter(col("user_id") === 1)
      .orderBy("session_start").collect()
    assert(sessions.length === 2)
    assert(sessions(0).getAs[Long]("n_events") === 2L)
    assert(sessions(0).getAs[Double]("total_value") === 3.0)
    assert(sessions(1).getAs[Long]("n_events") === 1L)
  }

  test("foreachBatch dual sink writes raw and processed under one checkpoint") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-dual").toString
    val mem = MemoryStream[RawEv]
    val withProps = StreamPipelines.dualSinkStream(
      mem.toDF().withColumn("props", lit("{}")), tmp)
    mem.addData(
      RawEv(1, ts("2024-01-01 10:01:00"), 1, "A", 10.0),
      RawEv(2, ts("2024-01-01 10:02:00"), 1, "A", 12.0),
      RawEv(3, ts("2024-01-01 10:07:00"), 2, "B", 5.0))
    withProps.processAllAvailable(); withProps.stop()
    assert(spark.read.parquet(s"$tmp/raw").count() === 3)
    val bars = spark.read.parquet(s"$tmp/processed")
    assert(bars.count() === 2)
    assert(bars.filter(col("symbol") === "A").head().getAs[Long]("volume") === 2L)
  }

  test("streaming CDC MERGE equals batch cdcApply across an out-of-order 2-batch replay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val b1 = Seq(
      RawEv(10, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      RawEv(11, ts("2024-01-01 10:05:00"), 1, "purchase", 5.0),
      RawEv(12, ts("2024-01-01 10:06:00"), 2, "click", 2.0),
      RawEv(13, ts("2024-01-01 10:07:00"), 3, "error", 0.0), // tombstone (for now)
      RawEv(14, ts("2024-01-01 10:09:00"), 4, "click", 4.0))
    val b2 = Seq(
      RawEv(5, ts("2024-01-01 09:55:00"), 1, "view", 9.0), // older than all of b1: must NOT win
      RawEv(20, ts("2024-01-01 10:10:00"), 2, "error", 0.0), // deletes user 2
      RawEv(21, ts("2024-01-01 10:11:00"), 3, "click", 7.0), // resurrects user 3
      RawEv(6, ts("2024-01-01 10:09:00"), 4, "view", 6.0)) // same ts, lower id: must NOT win
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Double]("value"),
        r.getAs[Timestamp]("updated_at").toString,
        r.getAs[Long]("n_ops"), r.getAs[Long]("n_deletes"))
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.cdcApplyStream(mem.toDF(), tmp)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val streamed = StreamPipelines.cdcState(spark, tmp).collect().map(key)
    val batch = graft.operators.Temporal.cdcApply((b1 ++ b2).toDF())
      .collect().map(key)
    assert(streamed.toSeq === batch.toSeq)
    // user 1's late row and user 4's lower-id row lost; user 2 tombstoned
    assert(!streamed.exists(_._1 == 2L))
    assert(streamed.find(_._1 == 1L).get._2 === 5.0)
    assert(streamed.find(_._1 == 4L).get._2 === 4.0)
    // state is bounded by DISTINCT KEYS, not event volume (incl. tombstoned)
    assert(spark.read.parquet(s"$tmp/state/gen=1").count() === 4L)
    // exactly-once: replaying batch 1 (offsets committed, write lost)
    // deterministically REWRITES gen=1 — no double counting
    StreamPipelines.cdcMergeBatch(b2.toDF(), 1L, tmp)
    val replayed = StreamPipelines.cdcState(spark, tmp).collect().map(key)
    assert(replayed.toSeq === batch.toSeq)
  }

  test("streaming MACD equals the batch recursion across a two-batch replay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Tables.events(spark, sf())
    val bars = graft.operators.Bars.ohlcv(events)
      .select(col("symbol"), col("bar_ts"), col("close"))
      .as[StreamPipelines.BarIn]
      .collect().sortBy(b => (b.symbol, b.bar_ts.getTime))
    // split by time so batch 2 strictly follows batch 1 per symbol
    val cut = bars.map(_.bar_ts.getTime).sorted.apply(bars.length / 2)
    val (b1, b2) = bars.partition(_.bar_ts.getTime < cut)
    val mem = MemoryStream[StreamPipelines.BarIn]
    val q = StreamPipelines.macdStream(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("macd_out")
      .start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("macd_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val exp = graft.operators.Ema.macd(
      graft.operators.Bars.ohlcv(events)).collect()
    assert(exp.length === got.size && exp.length > 500)
    def r4(x: Double) = math.round((x + 5e-9) * 1e4) / 1e4
    exp.foreach { r =>
      val (m, s, h) = got((r.getString(0), r.getTimestamp(1)))
      assert(r4(m) === r.getDouble(2) && r4(s) === r.getDouble(3) &&
        r4(h) === r.getDouble(4), s"${r.getString(0)} ${r.getTimestamp(1)}")
    }
  }

  // ── RocksDB state store ────────────────────────────────────────────
  // At 100 TB the keyed state (per-symbol EMA registers, per-user open
  // sessions) must spill: the default HDFSBackedStateStoreProvider
  // holds every key's state on-heap per executor, RocksDB keeps it
  // off-heap/on-disk with incremental checkpointing. Both stateful
  // pipelines must produce byte-identical output on either provider —
  // the provider is an operational knob, not a semantics change.
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionizeStream on RocksDBStateStoreProvider: same sessions, rocksdb metrics live") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[Ev]
      val q = StreamPipelines.sessionizeStream(mem.toDS())
        .writeStream.outputMode("append").format("memory").queryName("sess_rocks")
        .start()
      mem.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1.0),
        Ev(1, ts("2024-01-01 10:10:00"), 2.0),
        Ev(1, ts("2024-01-01 11:30:00"), 4.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts("2024-01-01 15:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts("2024-01-01 20:00:00"), 0.0))
      q.processAllAvailable()
      // the state operator must actually be running on RocksDB
      val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet()
      import scala.jdk.CollectionConverters._
      assert(metrics.asScala.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb state metrics, got $metrics")
      q.stop()
      val sessions = spark.table("sess_rocks").filter(col("user_id") === 1)
        .orderBy("session_start").collect()
      assert(sessions.length === 2)
      assert(sessions(0).getAs[Long]("n_events") === 2L)
      assert(sessions(0).getAs[Double]("total_value") === 3.0)
      assert(sessions(1).getAs[Long]("n_events") === 1L)
    }
  }

  test("macdStream on RocksDBStateStoreProvider equals the batch recursion") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val events = Tables.events(spark, sf())
      val bars = graft.operators.Bars.ohlcv(events)
        .select(col("symbol"), col("bar_ts"), col("close"))
        .as[StreamPipelines.BarIn]
        .collect().sortBy(b => (b.symbol, b.bar_ts.getTime))
      val cut = bars.map(_.bar_ts.getTime).sorted.apply(bars.length / 2)
      val (b1, b2) = bars.partition(_.bar_ts.getTime < cut)
      val mem = MemoryStream[StreamPipelines.BarIn]
      val q = StreamPipelines.macdStream(mem.toDS())
        .writeStream.outputMode("append").format("memory").queryName("macd_rocks")
        .start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("macd_rocks").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val exp = graft.operators.Ema.macd(
        graft.operators.Bars.ohlcv(events)).collect()
      assert(exp.length === got.size && exp.length > 500)
      def r4(x: Double) = math.round((x + 5e-9) * 1e4) / 1e4
      exp.foreach { r =>
        val (m, s, h) = got((r.getString(0), r.getTimestamp(1)))
        assert(r4(m) === r.getDouble(2) && r4(s) === r.getDouble(3) &&
          r4(h) === r.getDouble(4), s"${r.getString(0)} ${r.getTimestamp(1)}")
      }
    }
  }

  test("stream-stream join attributes purchases to preceding clicks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.clickAttribution(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attr_out")
      .start()
    mem.addData(
      RawEv(1, ts("2024-01-01 10:00:00"), 7, "click", 0.0),
      RawEv(2, ts("2024-01-01 10:10:00"), 7, "purchase", 99.0),   // within 30m → joins
      RawEv(3, ts("2024-01-01 11:30:00"), 7, "purchase", 11.0),   // too late → dropped
      RawEv(4, ts("2024-01-01 10:05:00"), 8, "purchase", 5.0))    // no click → dropped
    q.processAllAvailable()
    mem.addData(RawEv(9, ts("2024-01-01 15:00:00"), 9, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("attr_out").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("user_id") === 7L)
    assert(rows(0).getAs[Double]("p_value") === 99.0)
  }

  test("left-outer stream-stream join emits unmatched purchases after watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.clickAttributionOuter(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attr_outer")
      .start()
    mem.addData(
      RawEv(1, ts("2024-01-01 10:00:00"), 7, "click", 0.0),
      RawEv(2, ts("2024-01-01 10:10:00"), 7, "purchase", 99.0), // matches
      RawEv(4, ts("2024-01-01 10:05:00"), 8, "purchase", 5.0))  // no click
    q.processAllAvailable()
    // advance BOTH watermarks far past 10:05 + 30m + 1h so user 8's
    // purchase is provably unmatchable; outer rows emit on eviction
    mem.addData(
      RawEv(9, ts("2024-01-01 20:00:00"), 9, "click", 0.0),
      RawEv(10, ts("2024-01-01 20:00:00"), 9, "purchase", 1.0))
    q.processAllAvailable()
    mem.addData(RawEv(11, ts("2024-01-02 09:00:00"), 9, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("attr_outer").collect()
    val matched = rows.filter(_.getAs[java.lang.Long]("c_event") != null)
    val unmatched = rows.filter(_.getAs[java.lang.Long]("c_event") == null)
    assert(matched.exists(r => r.getAs[Long]("user_id") == 7L &&
      r.getAs[Double]("p_value") == 99.0))
    assert(unmatched.exists(r => r.getAs[Long]("user_id") == 8L &&
      r.getAs[Double]("p_value") == 5.0), "unmatched purchase must null-emit")
    // the inner form never emits user 8 on the same feed (sanity tie)
    assert(!matched.exists(_.getAs[Long]("user_id") == 8L))
  }

  test("batch last-touch attribution = argmax of the stream-join candidate set") {
    // clickAttribution (stream-stream join) emits EVERY click within the
    // window per purchase; Relational.attribution keeps the last touch.
    // On the same data the batch pick must be exactly the (c_ts, c_event)
    // argmax of the streaming candidate set, and a purchase with no
    // candidates must be unattributed — the two operators are one
    // semantics at two latencies.
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf())
    val cands = StreamPipelines.clickAttribution(ev).collect()
      .groupBy(_.getAs[Long]("p_event"))
      .view.mapValues(_.map(r =>
        (r.getAs[Timestamp]("c_ts").getTime, r.getAs[Long]("c_event"))).toSeq)
      .toMap
    val attr = graft.operators.Relational.attribution(ev).collect()
    assert(attr.nonEmpty)
    attr.foreach { r =>
      val pid = r.getAs[Long]("purchase_id")
      val picked = Option(r.getAs[java.lang.Long]("attributed_click_id"))
      cands.get(pid) match {
        case Some(cs) =>
          assert(picked.contains(cs.max._2),
            s"purchase $pid: batch picked $picked, stream candidates $cs")
        case None =>
          assert(picked.isEmpty, s"purchase $pid attributed without candidates")
      }
    }
  }

  test("checkpointed foreachBatch sink resumes without duplicating batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val src = s"$tmp/src"
    val events = Tables.events(spark, sf())
    events.filter(col("event_id") < 500).write.mode("append").parquet(src)
    val n1 = spark.read.parquet(src).count()
    val schema = spark.read.parquet(src).schema

    val q1 = StreamPipelines.dualSinkStream(
      spark.readStream.schema(schema).parquet(src), tmp)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$tmp/raw").count() === n1)

    // new files arrive while the query is down; the restart must pick up
    // exactly the delta (file-source offsets live in the checkpoint)
    events.filter(col("event_id") >= 500 && col("event_id") < 600)
      .write.mode("append").parquet(src)
    val total = spark.read.parquet(src).count()
    val q2 = StreamPipelines.dualSinkStream(
      spark.readStream.schema(schema).parquet(src), tmp)
    q2.processAllAvailable(); q2.stop()
    val raw = spark.read.parquet(s"$tmp/raw")
    assert(raw.count() === total)
    assert(raw.select(col("event_id")).distinct().count() === total)
  }

  test("durable dual sink: kill, commit-loss replay, restart — exactly-once vs batch oracle") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-durable").toString
    val src = s"$tmp/src"
    val events = Tables.events(spark, sf())
    events.filter(col("event_id") < 500).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    // run 1: process what's there, then the process "dies"
    val q1 = StreamPipelines.dualSinkStream(
      spark.readStream.schema(schema).parquet(src), tmp)
    q1.processAllAvailable(); q1.stop()

    // worst-case failure window: batch 0's sink writes completed but the
    // checkpoint offset commit was lost → on restart the engine re-runs
    // the SAME batchId with the SAME data. Simulate that replay directly:
    // the idempotent overwrite must leave the sink unchanged.
    val batch0 = spark.read.parquet(src)
    StreamPipelines.dualWriteBatch(batch0, 0L, tmp)
    val rawAfterReplay = spark.read.parquet(s"$tmp/raw")
    assert(rawAfterReplay.count() === batch0.count(), "replay duplicated batch 0")

    // new data arrives while the query is down
    events.filter(col("event_id") >= 500 && col("event_id") < 600)
      .write.mode("append").parquet(src)

    // run 2: restart from the checkpoint — must pick up exactly the delta
    val q2 = StreamPipelines.dualSinkStream(
      spark.readStream.schema(schema).parquet(src), tmp)
    q2.processAllAvailable(); q2.stop()

    // raw sink vs the batch oracle (the full input read in batch mode):
    // exactly-once = same multiset of rows, both directions
    val input = spark.read.parquet(src)
    val raw = spark.read.parquet(s"$tmp/raw").drop("batch_id")
    assert(raw.count() === input.count())
    assert(raw.exceptAll(input).isEmpty && input.exceptAll(raw).isEmpty,
      "raw sink is not exactly the batch input")

    // the restart actually resumed (not re-ran): both runs' batches present
    val batchIds = spark.read.parquet(s"$tmp/raw")
      .select(col("batch_id").cast("long")).distinct().collect().map(_.getLong(0)).sorted
    assert(batchIds.length >= 2, s"expected batches from both runs, got ${batchIds.toSeq}")

    // processed sink vs the batch oracle, per batch: every batch's bars
    // equal ohlcv() of that batch's raw rows, exactly once
    val rawB = spark.read.parquet(s"$tmp/raw")
    val expected = batchIds.map { b =>
        graft.operators.Bars.ohlcv(rawB.filter(col("batch_id") === b).drop("batch_id"))
      }.reduce(_ unionAll _)
    val processed = spark.read.parquet(s"$tmp/processed").drop("batch_id")
    assert(processed.exceptAll(expected).isEmpty && expected.exceptAll(processed).isEmpty,
      "processed sink is not the per-batch OHLCV of the raw sink")
  }

  test("file-source streaming into a parquet sink with checkpoint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // re-encode events (micros timestamps) so the file stream reads a
    // plain schema; the raw test file is TIMESTAMP(NANOS)
    Tables.events(spark, sf()).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val src = spark.readStream.schema(schema).parquet(s"$tmp/src")
    val q = StreamPipelines.windowedAggStream(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(s"$tmp/out")
    q.awaitTermination(120000); q.stop()
    val n = spark.read.parquet(s"$tmp/out").count()
    assert(n >= 0)  // append emits only watermark-closed windows; sink must be readable
  }

  test("stream-static broadcast enrichment joins every event to its dim row") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq(("A", "alpha", 2.0), ("B", "beta", 3.0))
      .toDF("event_type", "sym_name", "factor")
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.enrichStream(mem.toDF(), dim)
      .select(col("event_id"), col("sym_name"), (col("value") * col("factor")).as("scaled"))
      .writeStream.outputMode("append").format("memory").queryName("enrich_out")
      .start()
    mem.addData(
      RawEv(1, ts("2024-01-01 10:00:00"), 1, "A", 10.0),
      RawEv(2, ts("2024-01-01 10:01:00"), 1, "B", 10.0),
      RawEv(3, ts("2024-01-01 10:02:00"), 1, "C", 10.0)) // no dim row → dropped
    q.processAllAvailable(); q.stop()
    val out = spark.table("enrich_out").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("sym_name"), r.getAs[Double]("scaled")))
      .sortBy(_._1)
    assert(out.toSeq === Seq((1L, "alpha", 20.0), (2L, "beta", 30.0)))
  }

  test("watermark drops late data: an event older than the watermark never lands") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.windowedAggStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("late_out")
      .start()
    // batch 1: one on-time event; then advance event time far enough that
    // the 30-min watermark passes the 10:00 window
    mem.addData(RawEv(1, ts("2024-01-01 10:01:00"), 1, "A", 10.0))
    q.processAllAvailable()
    mem.addData(RawEv(2, ts("2024-01-01 12:00:00"), 1, "Z", 1.0))
    q.processAllAvailable()
    // batch 3: a LATE event for the already-closed 10:00 window — state
    // for that window is gone; the row must be dropped, not re-emitted
    mem.addData(RawEv(3, ts("2024-01-01 10:02:00"), 1, "A", 99.0))
    q.processAllAvailable()
    // close remaining windows so everything emittable is out
    mem.addData(RawEv(4, ts("2024-01-01 14:00:00"), 1, "Z", 1.0))
    q.processAllAvailable(); q.stop()
    val aRows = spark.table("late_out").filter(col("event_type") === "A")
      .collect().map(r => (r.getAs[Timestamp]("win_start").toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    // only the on-time event counts; the late 99.0 never appears anywhere
    assert(aRows.toSeq === Seq(("2024-01-01 10:00:00.0", 1L, 10.0)))
  }

  test("streaming tick->OHLCV bars equal the batch Bars.ohlcv resample") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // two 5-min bars for A (out-of-order ticks inside a bar), one for B
    val rows = Seq(
      RawEv(1, ts("2024-01-01 10:01:00"), 1, "A", 12.0),
      RawEv(2, ts("2024-01-01 10:00:30"), 1, "A", 10.0), // earliest → open
      RawEv(3, ts("2024-01-01 10:04:00"), 1, "A", 11.0), // latest → close
      RawEv(4, ts("2024-01-01 10:07:00"), 1, "A", 20.0),
      RawEv(5, ts("2024-01-01 10:02:00"), 2, "B", 5.0))
    val mem = MemoryStream[RawEv]
    val q = StreamPipelines.barsOhlcvStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("bars_out")
      .start()
    mem.addData(rows.take(3): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3): _*) // second micro-batch: state merges
    q.processAllAvailable()
    mem.addData(RawEv(99, ts("2024-01-01 12:00:00"), 9, "Z", 1.0))
    q.processAllAvailable()
    mem.addData(RawEv(100, ts("2024-01-01 13:00:00"), 9, "Z", 1.0))
    q.processAllAvailable(); q.stop()
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("symbol").isin("A", "B"))
      .orderBy("symbol", "bar_ts")
      .collect().map(r => (r.getAs[String]("symbol"),
        r.getAs[Timestamp]("bar_ts").toString, r.getAs[Double]("open"),
        r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Long]("volume")))
    val streamed = shape(spark.table("bars_out"))
    // the watermarked stream must emit the same bars as the batch
    // graft.operators.Bars.ohlcv over the same rows
    val batchRef = shape(graft.operators.Bars.ohlcv(rows.toDF())
      .withColumnRenamed("bar_ts", "bar_ts"))
    assert(streamed.toSeq === batchRef.toSeq)
    assert(streamed.toSeq === Seq(
      ("A", "2024-01-01 10:00:00.0", 10.0, 12.0, 10.0, 11.0, 3L),
      ("A", "2024-01-01 10:05:00.0", 20.0, 20.0, 20.0, 20.0, 1L),
      ("B", "2024-01-01 10:00:00.0", 5.0, 5.0, 5.0, 5.0, 1L)))
  }

  // ── state growth under sustained replay ────────────────────────────
  // The 100 TB streaming question is STATE growth, not throughput: a
  // dedup or indicator pipeline that accretes one state row per input
  // row dies at scale no matter how fast each micro-batch runs. These
  // two tests replay 100k events on the RocksDB provider and assert
  // the state-store row count is bounded by the operator's design —
  // the within-watermark key window for dedup, the key cardinality for
  // the per-symbol EMA registers — never by the events processed.

  test("dedup-in-watermark state stays bounded over a 100k-event replay on RocksDB") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[RawEv]
      val q = StreamPipelines.streamingDedup(mem.toDF())
        .writeStream.outputMode("append").format("memory").queryName("dedup_state")
        .start()
      val base = ts("2024-01-01 00:00:00").getTime
      val batches = 10; val perBatch = 10000; val distinctPerBatch = 8000
      var rowsAtHalf = 0L
      try {
        for (b <- 0 until batches) {
          // event time advances one full watermark (1 h) per batch, so
          // keys older than the previous batch become evictable; 20%
          // of each batch are in-batch duplicates
          val evs = (0 until perBatch).map { i =>
            RawEv(b.toLong * perBatch + i,
              new Timestamp(base + b * 3600000L + (i % distinctPerBatch) * 400L),
              i.toLong % 50, "e" + (i % 4), i.toDouble)
          }
          mem.addData(evs)
          q.processAllAvailable()
          if (b == batches / 2 - 1)
            rowsAtHalf = q.lastProgress.stateOperators.head.numRowsTotal
        }
      } finally {
        val finalRows = q.lastProgress.stateOperators.head.numRowsTotal
        q.stop()
        // all non-duplicate rows came through
        assert(spark.table("dedup_state").count() ===
          batches.toLong * distinctPerBatch)
        // bounded by the watermark window (~2 batches of keys in
        // flight), nowhere near the 80k distinct keys replayed...
        assert(finalRows <= 3L * distinctPerBatch,
          s"dedup state grew to $finalRows rows")
        // ...and flat between the half-way mark and the end (steady
        // state, not slow accretion)
        assert(finalRows <= rowsAtHalf * 3 / 2,
          s"state still growing: $rowsAtHalf -> $finalRows")
      }
    }
  }

  test("streaming MACD state is one register set per symbol after 100k bars on RocksDB") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[StreamPipelines.BarIn]
      val q = StreamPipelines.macdStream(mem.toDS())
        .writeStream.outputMode("append").format("memory").queryName("macd_state")
        .start()
      val base = ts("2024-01-01 00:00:00").getTime
      val symbols = 5; val total = 100000
      try {
        for (b <- 0 until 4) {
          val bars = (0 until total / 4).map { i =>
            val g = b * (total / 4) + i
            StreamPipelines.BarIn("S" + (g % symbols),
              new Timestamp(base + (g / symbols) * 300000L), 100.0 + (g % 97))
          }
          mem.addData(bars)
          q.processAllAvailable()
        }
      } finally {
        val finalRows = q.lastProgress.stateOperators.head.numRowsTotal
        q.stop()
        assert(spark.table("macd_state").count() === total.toLong)
        // EMA registers: exactly one state row per symbol, independent
        // of the 100k bars replayed
        assert(finalRows === symbols.toLong,
          s"expected $symbols state rows, got $finalRows")
      }
    }
  }
}
