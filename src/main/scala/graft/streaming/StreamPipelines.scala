package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines mirroring the reference's streaming
  * path (Pub/Sub → transform → BigQuery; reference
  * src/ingestion/stocks_pipeline.py:56-87 publish,
  * src/loader/bigquery_loader.py buffered sink). Spark-first: the same
  * declarative transforms run in batch and streaming, so correctness is
  * oracle-gated in batch (`q_stream_window`) and the streaming behavior
  * (watermarks, dedup, state) is spec-tested with memory sources/sinks.
  */
object StreamPipelines {

  /** Continuous tick-feed adapter — the Spark-native stand-in for the
    * reference's scheduled ingestion loop (reference
    * src/ingestion/stocks_pipeline.py:192-224: poll market API →
    * publish to Pub/Sub). Built on the built-in `rate` source, which is
    * exactly a rate-limited unbounded feed with checkpointed offsets:
    * each (timestamp, value) row maps DETERMINISTICALLY to a tick with
    * the `events` schema — symbols round-robin, price an md5-derived
    * walk in [100, 110) — so the entire batch operator library (bars,
    * indicators, dedup) composes on top unchanged and restarts resume
    * from the checkpoint like the Pub/Sub subscription would. */
  def tickFeed(spark: org.apache.spark.sql.SparkSession,
      rowsPerSecond: Int = 100,
      symbols: Seq[String] = Seq("AAPL", "GOOG", "MSFT", "AMZN", "TSLA")): DataFrame = {
    val syms = array(symbols.map(lit): _*)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 97).as("user_id"),
        element_at(syms, (col("value") % symbols.length).cast("int") + 1).as("event_type"),
        (lit(100.0) +
          (conv(substring(md5(col("value").cast("string")), 1, 4), 16, 10)
            .cast("double") % 1000) / 100.0).as("value"),
        lit("{}").as("props"))
  }

  /** Tick→5-min OHLCV bars as ONE plan for batch and stream — the
    * reference's actual ingestion shape (5-min bars per symbol,
    * reference src/ingestion/stocks_pipeline.py:138-175) computed
    * stream-natively. The 5-minute event-time window starts are
    * epoch-aligned, exactly [[graft.operators.Bars.ohlcv]]'s integer
    * bucket floor, so the streaming bars are cell-identical to the
    * batch resample (spec-proven); open/close come from min_by/max_by
    * on the tick timestamp, which are streaming-safe declarative
    * aggregates (partial state = one (value, ts) pair per bar). */
  def barsOhlcv(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("win"),
        col("event_type").as("symbol"))
      .agg(min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("volume"),
        sum(col("value")).as("vsum"))
      .select(col("symbol"), col("win.start").as("bar_ts"), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("vsum"))

  /** Streaming variant of [[barsOhlcv]] with a watermark: bar state
    * expires 30 minutes after its window closes — bounded keyed state
    * at any stream length. */
  def barsOhlcvStream(events: DataFrame): DataFrame =
    barsOhlcv(events.withWatermark("ts", "30 minutes"))

  /** Tumbling 10-min window aggregate per symbol; identical semantics in
    * batch and streaming (the `queries` entry runs it in batch). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")) + lit(5e-9), 4).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("min_value"), col("max_value"))

  /** Streaming variant with a watermark (append-mode safe). */
  def windowedAggStream(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "30 minutes"))

  /** NATIVE session-window aggregate per user — `session_window(ts,
    * gap)`, Spark's gap-merged dynamic window: an event opens
    * [ts, ts+gap) and overlapping windows merge, so `session_end` =
    * last event + gap (the q_sessionize lag/cumsum formulation closes
    * at the last EVENT and splits only when the gap is strictly
    * exceeded — two deliberately different session dialects, both
    * gated). In batch this is one aggregate; in streaming the SAME
    * plan runs on the session-window state store (merging keyed state
    * — the operator the lag/cumsum form cannot express in a stream).
    * Sums ride DECIMAL because session membership is engine-agnostic
    * but fold order is not. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double")
          + lit(5e-9), 4).as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))

  /** Streaming variant of [[sessionWindowAgg]] with a watermark —
    * session state expires once the watermark passes the session end.
    * The lateness bound defaults to the session gap itself (an event
    * later than one gap cannot extend any still-open session), so a
    * caller widening `gap` widens the watermark with it; pass
    * `watermarkDelay` to decouple them deliberately. */
  def sessionWindowAggStream(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = ""): DataFrame = {
    val delay = if (watermarkDelay.nonEmpty) watermarkDelay else gap
    sessionWindowAgg(events.withWatermark("ts", delay), gap)
  }

  /** Sliding 10-min/5-min window aggregate per symbol — each event
    * contributes to exactly two overlapping windows (the moving-average
    * view a dashboard refreshes every slide). Identical semantics in
    * batch and streaming; the sum accumulates in DECIMAL because each
    * row is duplicated into two windows and the two engines would
    * otherwise fold the doubled rows in different orders. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double")
          + lit(5e-9), 4).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("event_type"), col("n_events"), col("sum_value"),
        col("min_value"), col("max_value"))

  /** Streaming variant of [[slidingAgg]] with a watermark. */
  def slidingAggStream(events: DataFrame): DataFrame =
    slidingAgg(events.withWatermark("ts", "30 minutes"))

  /** JSON message schema for the republished event feed — exactly the
    * columns of the events table (the reference wraps each record as a
    * JSON string before publishing, stocks_pipeline.py:80). */
  private val MsgSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** Microsecond-exact timestamp format for the feed: the default JSON
    * timestamp pattern stops at milliseconds, which would silently drop
    * sub-ms digits on the serialize→parse round trip. */
  private val MsgTsOpts: java.util.Map[String, String] =
    java.util.Map.of("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Serialize events into single-string JSON messages (the publish half
    * of the feed). `props` — itself a JSON string — rides along as an
    * escaped string value; the parse side hands it back verbatim. */
  def toJsonFeed(events: DataFrame): DataFrame =
    events.select(to_json(
      struct(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")), MsgTsOpts).as("msg"))

  /** Parse the JSON feed back into typed rows: one `from_json` per
    * message, PERMISSIVE (a malformed message becomes an all-NULL row
    * rather than failing the stream). Identical plan in batch and
    * streaming. */
  def parseJsonFeed(msgs: DataFrame): DataFrame =
    msgs.select(from_json(col("msg"), MsgSchema, MsgTsOpts).as("e"))
      .select("e.*")

  private def propsWindowCore(parsed: DataFrame): DataFrame =
    graft.operators.SemiStructured.withK(
      // Drop unparseable messages (all-NULL rows) at the boundary, in
      // BOTH batch and streaming: a NULL event time would otherwise pin
      // a (NULL window) state entry the watermark can never evict —
      // append mode would hold it forever.
      parsed.filter(col("ts").isNotNull))
      .groupBy(window(col("ts"), "10 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // decimal sum → long: parity with the oracle's HUGEINT-widened
        // sum under ANSI mode (a raw long sum throws on overflow)
        sum(col("k").cast("decimal(38,0)")).cast("long").as("sum_k"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_k"), col("sum_value"))

  /** The full ingest path the reference runs between publish and load —
    * serialize → typed parse → nested-JSON extract → tumbling window
    * profile — in one declarative plan. Batch entry (oracle-gated as
    * q_stream_props); [[propsWindowAggStream]] is the same plan over an
    * unbounded message feed. */
  def propsWindowAgg(events: DataFrame): DataFrame =
    propsWindowCore(parseJsonFeed(toJsonFeed(events)))

  /** Streaming variant of [[propsWindowAgg]] over raw JSON messages
    * (append-mode safe via the watermark). */
  def propsWindowAggStream(msgs: DataFrame): DataFrame =
    propsWindowCore(parseJsonFeed(msgs).withWatermark("ts", "30 minutes"))

  /** Streaming dedup on (event_type, ts) within the watermark — the
    * streaming analogue of Relational.dedupLatest (reference
    * src/preprocessing/dedup_pipeline.py continuous 5-min dedup loop). */
  def streamingDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_type", "ts")

  /** Dual raw/processed sink via foreachBatch — the streaming analogue of
    * the reference loader's buffered dual-table insert (reference
    * src/loader/bigquery_loader.py:40-44 buffer, :62-85 dual schemas):
    * each micro-batch appends the raw events and the per-batch OHLCV bars
    * atomically under one checkpoint. */
  def dualSinkStream(events: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          batch.write.mode("append").parquet(s"$outDir/raw")
          graft.operators.Bars.ohlcv(batch).write.mode("append").parquet(s"$outDir/processed")
        } finally batch.unpersist() // a failed sink write must not leak the cached batch across the restart
        ()
      }
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()

  /** Idempotent micro-batch write body for [[dualSinkDurable]], exposed
    * so specs can exercise the failure replay directly. Each micro-batch
    * lands in a batch-scoped partition directory (`raw/batch_id=<id>`)
    * written with OVERWRITE: if the batch was fully written but the
    * checkpoint offset commit was lost (process killed in the gap), the
    * engine re-runs the same batchId on restart and the rewrite replaces
    * the partition instead of appending a duplicate. This is what
    * upgrades foreachBatch's at-least-once contract to exactly-once on
    * an idempotent-capable sink — the plain [[dualSinkStream]] append is
    * the reference loader's semantics (reference
    * src/loader/bigquery_loader.py:211 buffered insert callback), this
    * is the restart-survivable production shape. Readers see `batch_id`
    * as a discovered partition column. */
  def dualWriteBatch(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    batch.persist()
    try {
      batch.write.mode("overwrite").parquet(s"$outDir/raw/batch_id=$batchId")
      graft.operators.Bars.ohlcv(batch).write.mode("overwrite")
        .parquet(s"$outDir/processed/batch_id=$batchId")
    } finally batch.unpersist() // a failed sink write must not leak the cached batch across the replay
    ()
  }

  /** [[dualSinkStream]] with exactly-once restart durability via
    * batchId-keyed idempotent writes (see [[dualWriteBatch]]). */
  def dualSinkDurable(events: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => dualWriteBatch(batch, id, outDir) }
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()

  /** Streaming CDC MERGE — [[graft.operators.Temporal.cdcApply]]'s
    * last-writer-wins semantics run stream-native, the reference
    * loader's upsert path (reference src/loader/bigquery_loader.py:211
    * buffered upsert callback) as a foreachBatch MERGE into a parquet
    * state table. Per micro-batch: ONE map-side-combining `max_by`
    * reduce collapses the batch's changelog to one row per user (the
    * q_cdc_apply combiner — never a per-key sort), then a single
    * full-outer MERGE against the previous state on `user_id` folds it
    * in: op counts add, the surviving row is `greatest` over the
    * (ts, event_id)-ordered last-row struct, so out-of-order keys
    * ACROSS batches resolve exactly like rows within one batch.
    *
    * The state table is GENERATION-CHAINED for exactly-once semantics
    * on a plain-parquet sink (the [[dualWriteBatch]] idempotency
    * device, upgraded from partition-overwrite to merge-compaction):
    * batch N writes `state/gen=N` by merging onto the newest gen < N,
    * so a replayed batch (offsets committed, sink write lost)
    * deterministically REWRITES its own generation instead of
    * double-counting. Tombstoned users stay in the state (their op
    * counts must survive a later resurrection); [[cdcState]] applies
    * the tombstone filter at read time, matching `cdcApply` exactly.
    *
    * Scale shape: the MERGE is one co-partitioned shuffle join keyed on
    * user_id — state rows ∝ distinct keys, never event volume; the
    * changelog itself is never retained. At warehouse scale the same
    * body runs against a MERGE-capable table format; the generation
    * chain is what plain parquet needs to make the upsert idempotent. */
  def cdcMergeBatch(batch: DataFrame, batchId: Long, outDir: String,
      retainGens: Int = 4): Unit = {
    val spark = batch.sparkSession
    val root = s"$outDir/state"
    val delta = batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ops"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_deletes"),
        max_by(struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
    val prevGens = cdcGens(spark, root).filter(_ < batchId)
    val prev =
      if (prevGens.isEmpty) delta.limit(0)
      else spark.read.parquet(s"$root/gen=${prevGens.max}")
    val p = prev.select(col("user_id"), col("n_ops").as("p_ops"),
      col("n_deletes").as("p_del"), col("last").as("p_last"))
    val d = delta.select(col("user_id"), col("n_ops").as("d_ops"),
      col("n_deletes").as("d_del"), col("last").as("d_last"))
    p.join(d, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("p_ops"), lit(0L)) + coalesce(col("d_ops"), lit(0L))).as("n_ops"),
        (coalesce(col("p_del"), lit(0L)) + coalesce(col("d_del"), lit(0L))).as("n_deletes"),
        // greatest skips NULL (a key present on one side only) and
        // orders by the struct's leading (ts, event_id) — last writer wins
        greatest(col("p_last"), col("d_last")).as("last"))
      .write.mode("overwrite").parquet(s"$root/gen=$batchId")
    // prune generations older than the replay-rewrite window AFTER the
    // new generation landed: without this the chain grows
    // O(batches × keys) in storage and cdcGens lists every directory on
    // each batch. `retainGens` bounds how far back a replayed batch can
    // reach — a micro-batch replay only ever rewrites ITS OWN id against
    // the newest gen < id, so any retention ≥ 1 preserves idempotency;
    // the default keeps a few extra for manual state inspection.
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cdcGens(spark, root).filter(_ < batchId - retainGens)
      .foreach(g => fs.delete(new org.apache.hadoop.fs.Path(s"$root/gen=$g"), true))
  }

  /** The streaming query driving [[cdcMergeBatch]] under a checkpoint. */
  def cdcApplyStream(events: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => cdcMergeBatch(batch, id, outDir) }
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()

  /** Current CDC table state: newest generation, tombstones dropped,
    * projected to exactly [[graft.operators.Temporal.cdcApply]]'s
    * output schema — the spec equates the two across a replay. */
  def cdcState(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val gens = cdcGens(spark, s"$outDir/state")
    require(gens.nonEmpty, s"no CDC state generations under $outDir/state")
    spark.read.parquet(s"$outDir/state/gen=${gens.max}")
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.value").as("value"),
        col("last.ts").as("updated_at"), col("n_ops"), col("n_deletes"))
      .orderBy(col("user_id"))
  }

  private def cdcGens(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong)
  }

  /** Stream-static enrichment: join the unbounded stream against a
    * (small) static dimension with an explicit broadcast — per
    * micro-batch this is a stateless map-side hash join, the cheapest
    * join a stream can do (no state store, no watermark needed on
    * either side). The reference enriches each tick with per-symbol config
    * the same way. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"))

  /** Stream-stream join: purchases attributed to a preceding click by the
    * same user within 30 minutes (watermarked range condition so state is
    * bounded on both sides). */
  def clickAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"))
      .select(col("p_user").as("user_id"), col("c_event"), col("p_event"),
        col("c_ts"), col("p_ts"), col("p_value"))
  }

  /** LEFT-OUTER stream-stream join — [[clickAttribution]]'s join with
    * the purchase side PRESERVED: matched rows emit immediately;
    * an unmatched purchase emits with null click columns only once the
    * watermark passes its join window's upper bound, because state-store
    * eviction is the streaming proof that no future click can ever
    * match it. Same bounded state as the inner form (both sides
    * watermarked, range-conditioned); the null-extension is pure
    * bookkeeping at eviction time, so the 100 TB state bound is
    * unchanged — this is the join a funnel pipeline needs when
    * "purchase with no preceding click" is itself the signal. */
  def clickAttributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"),
      "leftOuter")
      .select(col("p_user").as("user_id"), col("c_event"), col("p_event"),
        col("c_ts"), col("p_ts"), col("p_value"))
  }

  case class BarIn(symbol: String, bar_ts: java.sql.Timestamp, close: Double)
  case class EmaState(e12: Double, e26: Double, sig: Double, started: Boolean)
  case class MacdOut(symbol: String, bar_ts: java.sql.Timestamp,
      macd: Double, macd_signal: Double, macd_hist: Double)

  /** Streaming MACD(12,26,9): per-symbol EMA recursion state carried
    * across micro-batches via flatMapGroupsWithState — the streaming
    * twin of the batch per-symbol fold (graft.operators.Ema.macd).
    * Within a micro-batch rows fold in bar_ts order; with in-order
    * arrival the emitted values equal the batch recursion exactly
    * (spec-proven at 4dp across a two-batch replay). */
  def macdStream(bars: Dataset[BarIn]): Dataset[MacdOut] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val A12 = 2.0 / 13.0; val B12 = 11.0 / 13.0
    val A26 = 2.0 / 27.0; val B26 = 25.0 / 27.0
    val A9 = 2.0 / 10.0; val B9 = 8.0 / 10.0

    def fn(sym: String, rows: Iterator[BarIn],
        state: GroupState[EmaState]): Iterator[MacdOut] = {
      var st = state.getOption.orNull
      val out = rows.toSeq.sortBy(_.bar_ts.getTime).map { b =>
        if (st == null) {
          // e12 = e26 = x0 → macd 0; the signal seeds with that macd
          st = EmaState(b.close, b.close, 0.0, started = true)
          MacdOut(sym, b.bar_ts, 0.0, 0.0, 0.0)
        } else {
          val e12 = b.close * A12 + st.e12 * B12
          val e26 = b.close * A26 + st.e26 * B26
          val m = e12 - e26
          val sig = m * A9 + st.sig * B9
          st = EmaState(e12, e26, sig, started = true)
          MacdOut(sym, b.bar_ts, m, sig, m - sig)
        }
      }
      if (st != null) state.update(st)
      out.iterator
    }

    bars.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Stateful gap sessionization via flatMapGroupsWithState: closes a
    * session when the event-time gap exceeds 30 min (or on timeout),
    * emitting the same shape as the batch Relational.sessionize. */
  def sessionizeStream(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, rows: Iterator[Ev],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      def close(s: SessionState): Unit =
        out += SessionOut(userId, new java.sql.Timestamp(s.start),
          new java.sql.Timestamp(s.end), s.n, s.total)
      if (state.hasTimedOut) {
        state.getOption.foreach(close)
        state.remove()
      } else {
        var cur = state.getOption.orNull
        rows.toSeq.sortBy(r => (r.ts.getTime, r.value)).foreach { r =>
          val t = r.ts.getTime
          cur match {
            case null =>
              cur = SessionState(t, t, 1, r.value)
            case s if t - s.end > gapMs =>
              close(s)
              cur = SessionState(t, t, 1, r.value)
            case s =>
              cur = SessionState(s.start, math.max(s.end, t), s.n + 1, s.total + r.value)
          }
        }
        if (cur != null) {
          state.update(cur)
          state.setTimeoutTimestamp(cur.end + gapMs)
        }
      }
      out.iterator
    }

    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
