package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tick → 5-minute OHLCV bar resample.
  *
  * The reference ingests 5-min OHLCV bars per symbol
  * (reference src/ingestion/stocks_pipeline.py:138-175); we derive the
  * same bars from the tick-level `events` table (`event_type` ≡ symbol,
  * `value` ≡ trade price, one row ≡ one tick).
  *
  * One bar rule for batch and streaming: ticks group by Spark's
  * event-time `window(ts, "5 minutes")`, whose epoch-aligned start is
  * `bar_ts` — the same bar the DuckDB oracle's integer floor
  * (`epoch_us(ts) // 300000000`) lands on. `StreamPipelines.barsOhlcvStream`
  * is this plan over a watermarked stream. A tick with a null `ts`
  * belongs to no window and forms no bar. open/close are `min_by`/`max_by`
  * on the tick time, streaming-safe aggregates whose partial state is one
  * (value, ts) pair per bar.
  *
  * Scale notes: one hash-partitioned aggregate on (symbol, window) with
  * map-side partial aggregation; key cardinality is symbols × buckets so
  * there is no skew.
  */
object Bars {
  def ohlcv(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type").as("symbol"), window(col("ts"), "5 minutes").as("win"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("volume"),
        sum(col("value")).as("vsum"))
      .select(col("symbol"), col("win.start").as("bar_ts"), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("vsum"))

  /** OHLC consistency predicate (reference
    * src/preprocessing/preprocessing_pipeline.py:132-136): positive
    * prices/volume and high >= low. Shared with pipelines that embed the
    * filter without [[validateOhlc]]'s output sort; pushdown-friendly. */
  val ohlcValid: org.apache.spark.sql.Column =
    col("open") > 0 && col("high") > 0 && col("low") > 0 &&
      col("close") > 0 && col("volume") > 0 && col("high") >= col("low")

  def validateOhlc(bars: DataFrame): DataFrame =
    bars.filter(ohlcValid)
      .select(col("symbol"), col("bar_ts"), col("open"), col("high"),
        col("low"), col("close"), col("volume"))
      .orderBy(col("symbol"), col("bar_ts"))

  /** Resample to a complete 5-min grid per symbol and fill the gaps:
    * forward-fill + back-fill of close (the reference leans on pandas
    * `ffill().bfill()` throughout, reference app/dashboard.py:75,90,151),
    * zero-fill of volume, and an is_gap marker. The grid is generated
    * per symbol (min..max bar), so empty buckets become explicit rows —
    * the declarative form of `resample().ffill()`. */
  def gapFill(bars: DataFrame): DataFrame = {
    val grid = bars.groupBy(col("symbol"))
      .agg(min(col("bar_ts")).as("t0"), max(col("bar_ts")).as("t1"))
      .select(col("symbol"),
        explode(expr("sequence(t0, t1, interval 5 minutes)")).as("bar_ts"))
    // Both fills as RUNNING frames (unboundedPreceding..current), the
    // back-fill over a descending sort: `first ignoreNulls over
    // (current..unboundedFollowing)` is semantically identical but Spark
    // executes that frame shape by re-scanning to the partition end for
    // EVERY row — O(rows²) per partition, minutes per task once a 10×
    // time axis grows the per-symbol grid. The running frame folds each
    // row once, O(rows); the desc window costs one extra in-partition
    // sort on the same shuffle.
    val wF = Window.partitionBy(col("symbol")).orderBy(col("bar_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wB = Window.partitionBy(col("symbol")).orderBy(col("bar_ts").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(bars.select(col("symbol"), col("bar_ts"), col("close"), col("volume")),
        Seq("symbol", "bar_ts"), "left")
      .select(col("symbol"), col("bar_ts"), col("close"),
        when(col("close").isNull, 1L).otherwise(0L).as("is_gap"),
        last(col("close"), ignoreNulls = true).over(wF).as("close_ffill"),
        last(col("close"), ignoreNulls = true).over(wB).as("close_bfill"),
        coalesce(col("volume"), lit(0L)).as("volume_filled"))
      .orderBy(col("symbol"), col("bar_ts"))
  }
}
