package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bars, Ema, Indicators}

class BarsIndicatorsSpec extends SparkSpec {

  private def ticks(rows: Seq[(Long, String, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, ts, sym, v) =>
      (id, Timestamp.valueOf(ts), 7L, sym, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("bars: OHLCV semantics on a crafted bucket") {
    val df = ticks(Seq(
      (1L, "2024-01-01 10:01:00", "A", 10.0),
      (2L, "2024-01-01 10:02:00", "A", 15.0),
      (3L, "2024-01-01 10:03:00", "A", 8.0),
      (4L, "2024-01-01 10:04:00", "A", 12.0),
      (5L, "2024-01-01 10:07:00", "A", 99.0)))
    val b = Bars.ohlcv(df).orderBy("bar_ts").collect()
    assert(b.length === 2)
    val first = b(0)
    assert(first.getAs[Timestamp]("bar_ts") === Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(first.getAs[Double]("open") === 10.0)
    assert(first.getAs[Double]("high") === 15.0)
    assert(first.getAs[Double]("low") === 8.0)
    assert(first.getAs[Double]("close") === 12.0)
    assert(first.getAs[Long]("volume") === 4L)
  }

  test("bars invariants on real data: high >= open/close >= low, volume > 0") {
    val b = Bars.ohlcv(Tables.events(spark, sf()))
    val bad = b.filter(col("high") < col("low") || col("open") > col("high") ||
      col("open") < col("low") || col("close") > col("high") ||
      col("close") < col("low") || col("volume") <= 0).count()
    assert(bad === 0)
  }

  test("rsi: strictly rising series pegs at 100") {
    val rows = (1 to 30).map(i =>
      (i.toLong, f"2024-01-01 ${10 + i / 12}%02d:${(i % 12) * 5}%02d:00", "A", 100.0 + i))
    val rsi = Indicators.rsi(Bars.ohlcv(ticks(rows))).orderBy("bar_ts").collect()
    assert(rsi.take(13).forall(_.isNullAt(rsi.head.fieldIndex("rsi"))))
    assert(rsi.drop(13).forall(_.getAs[Double]("rsi") === 100.0))
  }

  test("sma/bollinger: constant series collapses to the constant") {
    val rows = (1 to 25).map(i =>
      (i.toLong, f"2024-01-01 ${10 + i / 12}%02d:${(i % 12) * 5}%02d:00", "A", 50.0))
    val bars = Bars.ohlcv(ticks(rows))
    val sma = Indicators.sma(bars).filter(col("sma20").isNotNull).collect()
    assert(sma.nonEmpty && sma.forall(_.getAs[Double]("sma20") === 50.0))
    val bb = Indicators.bollinger(bars).filter(col("bb_upper").isNotNull).collect()
    assert(bb.forall(r => r.getAs[Double]("bb_upper") === 50.0 &&
      r.getAs[Double]("bb_lower") === 50.0))
  }

  /** Single EMA of close at `span` through the per-symbol fold. */
  private def emaFold(bars: DataFrame, span: Int): DataFrame = {
    val a = 2.0 / (span + 1); val b = 1.0 - a
    Ema.fold(bars, Seq("close"), Seq("ema"))(x => x, (e, x) => Array(x(0) * a + e(0) * b))
  }

  test("macd: constant series gives zero macd/signal/hist") {
    val rows = (1 to 40).map(i =>
      (i.toLong, f"2024-01-01 ${10 + i / 12}%02d:${(i % 12) * 5}%02d:00", "A", 42.0))
    val m = Ema.macd(Bars.ohlcv(ticks(rows))).collect()
    assert(m.nonEmpty)
    assert(m.forall(r => r.getAs[Double]("macd") === 0.0 &&
      r.getAs[Double]("macd_signal") === 0.0 && r.getAs[Double]("macd_hist") === 0.0))
  }

  test("segmented-scan EMA matches the exact sequential recursion") {
    val bars = Bars.ohlcv(Tables.events(spark, sf()))
    val seg = emaFold(bars, span = 12)
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
    // exact per-symbol recursion computed driver-side
    val rows = bars.select("symbol", "bar_ts", "close").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1)
    val alpha = 2.0 / 13.0
    var checked = 0
    rows.foreach { case (sym, rs) =>
      var e = 0.0; var firstSeen = false
      rs.sortBy(_._2.getTime).foreach { case (_, ts, x) =>
        e = if (!firstSeen) { firstSeen = true; x } else x * alpha + e * (1 - alpha)
        assert(math.abs(seg((sym, ts)) - e) < 1e-9, s"$sym $ts")
        checked += 1
      }
    }
    assert(checked > 500)
  }

  test("segmented drift is orders of magnitude inside the rounding margin") {
    // the oracle gate rounds at 4dp(+5e-9 nudge); the fold's drift from
    // the sequential recursion must sit far below every cell's distance
    // to its nearest rounding boundary, or a data refresh could flip a cell
    val bars = Bars.ohlcv(Tables.events(spark, sf()))
    val seg = emaFold(bars, span = 26)
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
    val rows = bars.select("symbol", "bar_ts", "close").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1)
    val alpha = 2.0 / 27.0
    var maxDrift = 0.0; var minMargin = Double.MaxValue
    rows.foreach { case (sym, rs) =>
      var e = 0.0; var first = true
      rs.sortBy(_._2.getTime).foreach { case (_, ts, x) =>
        e = if (first) { first = false; x } else x * alpha + e * (1 - alpha)
        maxDrift = math.max(maxDrift, math.abs(seg((sym, ts)) - e))
        val scaled = (e + 5e-9) * 1e4
        val frac = scaled - math.floor(scaled)
        minMargin = math.min(minMargin, math.min(frac, 1.0 - frac) / 1e4)
      }
    }
    info(f"max drift $maxDrift%.3e, min boundary margin $minMargin%.3e")
    assert(maxDrift < 1e-10)
    assert(minMargin > 100 * math.max(maxDrift, 1e-15),
      f"margin $minMargin%.3e too close to drift $maxDrift%.3e")
  }

  test("obv: rising bars accumulate volume, falling subtract") {
    val rows = Seq(
      (1L, "2024-01-01 10:01:00", "A", 10.0),
      (2L, "2024-01-01 10:06:00", "A", 12.0),
      (3L, "2024-01-01 10:11:00", "A", 11.0))
    val o = Indicators.obv(Bars.ohlcv(ticks(rows))).orderBy("bar_ts").collect()
    assert(o.map(_.getAs[Long]("obv")).toSeq === Seq(0L, 1L, 0L))
  }

  test("vwap: equal-volume bars average the closes") {
    val rows = Seq(
      (1L, "2024-01-01 10:01:00", "A", 10.0),
      (2L, "2024-01-01 10:06:00", "A", 20.0),
      (3L, "2024-01-01 10:11:00", "A", 30.0))
    val v = Indicators.vwap(Bars.ohlcv(ticks(rows))).orderBy("bar_ts").collect()
    assert(v.map(_.getAs[Double]("vwap")).toSeq === Seq(10.0, 15.0, 20.0))
  }

  test("stochastic: close at window high gives K=100") {
    val rows = (1 to 20).map(i =>
      (i.toLong, f"2024-01-01 ${10 + i / 12}%02d:${(i % 12) * 5}%02d:00", "A", 100.0 + i))
    val s = Indicators.stochastic(Bars.ohlcv(ticks(rows)))
      .filter(col("stoch_k").isNotNull).collect()
    assert(s.nonEmpty && s.forall(_.getAs[Double]("stoch_k") === 100.0))
  }
}
