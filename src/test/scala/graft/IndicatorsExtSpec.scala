package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bars, IndicatorsExt, Scope, Temporal}

/** Semantic contracts for the second-wave indicators (IndicatorsExt) and
  * the temporal warehouse ops (Temporal) — planted fixtures with known
  * answers, plus recursion-equality checks against naive local math. The
  * cross-engine cell-exactness of the same operators is covered by the
  * DuckDB oracle gate (tools/check.py). */
class IndicatorsExtSpec extends SparkSpec {

  private def ts(i: Int): Timestamp = new Timestamp(1704100000000L + i.toLong * 300000L)

  private def ohlcv(rows: Seq[(String, Int, Double, Double, Double, Double, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (s, i, o, h, l, c, v) => (s, ts(i), o, h, l, c, v) }
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume")
  }

  /** Deterministic pseudo-random walk bars, gap-free. */
  private def walkBars(n: Int, sym: String = "AA"): DataFrame = {
    val rows = (0 until n).map { i =>
      val c = 100.0 + ((i * 37) % 251) / 100.0
      val o = 100.0 + ((i * 53 + 7) % 251) / 100.0
      val h = math.max(o, c) + ((i * 13) % 50) / 100.0
      val l = math.min(o, c) - ((i * 17) % 50) / 100.0
      (sym, i, o, h, l, c, (i % 7 + 1).toLong)
    }
    ohlcv(rows)
  }

  test("aroon: fresh rolling high gives aroon_up=100; ties go to the most recent bar") {
    // monotone highs → every bar IS the rolling high → up=100 once gated;
    // lows also monotone increasing → rolling low is the oldest frame row → down=4 (=100·1/25)
    val rows = (0 until 30).map { i =>
      ("AA", i, 100.0 + i, 100.0 + i, 99.0 + i, 100.0 + i, 1L)
    }
    val out = IndicatorsExt.aroon(ohlcv(rows)).orderBy("bar_ts").collect()
    val gated = out.filter(!_.isNullAt(3))
    assert(gated.length === 6) // rows 25..30
    gated.foreach { r =>
      assert(r.getDouble(3) === 100.0) // aroon_up
      assert(r.getDouble(4) === 4.0)   // aroon_down: low 24 bars ago
      assert(r.getDouble(5) === 96.0)  // osc = up − down
    }
    // tie on the high: flat highs → most recent bar wins → up stays 100
    val flat = (0 until 30).map(i => ("BB", i, 50.0, 50.0, 49.0 - i * 0.01, 50.0, 1L))
    val f = IndicatorsExt.aroon(ohlcv(flat)).orderBy("bar_ts").collect()
      .filter(!_.isNullAt(3))
    f.foreach { r =>
      assert(r.getDouble(3) === 100.0)  // latest of the tied highs
      assert(r.getDouble(4) === 100.0)  // lows strictly falling → current bar
    }
  }

  test("cci matches the naive typical-price/MAD definition") {
    val bars = walkBars(60)
    val rows = bars.orderBy("bar_ts").collect()
      .map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5))) // h, l, c
    val tp = rows.map { case (h, l, c) => (h + l + c) / 3.0 }
    val out = IndicatorsExt.cci(bars).orderBy("bar_ts").collect()
    (0 until 60).foreach { i =>
      if (i < 19) assert(out(i).isNullAt(3))
      else {
        val frame = tp.slice(i - 19, i + 1)
        val sma = frame.sum / 20.0
        val mad = frame.map(x => math.abs(x - sma)).sum / 20.0
        val expect = (tp(i) - sma) / (0.015 * mad)
        assert(math.abs(out(i).getDouble(3) - expect) < 1e-3,
          s"row $i: ${out(i).getDouble(3)} vs $expect")
      }
    }
  }

  test("cmf stays within [-1, 1] and flat bars contribute zero flow") {
    // all-flat bars (h == l) → every mfv is 0 → cmf exactly 0 once gated
    val flat = (0 until 25).map(i => ("AA", i, 10.0, 10.0, 10.0, 10.0, 5L))
    val z = IndicatorsExt.cmf(ohlcv(flat)).collect().filter(!_.isNullAt(3))
    assert(z.nonEmpty && z.forall(_.getDouble(3) === 0.0))
    val out = IndicatorsExt.cmf(walkBars(80)).collect().filter(!_.isNullAt(3))
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0))
  }

  test("ultimate oscillator is bounded in [0, 100] and gates on 28 complete rows") {
    val out = IndicatorsExt.ultimateOsc(walkBars(100)).orderBy("bar_ts").collect()
    (0 until 28).foreach(i => assert(out(i).isNullAt(3)))
    val gated = out.drop(28)
    assert(gated.nonEmpty)
    gated.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 100.0))
  }

  test("keltner midline equals the sequential EMA20 of typical price; bands bracket it") {
    val bars = walkBars(120)
    try Scope {
      val rows = bars.orderBy("bar_ts").collect()
        .map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      val tp = rows.map { case (h, l, c) => (h + l + c) / 3.0 }
      val alpha = 2.0 / 21.0
      val emaRef = tp.scanLeft(Double.NaN) {
        case (e, x) => if (e.isNaN) x else x * alpha + e * (1 - alpha)
      }.drop(1)
      val out = IndicatorsExt.keltner(bars).orderBy("bar_ts").collect()
      (0 until 120).foreach { i =>
        assert(math.abs(out(i).getDouble(3) - emaRef(i)) < 1e-3)
        if (!out(i).isNullAt(4)) {
          assert(out(i).getDouble(4) >= out(i).getDouble(3)) // upper ≥ mid
          assert(out(i).getDouble(5) <= out(i).getDouble(3)) // lower ≤ mid
        }
      }
    } finally spark.catalog.clearCache()
  }

  test("heikin-ashi equals the naive sequential recursion") {
    val bars = walkBars(90)
    try Scope {
      val rows = bars.orderBy("bar_ts").collect()
        .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      val hc = rows.map { case (o, h, l, c) => (o + h + l + c) / 4.0 }
      val haOpen = new Array[Double](90)
      haOpen(0) = (rows(0)._1 + rows(0)._4) / 2.0
      (1 until 90).foreach(i => haOpen(i) = (haOpen(i - 1) + hc(i - 1)) / 2.0)
      val out = IndicatorsExt.heikinAshi(bars).orderBy("bar_ts").collect()
      (0 until 90).foreach { i =>
        assert(math.abs(out(i).getDouble(2) - haOpen(i)) < 1e-3, s"ha_open row $i")
        assert(math.abs(out(i).getDouble(5) - hc(i)) < 1e-3, s"ha_close row $i")
        assert(out(i).getDouble(3) + 1e-9 >= math.max(out(i).getDouble(2), out(i).getDouble(5)))
        assert(out(i).getDouble(4) - 1e-9 <= math.min(out(i).getDouble(2), out(i).getDouble(5)))
      }
    } finally spark.catalog.clearCache()
  }

  private def events(rows: Seq[(Long, Int, String, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, i, u, t, v) => (id, ts(i), u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("twap weights each tick by its forward duration; single-tick days yield null") {
    // day 1: price 10 for 300s then 20 for 600s → twap = (10·300+20·600)/900
    val rows = Seq(
      (1L, 0, "u1", "AA", 10.0), (2L, 1, "u1", "AA", 20.0), (3L, 3, "u1", "AA", 99.0),
      (4L, 400, "u1", "BB", 42.0)) // 400·5min later = different day, single tick
    val out = Temporal.twap(events(rows)).collect()
    val aa = out.find(_.getString(0) == "AA").get
    val expect = math.floor((10.0 * 300 + 20.0 * 600) / 900.0 * 1e4 + 0.5) / 1e4
    assert(math.abs(aa.getDouble(4) - expect) < 1e-9) // output is 4dp-rounded
    assert(aa.getLong(2) === 3L) // n_ticks counts the weightless last tick too
    val bb = out.find(_.getString(0) == "BB").get
    assert(bb.isNullAt(4) && bb.isNullAt(3))
  }

  test("scd2 builds one interval per consecutive type run with is_current on the last") {
    val rows = Seq(
      (1L, 0, "u1", "view", 0.0), (2L, 1, "u1", "view", 0.0),
      (3L, 2, "u1", "click", 0.0), (4L, 3, "u1", "view", 0.0),
      (5L, 0, "u2", "purchase", 0.0))
    val out = Temporal.scd2(events(rows)).collect()
    val u1 = out.filter(_.getString(0) == "u1")
    assert(u1.map(r => (r.getLong(1), r.getString(2))).toSeq ===
      Seq((1L, "view"), (2L, "click"), (3L, "view")))
    assert(u1.map(_.getBoolean(5)).toSeq === Seq(false, false, true))
    // interval chaining: each valid_to equals the next valid_from
    assert(u1(0).getTimestamp(4) === u1(1).getTimestamp(3))
    assert(u1(1).getTimestamp(4) === u1(2).getTimestamp(3))
    val u2 = out.filter(_.getString(0) == "u2")
    assert(u2.length === 1 && u2(0).getBoolean(5))
  }

  test("active users: wau7 is the exact trailing-7-day distinct union") {
    // u1 active day 0; u2 active days 0 and 8; u3 active day 8 only
    val day = 288 // 5-min steps per day
    val rows = Seq(
      (1L, 0, "u1", "AA", 1.0), (2L, 1, "u2", "AA", 1.0),
      (3L, 8 * day, "u2", "AA", 1.0), (4L, 8 * day + 1, "u3", "AA", 1.0))
    val out = Temporal.activeUsers(events(rows)).collect()
    assert(out.length === 2)
    val d0 = out(0); val d8 = out(1)
    assert(d0.getLong(1) === 2L && d0.getLong(2) === 2L)       // day 0: u1, u2
    assert(d8.getLong(1) === 2L && d8.getLong(2) === 2L)       // day 8: u2, u3 (day 0 aged out)
  }

  test("incremental distinct: HLL merge and recompute both inside the 3-rsd envelope") {
    val out = Temporal.incrementalDistinct(Tables.events(spark, sf())).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nx, nb, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // distinct algebra: union bounded by sum, at least each side
      assert(nx <= nb + nd && nx >= math.max(nb, nd))
      assert(r.getBoolean(4), "merged estimate outside 3-rsd")
      assert(r.getBoolean(5), "recomputed estimate outside 3-rsd")
    }
  }

  test("incremental merge of base/delta partials equals a direct full recompute") {
    val ev = Tables.events(spark, sf())
    val merged = Temporal.incrementalMerge(ev).collect()
    val direct = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .select(col("event_type"), col("day"), col("n_rows"), col("total"),
        col("vmin"), col("vmax"),
        round(col("total").cast("double") / col("n_rows") + lit(5e-9), 4).as("vavg"))
      .orderBy(col("event_type"), col("day")).collect()
    assert(merged.length === direct.length)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.getString(0) === d.getString(0))
      assert(m.getDate(1) === d.getDate(1))
      assert(m.getLong(2) === d.getLong(2))
      assert(m.getDouble(3) === d.getDouble(3))
      assert(m.getDouble(4) === d.getDouble(4))
      assert(m.getDouble(5) === d.getDouble(5))
      assert(m.getDouble(6) === d.getDouble(6))
    }
  }
}
