package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ema, IndicatorsExt}

/** The per-symbol EMA fold ([[Ema.fold]]) and the EMA-chain indicators
  * built on it (ADX, TRIX, Chaikin A/D): fold identities (K recursions
  * in one fold vs one; a chained step vs chained folds), and exact
  * agreement with plain sequential folds.
  */
class EmaChainSpec extends SparkSpec {

  private val BarUs = 300000000L // 5-min grid in micros

  /** n synthetic bars per symbol on the 5-min grid; prices on the 2dp
    * grid like real bars. */
  private def mkBars(symbols: Seq[String], n: Int): DataFrame = {
    import spark.implicits._
    val rows = for {
      s <- symbols
      i <- 0 until n
    } yield {
      val base = 100.0 + 7 * math.sin(i * 0.37 + s.hashCode % 10) +
        (i % 13) * 0.53
      val close = math.rint(base * 100) / 100
      val high = math.rint((base + 1.25) * 100) / 100
      val low = math.rint((base - 0.75) * 100) / 100
      (s, new Timestamp(i * BarUs / 1000), high, low, close, (i % 7 + 1).toLong)
    }
    rows.toDF("symbol", "bar_ts", "high", "low", "close", "volume")
  }

  /** Single EMA of `close` at `span` (α = 2/(span+1)) as one fold. */
  private def emaSegmented(df: DataFrame, span: Int): DataFrame = {
    val a = 2.0 / (span + 1); val b = 1.0 - a
    Ema.fold(df, Seq("close"), Seq("ema"))(x => x, (e, x) => Array(x(0) * a + e(0) * b))
  }

  /** K independent EMAs, recursion j over `valueCols(j)` at `alphas(j)`,
    * in one fold. */
  private def emaMulti(df: DataFrame, valueCols: Seq[String], alphas: Seq[Double],
      outCols: Seq[String]): DataFrame = {
    val as = alphas.toArray; val bs = alphas.map(1.0 - _).toArray
    Ema.fold(df, valueCols, outCols)(x => x,
      (e, x) => Array.tabulate(as.length)(j => x(j) * as(j) + e(j) * bs(j)))
  }

  /** A chain of EMAs in one fold step: stage j smooths stage j−1's
    * current value, every stage seeded at the first input. */
  private def emaChain(df: DataFrame, alphas: Seq[Double], outCols: Seq[String]): DataFrame = {
    val as = alphas.toArray; val bs = alphas.map(1.0 - _).toArray
    Ema.fold(df, Seq("close"), outCols)(x => Array.fill(as.length)(x(0)),
      (e, x) => {
        val out = new Array[Double](as.length)
        var p = x(0)
        for (j <- as.indices) { out(j) = p * as(j) + e(j) * bs(j); p = out(j) }
        out
      })
  }

  test("emaMulti K=1 is bit-identical to emaSegmented at the same alpha") {
    val bars = mkBars(Seq("AAA", "BBB"), 300)
    val multi = emaMulti(bars.select(col("symbol"), col("bar_ts"), col("close")),
        Seq("close"), Seq(2.0 / 16.0), Seq("ema"))
      .select("symbol", "bar_ts", "ema").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).sortBy(t => (t._1, t._2.getTime))
    val single = emaSegmented(bars.select(col("symbol"), col("bar_ts"), col("close")),
        span = 15)
      .select("symbol", "bar_ts", "ema").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).sortBy(t => (t._1, t._2.getTime))
    assert(multi.length == single.length && multi.length == 600)
    multi.zip(single).foreach { case (m, s) =>
      assert(m == s, s"divergence at ${m._1}/${m._2}: ${m._3} vs ${s._3}")
    }
  }

  test("emaChain matches three chained emaSegmented passes across chunk seams") {
    val bars = mkBars(Seq("AAA", "BBB"), 400).select(col("symbol"), col("bar_ts"), col("close"))
    val a = 2.0 / 16.0
    val chain = emaChain(bars, Seq(a, a, a), Seq("e1", "e2", "e3"))
      .collect().map(r => ((r.getString(0), r.getTimestamp(1).getTime), r.getDouble(4))).toMap
    val s1 = emaSegmented(bars, 15)
      .select(col("symbol"), col("bar_ts"), col("ema").as("close"))
    val s2 = emaSegmented(s1, 15)
      .select(col("symbol"), col("bar_ts"), col("ema").as("close"))
    val s3 = emaSegmented(s2, 15)
      .collect().map(r => ((r.getString(0), r.getTimestamp(1).getTime), r.getDouble(2)))
    assert(s3.length == 800)
    s3.foreach { case (key, v) =>
      val c = chain(key)
      assert(math.abs(c - v) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"chain/$key: $c vs $v")
    }
  }

  test("adx equals the per-symbol sequential Wilder fold") {
    val bars = mkBars(Seq("AAA", "BBB", "CCC"), 200)
    val got = IndicatorsExt.adx(bars).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1).getTime),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val a = 1.0 / 14; val b = 1.0 - a
    val rows = bars.select("symbol", "bar_ts", "high", "low", "close").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .groupBy(_._1)
    var checked = 0
    rows.foreach { case (_, rs) =>
      val s = rs.sortBy(_._2.getTime)
      var str = 0.0; var spdm = 0.0; var smdm = 0.0; var adx = 0.0
      s.indices.foreach { i =>
        val (sym, ts, hi, lo, cl) = s(i)
        val (tr, pdm, mdm) =
          if (i == 0) (hi - lo, 0.0, 0.0)
          else {
            val (_, _, ph, pl, pc) = s(i - 1)
            val up = hi - ph; val down = pl - lo
            (math.max(hi - lo, math.max(math.abs(hi - pc), math.abs(lo - pc))),
              if (up > down && up > 0) up else 0.0,
              if (down > up && down > 0) down else 0.0)
          }
        if (i == 0) { str = tr; spdm = pdm; smdm = mdm }
        else { str = tr * a + str * b; spdm = pdm * a + spdm * b; smdm = mdm * a + smdm * b }
        val dip = if (str > 0) 100.0 * spdm / str else 0.0
        val dim = if (str > 0) 100.0 * smdm / str else 0.0
        val dx = if (dip + dim > 0) 100.0 * math.abs(dip - dim) / (dip + dim) else 0.0
        adx = if (i == 0) dx else dx * a + adx * b
        val (gDip, gDim, gDx, gAdx) = got((sym, ts.getTime))
        def r4(x: Double) = math.rint((x + 5e-9) * 1e4) / 1e4
        assert(math.abs(gDip - r4(dip)) < 1.1e-4 && math.abs(gAdx - r4(adx)) < 1.1e-4 &&
          math.abs(gDim - r4(dim)) < 1.1e-4 && math.abs(gDx - r4(dx)) < 1.1e-4,
          s"$sym@$ts: got ($gDip,$gDim,$gDx,$gAdx) want (${r4(dip)},${r4(dim)},${r4(dx)},${r4(adx)})")
        checked += 1
      }
    }
    assert(checked == 600)
  }

  test("adLine running DECIMAL sum equals the sequential money-flow fold") {
    val bars = mkBars(Seq("AAA", "BBB"), 150)
    val got = IndicatorsExt.adLine(bars).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1).getTime), r.getDouble(2))).toMap
    bars.select("symbol", "bar_ts", "high", "low", "close", "volume").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
      .groupBy(_._1).foreach { case (_, rs) =>
        var ad = BigDecimal(0)
        rs.sortBy(_._2.getTime).foreach { case (sym, ts, hi, lo, cl, vol) =>
          val mfm = if (hi == lo) 0.0 else ((cl - lo) - (hi - cl)) / (hi - lo)
          ad += BigDecimal(mfm * vol + 5e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          val want = ad.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          assert(math.abs(got((sym, ts.getTime)) - want) < 1e-9, s"$sym@$ts")
        }
      }
  }

  test("ichimoku null boundaries follow the window-fill rule") {
    val bars = mkBars(Seq("AAA"), 120)
    val rows = IndicatorsExt.ichimoku(bars).orderBy("bar_ts").collect()
    assert(rows.length == 120)
    rows.zipWithIndex.foreach { case (r, i) =>
      val rn = i + 1
      assert(r.isNullAt(2) == (rn < 9), s"tenkan null rule at rn=$rn")
      assert(r.isNullAt(3) == (rn < 26), s"kijun null rule at rn=$rn")
      // senkou_a = 26-lag of (tenkan+kijun)/2: needs rn-26 >= 26
      assert(r.isNullAt(4) == (rn < 52), s"senkou_a null rule at rn=$rn")
      // senkou_b = 26-lag of the 52-bar midpoint: needs rn-26 >= 52
      assert(r.isNullAt(5) == (rn < 78), s"senkou_b null rule at rn=$rn")
      // chikou = 26-lead of close: null for the last 26 bars
      assert(r.isNullAt(6) == (rn > 120 - 26), s"chikou null rule at rn=$rn")
    }
  }
}
