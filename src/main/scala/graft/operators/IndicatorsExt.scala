package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second-wave technical indicators, extending the reference dashboard's
  * suite (reference app/dashboard.py:84-145) with the standard indicators
  * a user of a market-analytics engine expects next: Aroon, CCI, Chaikin
  * Money Flow, Ultimate Oscillator, Keltner channels, and Heikin-Ashi
  * candles. Same contract as [[Indicators]]: per-symbol windows over 5-min
  * bars, row-bounded frames, divisions guarded, doubles rounded 4dp at the
  * output edge only.
  *
  * Cross-engine parity devices used here (SURVEY.md §5):
  *  - Aroon's rolling argmax/argmin positions are encoded into ONE BIGINT
  *    (`price_cents * 10^10 + rn`) so the extremum position is a plain
  *    windowed `max` — exact integer math in both engines, no arg_max
  *    tie-break semantics to reconcile. Bound: 10^10 rows per symbol, 10^8
  *    price cents — documented, far above any real series.
  *  - CCI's mean absolute deviation depends on the CURRENT row's frame
  *    mean, a window-of-window shape neither engine can nest; both sides
  *    fold the same 20-element frame list sequentially (Spark `aggregate`
  *    with a 0.0 seed ≡ DuckDB `list_reduce` over a 0.0-prepended list).
  *  - Every EMA-family recursion here — Keltner's EMA20 midline,
  *    Heikin-Ashi's open (`ha_open' = (ha_open + ha_close)/2`, an EMA with
  *    α = 0.5), ADX, TRIX, the Chaikin oscillator, the EWMA chart and
  *    Holt — is one [[Ema.fold]] per symbol whose step runs the oracle's
  *    float ops, bit-equal to the sequential recursion the oracle folds.
  */
object IndicatorsExt {

  private val w = Window.partitionBy(col("symbol")).orderBy(col("bar_ts"))
  private def wr(n: Int) = w.rowsBetween(-(n - 1), 0)
  private val rn = row_number().over(w)

  /** `floor(x*100 + 0.5)` — exact cents for 2-decimal prices; identical
    * primitive ops in both engines (no round-half tie semantics). */
  private def cents(c: Column): Column =
    floor(c * lit(100) + lit(0.5)).cast("long")

  private val PosBase = 10000000000L // 10^10: rn slot in the encoded key
  private val CentCap = 100000000L   // 10^8 cents = prices < $1M

  /** Wilder's true range from the previous close — the exact
    * `greatest(h − l, |h − pc|, |l − pc|)` the oracle evaluates (a max
    * picks one operand, so no rounding is involved). */
  private def trueRange(h: Double, l: Double, pc: Double): Double =
    math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))

  /** Rolling market correlation(20): per-bar Pearson correlation
    * between the symbol's close and the equal-share market index (the
    * per-bar_ts close sum, [[Indicators.marketBeta]]'s index) over the
    * trailing 20 bars — the "is this symbol still tracking the market"
    * regime signal a beta dashboard plots as a time series where
    * marketBeta reports one number per symbol.
    *
    * Parity: moment sums accumulate in exact DECIMAL inside the window
    * frame (order-free integer arithmetic — the q_price_corr device,
    * windowed), with one double conversion per term at the edge in the
    * oracle's association order; corr can be negative-near-zero →
    * signed-zero canonicalization (`+ 0.0`). Scale: one bar_ts index
    * aggregate + equi-join (dense per timestamp), then the standard
    * per-symbol window exchange; all frames bounded at 20 rows. */
  def rollingCorr(bars: DataFrame, n: Int = 20): DataFrame =
    rollingCorrCore(n)(withMarketIndex(bars), w, rn, Nil)
      .orderBy(col("symbol"), col("bar_ts"))

  /** The per-bar_ts equal-share index join shared by [[rollingCorr]]
    * and its segmented variant. */
  private[operators] def withMarketIndex(bars: DataFrame): DataFrame =
    bars.join(
      bars.groupBy(col("bar_ts"))
        .agg(sum(col("close").cast("decimal(9,2)")).cast("decimal(12,2)").as("idx")),
      Seq("bar_ts"))

  /** [[rollingCorr]]'s expression body — the [[aroonCore]]
    * parameterization contract (input frame must carry `idx`).
    * Dependency depth: n−1 preceding rows. */
  private[operators] def rollingCorrCore(n: Int)(df: DataFrame,
      spec: org.apache.spark.sql.expressions.WindowSpec,
      rnc: Column, keep: Seq[Column]): DataFrame = {
    val fr = spec.rowsBetween(-(n - 1), 0)
    val nD = col("nw").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val denx = nD * col("sx2").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val deny = nD * col("sy2").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    df.select(Seq(col("symbol"), col("bar_ts"), col("close"), rnc.as("rn"),
        col("close").cast("decimal(9,2)").as("x"), col("idx").as("y")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"), col("rn"),
        count(lit(1)).over(fr).as("nw"),
        sum(col("x")).over(fr).as("sx"), sum(col("y")).over(fr).as("sy"),
        sum(col("x") * col("y")).over(fr).as("sxy"),
        sum(col("x") * col("x")).over(fr).as("sx2"),
        sum(col("y") * col("y")).over(fr).as("sy2")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"),
        when(col("rn") >= n && denx > 0 && deny > 0,
          round(num / sqrt(denx * deny) + lit(5e-9), 4) + lit(0.0))
          .as("mkt_corr")) ++ keep: _*)
  }

  /** Aroon(25): % of the 25-bar window since the rolling high/low.
    * `aroon_up = 100·(25 − bars_since_high)/25`, most-recent bar wins
    * extremum ties (the conventional definition). Values are exact
    * multiples of 4 — no float drift. */
  def aroon(bars: DataFrame, n: Int = 25): DataFrame =
    aroonCore(n)(bars, w, rn, Nil).orderBy(col("symbol"), col("bar_ts"))

  /** [[aroon]]'s expression body — parameterized by (window spec, row
    * number, passthrough cols) per the [[Indicators.rsiCore]] contract so
    * `SegmentedWindows.rollingSegmented` can run it against bounded
    * (symbol, chunk) partitions. The row number MUST be the exact global
    * per-symbol index (it is, in both modes) — it enters the encoded
    * extremum key, so positions stay correct across chunk boundaries.
    * Dependency depth: n−1 preceding rows. */
  private[operators] def aroonCore(n: Int)(df: DataFrame,
      spec: org.apache.spark.sql.expressions.WindowSpec,
      rnc: Column, keep: Seq[Column]): DataFrame = {
    val fr = spec.rowsBetween(-(n - 1), 0)
    val hiKey = cents(col("high")) * PosBase + col("rn")
    val loKey = (lit(CentCap) - cents(col("low"))) * PosBase + col("rn")
    df.select(Seq(col("symbol"), col("bar_ts"), col("close"), rnc.as("rn"),
        col("high"), col("low")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"), col("rn"),
        (max(hiKey).over(fr) % PosBase).as("hi_pos"),
        (max(loKey).over(fr) % PosBase).as("lo_pos")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"),
        when(col("rn") >= n,
          round(lit(100.0) * (lit(n) - (col("rn") - col("hi_pos"))) / n + lit(5e-9), 4))
          .as("aroon_up"),
        when(col("rn") >= n,
          round(lit(100.0) * (lit(n) - (col("rn") - col("lo_pos"))) / n + lit(5e-9), 4))
          .as("aroon_down"),
        when(col("rn") >= n,
          round(lit(100.0) * (col("hi_pos") - col("lo_pos")) / n + lit(5e-9), 4) + lit(0.0))
          .as("aroon_osc")) ++ keep: _*)
  }

  /** CCI(20) over the typical price: `(tp − SMA(tp)) / (0.015·MAD)`.
    * tp is carried as the exact DECIMAL `tp3 = h+l+c` (the /3 folds into
    * the divisors, the MFI device); the frame mean divides once at the
    * edge and the mean-absolute-deviation folds the frame list in frame
    * order on both engines. */
  def cci(bars: DataFrame, n: Int = 20): DataFrame =
    cciCore(n)(bars, w, rn, Nil).orderBy(col("symbol"), col("bar_ts"))

  /** [[cci]]'s expression body — see [[aroonCore]] for the
    * parameterization contract. Dependency depth: n−1 preceding rows. */
  private[operators] def cciCore(n: Int)(df: DataFrame,
      spec: org.apache.spark.sql.expressions.WindowSpec,
      rnc: Column, keep: Seq[Column]): DataFrame = {
    val fr = spec.rowsBetween(-(n - 1), 0)
    val tp3 = (col("high") + col("low") + col("close")).cast("decimal(18,6)")
    df.select(Seq(col("symbol"), col("bar_ts"), col("close"), rnc.as("rn"),
        tp3.as("tp3")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"), col("rn"), col("tp3"),
        (sum(col("tp3")).over(fr).cast("double") / lit(3.0 * n)).as("sma_tp"),
        collect_list(col("tp3").cast("double")).over(fr).as("tp_lst")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"), col("rn"),
        col("tp3"), col("sma_tp"),
        (aggregate(col("tp_lst"), lit(0.0),
          (acc, x) => acc + abs(x / lit(3.0) - col("sma_tp"))) / n).as("mad")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"),
        when(col("rn") >= n && col("mad") =!= 0.0,
          round((col("tp3").cast("double") / lit(3.0) - col("sma_tp"))
            / (lit(0.015) * col("mad")) + lit(5e-9), 4) + lit(0.0))
          .as("cci")) ++ keep: _*)
  }

  /** Chaikin Money Flow(21): Σ(money-flow volume)/Σ(volume) over 21 bars.
    * The money-flow multiplier `((c−l)−(h−c))/(h−l)` is zero on flat bars
    * (h = l), per the standard convention. */
  def cmf(bars: DataFrame, n: Int = 21): DataFrame =
    cmfCore(n)(bars, w, rn, Nil).orderBy(col("symbol"), col("bar_ts"))

  /** [[cmf]]'s expression body — see [[aroonCore]] for the
    * parameterization contract. Dependency depth: n−1 preceding rows. */
  private[operators] def cmfCore(n: Int)(df: DataFrame,
      spec: org.apache.spark.sql.expressions.WindowSpec,
      rnc: Column, keep: Seq[Column]): DataFrame = {
    val fr = spec.rowsBetween(-(n - 1), 0)
    val mfm = when(col("high") > col("low"),
      ((col("close") - col("low")) - (col("high") - col("close")))
        / (col("high") - col("low"))).otherwise(lit(0.0))
    df.select(Seq(col("symbol"), col("bar_ts"), col("close"), rnc.as("rn"),
        (mfm * col("volume").cast("double")).as("mfv"), col("volume")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"),
        when(col("rn") >= n,
          round(sum(col("mfv")).over(fr)
            / sum(col("volume")).over(fr).cast("double") + lit(5e-9), 4) + lit(0.0))
          .as("cmf")) ++ keep: _*)
  }

  /** Ultimate Oscillator(7,14,28): weighted blend of buying-pressure /
    * true-range ratios at three horizons. The first bar has no previous
    * close, so BP/TR are null there and the gate opens once 28 non-null
    * rows exist (rn ≥ 29), mirroring the ATR warmup convention. */
  def ultimateOsc(bars: DataFrame): DataFrame =
    uoCore(bars, w, rn, Nil).orderBy(col("symbol"), col("bar_ts"))

  /** [[ultimateOsc]]'s expression body — see [[aroonCore]] for the
    * parameterization contract. Dependency depth: 28 preceding rows
    * (a 28-row TR frame whose oldest TR lags one more close). */
  private[operators] def uoCore(df: DataFrame,
      spec: org.apache.spark.sql.expressions.WindowSpec,
      rnc: Column, keep: Seq[Column]): DataFrame = {
    val prevClose = lag(col("close"), 1).over(spec)
    val bp = when(prevClose.isNull, lit(null))
      .otherwise(col("close") - least(col("low"), prevClose))
    val tr = when(prevClose.isNull, lit(null))
      .otherwise(greatest(col("high"), prevClose) - least(col("low"), prevClose))
    def ratio(n: Int): Column = {
      val fr = spec.rowsBetween(-(n - 1), 0)
      val st = sum(col("tr")).over(fr)
      when(st > 0, sum(col("bp")).over(fr) / st)
    }
    df.select(Seq(col("symbol"), col("bar_ts"), col("close"), rnc.as("rn"),
        bp.as("bp"), tr.as("tr")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"), col("rn"),
        ratio(7).as("a7"), ratio(14).as("a14"), ratio(28).as("a28")) ++ keep: _*)
      .select(Seq(col("symbol"), col("bar_ts"), col("close"),
        when(col("rn") >= 29,
          round(lit(100.0) * (lit(4.0) * col("a7") + lit(2.0) * col("a14") + col("a28"))
            / lit(7.0) + lit(5e-9), 4))
          .as("uo")) ++ keep: _*)
  }

  /** Keltner channels: EMA20 of the typical price ± 2·ATR(10). One
    * [[Ema.fold]] per symbol smooths the typical price and takes the true
    * range against the close it carries from the previous bar; the ATR
    * band is then a bounded 10-row frame over the fold's output. */
  def keltner(bars: DataFrame): DataFrame = {
    val a = 2.0 / 21.0; val b = 1.0 - a
    val scanned = Ema.fold(
        bars.withColumn("tp", (col("high") + col("low") + col("close")) / lit(3.0)),
        Seq("tp", "high", "low", "close"), Seq("ema", "tr0", "close"))(
      // state: EMA, true range (0.0 on the first bar, re-nulled below), close
      x => Array(x(0), 0.0, x(3)),
      (e, x) => Array(x(0) * a + e(0) * b, trueRange(x(1), x(2), e(2)), x(3)))
    val atrSide = scanned
      .select(col("symbol"), col("bar_ts"), col("close"), col("ema"),
        rn.as("rn"), col("tr0"))
      .select(col("symbol"), col("bar_ts"), col("close"), col("ema"),
        col("rn"), when(col("rn") >= 2, col("tr0")).as("tr"))
      .select(col("symbol"), col("bar_ts"), col("close"), col("ema"), col("rn"),
        when(col("rn") >= 11, avg(col("tr")).over(wr(10))).as("atr10"))
    atrSide
      .select(col("symbol"), col("bar_ts"), col("close"),
        round(col("ema") + lit(5e-9), 4).as("kc_mid"),
        when(col("rn") >= 11, round(col("ema") + lit(2.0) * col("atr10") + lit(5e-9), 4)).as("kc_upper"),
        when(col("rn") >= 11, round(col("ema") - lit(2.0) * col("atr10") + lit(5e-9), 4)).as("kc_lower"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Heikin-Ashi candles. `ha_close = (o+h+l+c)/4` is per-row; the
    * recursive `ha_open_t = (ha_open_{t-1} + ha_close_{t-1})/2` is an
    * EMA with α = β = 0.5 over the PREVIOUS bar's ha_close, seeded
    * `(o_1+c_1)/2` — one [[Ema.fold]] per symbol that carries ha_close
    * (and high/low for the candle bounds) to the next bar, so no lag
    * window and no join back. */
  def heikinAshi(bars: DataFrame): DataFrame =
    Ema.fold(
        bars.withColumn("ho", (col("open") + col("close")) / lit(2.0))
          .withColumn("hc", (col("open") + col("high") + col("low") + col("close")) / lit(4.0)),
        Seq("ho", "hc", "high", "low"), Seq("ha_open_raw", "ha_close_raw", "high", "low"))(
      // state: ha_open, ha_close, high, low
      x => x,
      (e, x) => Array(e(1) * 0.5 + e(0) * 0.5, x(1), x(2), x(3)))
      .select(col("symbol"), col("bar_ts"),
        round(col("ha_open_raw") + lit(5e-9), 4).as("ha_open"),
        round(greatest(col("high"), col("ha_open_raw"), col("ha_close_raw")) + lit(5e-9), 4).as("ha_high"),
        round(least(col("low"), col("ha_open_raw"), col("ha_close_raw")) + lit(5e-9), 4).as("ha_low"),
        round(col("ha_close_raw") + lit(5e-9), 4).as("ha_close"))
      .orderBy(col("symbol"), col("bar_ts"))

  /** ADX(14) — Wilder's directional movement system as one [[Ema.fold]]
    * per symbol: each step takes TR / +DM / −DM against the previous
    * bar it carries, smooths them (Wilder's `rma(α=1/n)` IS
    * `ewm(adjust=False)` with that α, seeded at the first value like
    * every EMA here), divides the directional indexes pointwise and
    * smooths DX into ADX. Zero-denominator rule: DI is 0 when smoothed
    * TR is 0; DX is 0 when DI⁺+DI⁻ is 0. */
  def adx(bars: DataFrame, n: Int = 14): DataFrame = {
    val a = 1.0 / n; val b = 1.0 - a
    // DI+, DI−, DX from the smoothed TR, +DM, −DM
    val di: (Double, Double, Double) => Array[Double] = (str, spdm, smdm) => {
      val dip = if (str > 0.0) 100.0 * spdm / str else 0.0
      val dim = if (str > 0.0) 100.0 * smdm / str else 0.0
      val s = dip + dim
      Array(dip, dim, if (s > 0.0) 100.0 * math.abs(dip - dim) / s else 0.0)
    }
    Ema.fold(bars, Seq("high", "low", "close"), Seq("di_plus", "di_minus", "dx", "adx"))(
      // state: DI+, DI−, DX, ADX | smoothed TR, +DM, −DM | high, low, close
      x => {
        val d = di(x(0) - x(1), 0.0, 0.0)
        Array(d(0), d(1), d(2), d(2), x(0) - x(1), 0.0, 0.0, x(0), x(1), x(2))
      },
      (e, x) => {
        val up = x(0) - e(7); val down = e(8) - x(1)
        val str = trueRange(x(0), x(1), e(9)) * a + e(4) * b
        val spdm = (if (up > down && up > 0.0) up else 0.0) * a + e(5) * b
        val smdm = (if (down > up && down > 0.0) down else 0.0) * a + e(6) * b
        val d = di(str, spdm, smdm)
        Array(d(0), d(1), d(2), d(2) * a + e(3) * b, str, spdm, smdm, x(0), x(1), x(2))
      })
      .select(col("symbol"), col("bar_ts"),
        round(col("di_plus") + lit(5e-9), 4).as("di_plus"),
        round(col("di_minus") + lit(5e-9), 4).as("di_minus"),
        round(col("dx") + lit(5e-9), 4).as("dx"),
        round(col("adx") + lit(5e-9), 4).as("adx"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** TRIX(15) — 1-bar rate of change of a TRIPLE-smoothed EMA. One
    * [[Ema.fold]] per symbol runs the three chained recursions in one
    * step and carries the previous triple EMA for the ROC. First row is
    * null (no previous triple EMA). */
  def trix(bars: DataFrame, span: Int = 15): DataFrame = {
    val a = 2.0 / (span + 1); val b = 1.0 - a
    Ema.fold(bars, Seq("close"), Seq("ema", "p_ema"))(
      // state: EMA3, previous EMA3 (NaN on the first bar) | EMA1, EMA2
      x => Array(x(0), Double.NaN, x(0), x(0)),
      (e, x) => {
        val e1 = x(0) * a + e(2) * b
        val e2 = e1 * a + e(3) * b
        Array(e2 * a + e(0) * b, e(0), e1, e2)
      })
      .select(col("symbol"), col("bar_ts"),
        round(col("ema") + lit(5e-9), 4).as("ema3"),
        when(!isnan(col("p_ema")),
          round(lit(100.0) * (col("ema") - col("p_ema")) / col("p_ema")
            + lit(5e-9), 4)).as("trix"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Chaikin Accumulation/Distribution line + Chaikin oscillator. The
    * A/D line is a RUNNING sum of the money-flow volume — summed as
    * 6dp-rounded DECIMAL so the accumulation is order-independent and
    * bit-equal across engines (a running double sum would expose each
    * engine's window-aggregation association; DuckDB's segment trees
    * re-associate). The oscillator is EMA3 − EMA10 of the line, both
    * recursions in one [[Ema.fold]] per symbol that also carries the
    * 4dp line. Flat bars (high = low) contribute zero flow. */
  def adLine(bars: DataFrame): DataFrame = {
    val mfm = when(col("high") === col("low"), lit(0.0))
      .otherwise(((col("close") - col("low")) - (col("high") - col("close")))
        / (col("high") - col("low")))
    val adSide = bars
      .select(col("symbol"), col("bar_ts"),
        round(mfm * col("volume") + lit(5e-9), 6).cast("decimal(28,6)")
          .as("mfv6"))
      .select(col("symbol"), col("bar_ts"),
        sum(col("mfv6")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("ad_exact"))
    val a3 = 2.0 / 4.0; val b3 = 1.0 - a3
    val a10 = 2.0 / 11.0; val b10 = 1.0 - a10
    Ema.fold(
        adSide.select(col("symbol"), col("bar_ts"),
          col("ad_exact").cast("double").as("x"),
          round(col("ad_exact"), 4).cast("double").as("ad")),
        Seq("x", "ad"), Seq("e3", "e10", "ad"))(
      // state: EMA3, EMA10, the 4dp line
      x => Array(x(0), x(0), x(1)),
      (e, x) => Array(x(0) * a3 + e(0) * b3, x(0) * a10 + e(1) * b10, x(1)))
      .select(col("symbol"), col("bar_ts"), col("ad"),
        round(col("e3") - col("e10") + lit(5e-9), 4).as("chaikin_osc"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Ichimoku cloud — five series of bounded-window midpoints and
    * shifts: tenkan (9-bar midpoint), kijun (26), senkou A ((tenkan +
    * kijun)/2 plotted 26 bars ahead ⇒ a 26-lag of the midpoint), senkou
    * B (52-bar midpoint, same shift), chikou (close plotted 26 back ⇒ a
    * 26-lead). Pure rolling max/min + lag/lead — exact doubles, no
    * sums; leading rows are null until their window fills, exactly like
    * the SMA family. */
  def ichimoku(bars: DataFrame): DataFrame = {
    def mid(n: Int): Column =
      when(rn >= n, (max(col("high")).over(wr(n)) +
        min(col("low")).over(wr(n))) / lit(2.0))
    bars
      .select(col("symbol"), col("bar_ts"), col("close"), rn.as("rn"),
        mid(9).as("tenkan"), mid(26).as("kijun"), mid(52).as("sb_raw"))
      .select(col("symbol"), col("bar_ts"),
        round(col("tenkan") + lit(5e-9), 4).as("tenkan"),
        round(col("kijun") + lit(5e-9), 4).as("kijun"),
        round(lag((col("tenkan") + col("kijun")) / lit(2.0), 26).over(w)
          + lit(5e-9), 4).as("senkou_a"),
        round(lag(col("sb_raw"), 26).over(w) + lit(5e-9), 4).as("senkou_b"),
        round(lead(col("close"), 26).over(w) + lit(5e-9), 4).as("chikou"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Roll (1984) effective-spread estimator per symbol:
    * `spread = 2·√(−cov(Δp_t, Δp_{t−1}))` — bid-ask bounce makes
    * consecutive price changes negatively autocorrelated, and the
    * negative first-order autocovariance recovers the spread. The
    * covariance runs on the exact-DECIMAL moment device over INTEGER
    * cent deltas (Δ cents and its lag are exact; Σd, Σd·d₋₁ are exact
    * decimal sums — order-free across any partitioning), with the
    * sample-covariance division and √ as the only double ops (both
    * IEEE-exact given identical operands). `cov ≥ 0` (no detectable
    * bounce) reports a NULL spread + flag, the standard convention.
    * One map-side partial agg per symbol — no window wider than the
    * 1-row lag. */
  def rollSpread(bars: DataFrame): DataFrame = {
    val d = (cents(col("close")) - cents(lag(col("close"), 1).over(w)))
      .as("d")
    val paired = bars
      .select(col("symbol"), col("bar_ts"), d)
      .select(col("symbol"), col("d"),
        lag(col("d"), 1).over(w).as("dp"))
      .filter(col("d").isNotNull && col("dp").isNotNull)
    val st = paired.groupBy(col("symbol")).agg(
      count(lit(1)).as("n"),
      sum(col("d").cast("decimal(38,0)")).as("sd"),
      sum(col("dp").cast("decimal(38,0)")).as("sdp"),
      sum((col("d") * col("dp")).cast("decimal(38,0)")).as("sddp"))
    val nD = col("n").cast("double")
    val cov = (nD * col("sddp").cast("double")
      - col("sd").cast("double") * col("sdp").cast("double")) /
      (nD * (nD - lit(1.0)))
    st.filter(col("n") >= 2)
      .select(col("symbol"), col("n"),
        round(cov / lit(10000.0) + lit(5e-9), 4).as("autocov"),
        when(cov < 0,
          round(lit(2.0) * sqrt(-cov) / lit(100.0) + lit(5e-9), 4))
          .as("roll_spread"),
        (cov >= 0).as("no_bounce"))
      .orderBy(col("symbol"))
  }

  /** Winsorized per-symbol price stats via a BOUNDED-DOMAIN exact
    * quantile histogram — a different exact-quantile device from
    * q_quantiles' dyadic interpolation: prices are 2-decimal, so the
    * per-(symbol, cent) count histogram is bounded by the PRICE DOMAIN
    * (symbols × price range), not the row count — at 100 TB the
    * histogram is still ~10⁵ rows of metadata after one map-side
    * partial agg, and everything downstream (cumulative ranks,
    * nearest-rank p05/p95, clamped sums) is histogram arithmetic; the
    * raw rows are touched exactly once. Nearest-rank quantiles
    * (`⌈n/20⌉` / `n − n div 20` — all-integer, no interpolation, no
    * cross-engine float risk); the winsorized mean folds
    * `Σ count·clamp(cent)` in exact integers with one double division
    * at the edge. */
  def winsorize(bars: DataFrame): DataFrame = {
    val hist = bars.groupBy(col("symbol"), cents(col("close")).as("cent"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col("symbol")).orderBy(col("cent"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = hist.groupBy(col("symbol")).agg(sum(col("cnt")).as("n"))
    val cum = hist.join(broadcast(totals), Seq("symbol"))
      .withColumn("cum", sum(col("cnt")).over(wc))
    val q = cum.groupBy(col("symbol"), col("n")).agg(
      min(when(col("cum") >= expr("(n + 19) div 20"), col("cent"))).as("lo"),
      min(when(col("cum") >= expr("n - n div 20"), col("cent"))).as("hi"))
    hist.join(broadcast(q), Seq("symbol"))
      .withColumn("cl",
        least(greatest(col("cent"), col("lo")), col("hi")).cast("decimal(18,0)"))
      .groupBy(col("symbol"), col("n"), col("lo"), col("hi"))
      .agg(sum(col("cnt").cast("decimal(18,0)") * col("cl")).as("sum_cl"),
        sum(when(col("cent") < col("lo"), col("cnt")).otherwise(0L)).as("n_low"),
        sum(when(col("cent") > col("hi"), col("cnt")).otherwise(0L)).as("n_high"))
      .select(col("symbol"), col("n"),
        (col("lo").cast("double") / lit(100.0)).as("p05"),
        (col("hi").cast("double") / lit(100.0)).as("p95"),
        col("n_low"), col("n_high"),
        round(col("sum_cl").cast("double") / (col("n") * lit(100.0))
          + lit(5e-9), 4).as("winsor_mean"))
      .orderBy(col("symbol"))
  }

  /** EWMA control chart (Roberts 1959, steady-state limits): the
    * process-monitoring view of the EMA — smoothed close vs
    * `μ ± L·σ·√(λ/(2−λ))` control bands from the per-symbol exact
    * DECIMAL moments (the q_zscore_anomaly stats device, broadcast).
    * The smoothing is one [[Ema.fold]] per symbol that carries close
    * through, so the EMA side needs no join back to the bars.
    * Steady-state (large-t) limits keep the width constant — the
    * time-varying `(1−λ)^{2t}` factor needs `pow`, whose last-ulp
    * differs between engines (SURVEY §5); √ and / are IEEE-exact. */
  def ewmaChart(bars: DataFrame, lambda: Double = 0.2,
      sigmas: Double = 3.0): DataFrame = {
    val b = 1.0 - lambda
    val scanned = Ema.fold(bars, Seq("close"), Seq("ewma", "close"))(
      x => Array(x(0), x(0)),
      (e, x) => Array(x(0) * lambda + e(0) * b, x(0)))
    val x = col("close").cast("decimal(9,2)")
    // moments from the bars themselves (aggregating the fold output
    // would wait on the per-symbol fold for no reason)
    val stats = bars.groupBy(col("symbol").as("s_symbol"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sx2"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val varr = (nD * col("sx2").cast("double")
      - col("sx").cast("double") * col("sx").cast("double")) / (nD * (nD - lit(1.0)))
    val width = lit(sigmas) * sqrt(varr) *
      sqrt(lit(lambda) / (lit(2.0) - lit(lambda)))
    scanned.join(broadcast(stats), col("symbol") === col("s_symbol"))
      .filter(col("n") >= 2 && varr > 0)
      .select(col("symbol"), col("bar_ts"), col("close"),
        round(col("ewma") + lit(5e-9), 4).as("ewma"),
        round(mean + lit(5e-9), 4).as("center"),
        round(mean + width + lit(5e-9), 4).as("ucl"),
        round(mean - width + lit(5e-9), 4).as("lcl"),
        // flag on the 4dp-rounded-with-nudge values, the compare the
        // oracle makes: the flag agrees with the printed ewma/ucl/lcl
        // cells, and a last-ulp difference in either engine's band
        // arithmetic cannot flip it at the edge
        (round(col("ewma") + lit(5e-9), 4) > round(mean + width + lit(5e-9), 4) ||
          round(col("ewma") + lit(5e-9), 4) < round(mean - width + lit(5e-9), 4))
          .as("out_of_control"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Holt double-exponential (level + trend) smoothing per symbol —
    * the first FORECASTING surface: level and trend each read the
    * OTHER's previous value (a coupled 2-state recursion), folded once
    * per symbol by [[Ema.fold]] with the oracle's exact float ops.
    *
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},  l₀ = x₀, b₀ = 0
    *
    * `forecast` is the one-step-ahead prediction l + b. */
  def holt(bars: DataFrame, alpha: Double = 0.3, beta: Double = 0.2): DataFrame = {
    val a = alpha; val bt = beta
    Ema.fold(bars, Seq("close"), Seq("level", "trend"))(
        x => Array(x(0), 0.0),
        (e, x) => {
          val l1 = a * x(0) + (1 - a) * (e(0) + e(1))
          val b1 = bt * (l1 - e(0)) + (1 - bt) * e(1)
          Array(l1, b1)
        })
      .select(col("symbol"), col("bar_ts"),
        round(col("level") + lit(5e-9), 4).as("level"),
        round(col("trend") + lit(5e-9), 4).as("trend"),
        round(col("level") + col("trend") + lit(5e-9), 4).as("forecast"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** CUSUM drift detector (Page 1954) per symbol over close deviations
    * from the per-symbol mean. The textbook recursion
    * `S⁺_t = max(0, S⁺_{t-1} + d_t)` is NOT a window aggregate — but it
    * has a closed form over prefix sums: with `P_t = Σ_{i≤t} d_i`,
    *
    *   S⁺_t = P_t − min(0, min_{j≤t} P_j)
    *   S⁻_t = max(0, max_{j≤t} P_j) − P_t
    *
    * i.e. BOTH one-sided CUSUMs fall out of one running sum plus its
    * running min/max — three running aggregates over one (symbol) window
    * (and all three are order-free-mergeable, so the running-offset
    * segmented device applies verbatim; see
    * [[SegmentedWindows.cusumSegmented]]).
    *
    * Exactness: the deviation is carried as the INTEGER `n·cents − Σcents`
    * (mean-centering cross-multiplied by n — no division, no float sum),
    * so prefix sums, minima and the alarm comparisons are exact DECIMAL
    * integer math in both engines; one double division at the output
    * edge normalizes back to price units. Alarm fires when the CUSUM
    * exceeds 5% of the mean price: `S±/(100n) > 0.05·Σc/(100n)` ⟺
    * `20·S± > Σc` — all-integer, no boundary rounding. */
  def cusum(bars: DataFrame): DataFrame = {
    val c = cents(col("close"))
    val st = bars.groupBy(col("symbol")).agg(
      count(lit(1)).as("n"),
      sum(c.cast("decimal(38,0)")).as("sc"))
    val wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    val zero = lit(0).cast("decimal(38,0)")
    val joined = bars.join(broadcast(st), Seq("symbol"))
      .select(col("symbol"), col("bar_ts"), col("close"), col("n"), col("sc"),
        (col("n").cast("decimal(19,0)") * c.cast("decimal(18,0)") - col("sc"))
          .cast("decimal(38,0)").as("dev"))
    val p = joined.withColumn("pref", sum(col("dev")).over(wrun))
    val s = p
      .withColumn("sp", col("pref") - least(zero, min(col("pref")).over(wrun)))
      .withColumn("sn", greatest(zero, max(col("pref")).over(wrun)) - col("pref"))
    s.select(col("symbol"), col("bar_ts"), col("close"),
        round(col("sp").cast("double") / (col("n") * lit(100.0)) + lit(5e-9), 4)
          .as("cusum_pos"),
        round(col("sn").cast("double") / (col("n") * lit(100.0)) + lit(5e-9), 4)
          .as("cusum_neg"),
        (lit(20).cast("decimal(2,0)") * col("sp") > col("sc")).as("alarm_pos"),
        (lit(20).cast("decimal(2,0)") * col("sn") > col("sc")).as("alarm_neg"))
      .orderBy(col("symbol"), col("bar_ts"))
  }
}
