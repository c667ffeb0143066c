package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Technical-indicator suite over per-symbol OHLCV bars.
  *
  * Re-expresses the pandas indicator math of the reference dashboard
  * (reference app/dashboard.py:84-145 `calculate_technical_indicators`,
  * :370-414 volume/VWAP, :416-456 range box & heatmap, :496-535 momentum,
  * :623-667 summary/latest metrics) as Spark window functions.
  *
  * Semantics notes (declared, oracle-checked):
  *  - pandas `rolling(n)` yields null until n observations exist; we gate
  *    every rolling value with `row_number >= n` instead of back-filling.
  *  - all derived doubles are rounded to 4dp at the output edge only.
  *  - every division is explicitly guarded (no engine-specific x/0).
  *
  * Scale notes: the rolling indicators are windows over
  * `PARTITION BY symbol ORDER BY bar_ts` with output ordered by
  * (symbol, bar_ts), so one range exchange on symbol and one sort
  * ([[bySymbol]]) feed both their windows and their output order; frames
  * are row-bounded (no unbounded buffering except running sums), and
  * everything stays inside whole-stage codegen (no UDFs). One window
  * task per symbol is the scale unit, as for [[Ema.fold]]: a symbol's
  * 5-minute series grows with wall-clock time, not tick volume (at most
  * 105,120 bars a year; 8,640 in the reference's 30-day bar retention).
  */
object Indicators {

  private val w = Window.partitionBy(col("symbol")).orderBy(col("bar_ts"))

  /** The per-symbol series layout: the bars through ONE range(symbol)
    * exchange and ONE sort by (symbol, bar_ts). Range partitioning on
    * symbol satisfies a `partitionBy(symbol)` window's clustering and,
    * symbol being the prefix of (symbol, bar_ts), that sort's global
    * order; the sort in turn orders every `orderBy(bar_ts)` window and
    * the output `orderBy(symbol, bar_ts)`, which Spark then drops as
    * already satisfied. Rule: call it at the head of a function whose
    * EVERY window is `partitionBy(symbol).orderBy(bar_ts)` and whose
    * output is `orderBy(symbol, bar_ts)`, with no join between the two
    * (a join discards the sort). The function then plans 2 exchanges
    * (bars aggregate, this) instead of 3 (plus a hash(symbol) window
    * exchange and the output's range exchange), and its one sort is the
    * one its windows had. Not for `Bars.ohlcv`: aggregate panels and
    * per-batch streaming bars have no window to feed. */
  private[operators] def bySymbol(bars: DataFrame): DataFrame =
    bars.repartitionByRange(col("symbol")).orderBy(col("symbol"), col("bar_ts"))

  private val wDate = Window.partitionBy(col("symbol"), col("bar_date")).orderBy(col("bar_ts"))

  /** Per-date rolling-5 moving average + per-date cumulative average of
    * close (reference src/preprocessing/data_preprocessor.py:63-70;
    * rolling uses min_periods=1 so no warmup nulls). */
  def preprocess(bars: DataFrame): DataFrame = {
    val w5 = wDate.rowsBetween(-4, 0)
    val wc = wDate.rowsBetween(Window.unboundedPreceding, 0)
    def frameAvg(w: org.apache.spark.sql.expressions.WindowSpec): Column =
      sum(col("close").cast("decimal(18,6)")).over(w).cast("double") /
        count(col("close")).over(w)
    bars.withColumn("bar_date", to_date(col("bar_ts")))
      .select(col("symbol"), col("bar_ts"), col("bar_date"), col("close"),
        r4(frameAvg(w5)).as("mavg5"),
        r4(frameAvg(wc)).as("cumavg"))
      .orderBy(col("symbol"), col("bar_ts"))
  }
  private def wr(n: Int) = w.rowsBetween(-(n - 1), 0)
  private val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
  private val rn = row_number().over(w)

  private def gated(n: Int)(c: Column): Column = when(rn >= n, c)

  /** Exact-decimal mean over a full n-row frame. Prices are 2-decimal, so
    * double averages with denominators like 200 land exactly on round-4
    * midpoints and the engines' different summation orders (linear vs
    * segment tree) flip the rounding; summing in DECIMAL(18,6) makes the
    * pre-division value bit-exact on both sides (SURVEY.md §5). */
  private def davg(c: Column, n: Int): Column =
    sum(c.cast("decimal(18,6)")).over(wr(n)).cast("double") / n

  /** SMA 20/50/200 (reference app/dashboard.py:98,104-105) in O(1) per
    * row: each n-row DECIMAL(18,6) sum is the running DECIMAL prefix sum
    * minus its own `lag(·, n)` (0 before row n), an exact subtraction
    * with the same value, hence the same double, as [[davg]]'s frame sum. */
  def sma(bars: DataFrame): DataFrame = {
    val pre = col("pre")
    def mean(n: Int): Column =
      gated(n)(r4((pre - coalesce(lag(pre, n).over(w), lit(0))).cast("double") / n))
    bySymbol(bars)
      .select(col("symbol"), col("bar_ts"), col("close"),
        sum(col("close").cast("decimal(18,6)")).over(wCum).as("pre"))
      .select(col("symbol"), col("bar_ts"), col("close"),
        mean(20).as("sma20"), mean(50).as("sma50"), mean(200).as("sma200"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Bollinger bands: SMA20 ± 2 × sample stddev (app/dashboard.py:97-101). */
  def bollinger(bars: DataFrame): DataFrame = {
    val sma20 = davg(col("close"), 20)
    val sd = stddev_samp(col("close")).over(wr(20))
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"),
        gated(20)(r4(sma20)).as("sma20"),
        gated(20)(r4(sma20 + sd * 2)).as("bb_upper"),
        gated(20)(r4(sma20 - sd * 2)).as("bb_lower"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** RSI(14), simple-moving-average variant (app/dashboard.py:107-112).
    * First delta is treated as zero gain/loss, exactly like
    * `delta.where(delta > 0, 0)` does for the leading NaN in pandas. */
  def rsi(bars: DataFrame): DataFrame = {
    val delta = col("close") - lag(col("close"), 1).over(w)
    val gain = when(delta > 0, delta).otherwise(lit(0.0))
    val loss = when(delta < 0, -delta).otherwise(lit(0.0))
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"),
        gain.as("gain"), loss.as("loss"), rn.as("rn"))
      .select(col("symbol"), col("bar_ts"), col("close"),
        avg(col("gain")).over(wr(14)).as("avg_gain"),
        avg(col("loss")).over(wr(14)).as("avg_loss"), col("rn"))
      .select(col("symbol"), col("bar_ts"), col("close"),
        when(col("rn") < 14, lit(null))
          .when(col("avg_loss") === 0, lit(100.0))
          .otherwise(r4(lit(100) - lit(100) / (lit(1) + col("avg_gain") / col("avg_loss"))))
          .as("rsi"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** ATR(14) over the true range (app/dashboard.py:120-126). The first
    * bar has no previous close, so its TR is null and the 14-bar mean is
    * only emitted once 14 non-null TRs exist (rn >= 15), matching the
    * pandas min_periods gate. */
  def atr(bars: DataFrame): DataFrame = {
    val prevClose = lag(col("close"), 1).over(w)
    val tr = when(prevClose.isNull, lit(null)).otherwise(
      greatest(col("high") - col("low"),
        abs(col("high") - prevClose),
        abs(col("low") - prevClose)))
    bySymbol(bars).select(col("symbol"), col("bar_ts"), tr.as("tr"), rn.as("rn"))
      .select(col("symbol"), col("bar_ts"), r4(col("tr")).as("tr"),
        when(col("rn") >= 15, r4(avg(col("tr")).over(wr(14)))).as("atr"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Stochastic oscillator %K(14) / %D(3) (app/dashboard.py:128-132). */
  def stochastic(bars: DataFrame): DataFrame = {
    val lo14 = min(col("low")).over(wr(14))
    val hi14 = max(col("high")).over(wr(14))
    val k = when(rn < 14, lit(null))
      .when(hi14 === lo14, lit(null))
      .otherwise((col("close") - lo14) / (hi14 - lo14) * 100)
    bySymbol(bars).select(col("symbol"), col("bar_ts"), k.as("k_raw"), rn.as("rn"))
      .select(col("symbol"), col("bar_ts"), r4(col("k_raw")).as("stoch_k"),
        when(col("rn") >= 16 && count(col("k_raw")).over(wr(3)) === 3,
          r4(avg(col("k_raw")).over(wr(3)))).as("stoch_d"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Cumulative VWAP per symbol (app/dashboard.py:377). */
  def vwap(bars: DataFrame): DataFrame =
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"), col("volume"),
        r4(sum(col("close").cast("decimal(18,6)") * col("volume")).over(wCum).cast("double") /
          sum(col("volume")).over(wCum)).as("vwap"))
      .orderBy(col("symbol"), col("bar_ts"))

  /** Rate-of-change(10) and Momentum(10) (app/dashboard.py:503-504). */
  def momentum(bars: DataFrame): DataFrame = {
    val lag10 = lag(col("close"), 10).over(w)
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"),
        when(lag10.isNotNull && lag10 =!= 0,
          r4((col("close") / lag10 - 1) * 100)).as("roc"),
        r4(col("close") - lag10).as("mom"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** On-balance volume: running Σ sign(Δclose)·volume per symbol — the
    * classic volume-flow confirmation for the dashboard's volume pane. */
  def obv(bars: DataFrame): DataFrame = {
    val delta = col("close") - lag(col("close"), 1).over(w)
    val signed = when(delta > 0, col("volume"))
      .when(delta < 0, -col("volume"))
      .otherwise(lit(0L))
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"), col("volume"),
        signed.as("signed_vol"))
      .select(col("symbol"), col("bar_ts"), col("close"), col("volume"),
        sum(col("signed_vol")).over(wCum).cast("long").as("obv"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Williams %R(14): (hi14 − close)/(hi14 − lo14)·(−100), the inverted
    * stochastic companion indicator. */
  def williamsR(bars: DataFrame): DataFrame = {
    val lo14 = min(col("low")).over(wr(14))
    val hi14 = max(col("high")).over(wr(14))
    val r = when(rn < 14, lit(null))
      .when(hi14 === lo14, lit(null))
      .otherwise(r4((hi14 - col("close")) / (hi14 - lo14) * -100))
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"), r.as("williams_r"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Min/avg/max summary of OHLCV per symbol (app/dashboard.py:623-636). */
  def summaryStats(bars: DataFrame): DataFrame = {
    val cols = Seq("open", "high", "low", "close")
    val n = count(lit(1))
    val aggs =
      cols.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"),
          r4(sum(col(c).cast("decimal(18,6)")).cast("double") / n).as(s"avg_$c"),
          max(col(c)).as(s"max_$c"))
      } ++ Seq(min(col("volume")).as("min_volume"),
        r4(sum(col("volume")).cast("double") / n).as("avg_volume"),
        max(col("volume")).as("max_volume"))
    bars.groupBy(col("symbol")).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("symbol"))
  }

  /** Weekly (Sunday-start) bar-range distribution: quartiles + extrema
    * (app/dashboard.py:416-432, `create_daily_range_box`). */
  def weeklyRange(bars: DataFrame): DataFrame = {
    val weekStart = date_sub(to_date(col("bar_ts")), dayofweek(col("bar_ts")) - 1)
    bars.select(col("symbol"), weekStart.as("week_start"),
        (col("high") - col("low")).as("range"))
      .groupBy(col("symbol"), col("week_start"))
      .agg(
        count(lit(1)).as("n_bars"),
        r4(min(col("range"))).as("min_range"),
        r4(expr("percentile(range, array(0.25D, 0.5D, 0.75D))")(0)).as("q1_range"),
        r4(expr("percentile(range, array(0.25D, 0.5D, 0.75D))")(1)).as("med_range"),
        r4(expr("percentile(range, array(0.25D, 0.5D, 0.75D))")(2)).as("q3_range"),
        r4(max(col("range"))).as("max_range"))
      .orderBy(col("symbol"), col("week_start"))
  }

  private val dayName = date_format(col("bar_ts"), "EEEE").as("day_name")

  /** Average/total volume heat-map by day-of-week × hour
    * (app/dashboard.py:434-456). */
  def volumeHeatmap(bars: DataFrame): DataFrame =
    bars.groupBy(dayName, hour(col("bar_ts")).cast("long").as("hour"))
      .agg(r4(sum(col("volume")).cast("double") / count(lit(1))).as("avg_volume"),
        sum(col("volume")).as("total_volume"))
      .orderBy(col("day_name"), col("hour"))

  /** Day-of-week SEASONALITY per symbol — the calendar-effect report a
    * dashboard reads next to the hour heat-map: average close per
    * (symbol, weekday) and its deviation from the symbol's overall
    * mean. ONE bars scan: the per-symbol totals derive from the
    * (symbol, dow) partials (sum of DECIMAL sums stays exact), so the
    * second aggregate runs over dictionary×7 rows, and the totals join
    * back symbol-keyed — both aggregates map-side combinable, output
    * ≤ 7·|symbols| rows. The deviation is two divisions of exact
    * decimals subtracted in one fixed expression (4dp+nudge). */
  def seasonality(bars: DataFrame): DataFrame = {
    val d = bars.groupBy(col("symbol"), dayName)
      .agg(sum(col("close").cast("decimal(18,6)")).as("sd"),
        count(lit(1)).as("nd"))
    val s = d.groupBy(col("symbol"))
      .agg(sum(col("sd")).as("sa"), sum(col("nd")).as("na"))
    d.join(s, Seq("symbol"))
      .select(col("symbol"), col("day_name"), col("nd").as("n_bars"),
        r4(col("sd").cast("double") / col("nd")).as("avg_close"),
        r4(col("sd").cast("double") / col("nd")
          - col("sa").cast("double") / col("na")).as("dow_effect"))
      .orderBy(col("symbol"), col("day_name"))
  }

  /** Volume pivot: one row per day-of-week, one column per hour — the
    * reference dashboard's `pivot_table` heat-map shape as a true pivot
    * (static 0-23 hour list keeps the schema deterministic). */
  def volumePivot(bars: DataFrame): DataFrame = {
    val piv = bars
      .select(dayName, hour(col("bar_ts")).as("hour"), col("volume"))
      .groupBy(col("day_name"))
      .pivot("hour", 0 to 23)
      .agg(sum(col("volume")))
    val renamed = piv.select(col("day_name") +:
      (0 to 23).map(h => coalesce(col(h.toString), lit(0L)).as(f"h$h%02d")): _*)
    renamed.orderBy(col("day_name"))
  }

  /** Latest-bar metrics per symbol: last price, % change, volume vs mean
    * (app/dashboard.py:642-667). */
  def latestMetrics(bars: DataFrame): DataFrame =
    bars.groupBy(col("symbol"))
      .agg(
        max_by(col("close"), col("bar_ts")).as("last_close"),
        max_by(col("open"), col("bar_ts")).as("last_open"),
        max_by(col("volume"), col("bar_ts")).as("last_volume"),
        (sum(col("volume")).cast("double") / count(lit(1))).as("mean_volume"),
        count(lit(1)).as("n_bars"))
      .select(col("symbol"), col("last_close"), col("n_bars"),
        when(col("last_open") =!= 0,
          r4((col("last_close") - col("last_open")) / col("last_open") * 100))
          .as("price_change_pct"),
        col("last_volume"),
        when(col("mean_volume") =!= 0,
          r4((col("last_volume") - col("mean_volume")) / col("mean_volume") * 100))
          .as("volume_change_pct"))
      .orderBy(col("symbol"))

  /** Exact per-symbol volume quantiles (p25/p50/p75, linear
    * interpolation) — the distribution summary behind the dashboard's
    * volume box plots. Exact `percentile` buffers each group's values
    * once (volumes are small longs); the constant-memory sketch path for
    * heavier columns is [[Relational.statsApprox]]. Quantile fractions
    * are dyadic (k/4), so the interpolation weights are exact doubles and
    * both engines' `lo + (hi-lo)·frac` agree bit-for-bit. */
  def volumeQuantiles(bars: DataFrame): DataFrame =
    bars.groupBy(col("symbol"))
      .agg(expr("percentile(volume, array(0.25D, 0.5D, 0.75D))").as("q"),
        count(lit(1)).as("n_bars"),
        min(col("volume")).as("min_volume"), max(col("volume")).as("max_volume"))
      .select(col("symbol"), col("n_bars"), col("min_volume"), col("max_volume"),
        r4(element_at(col("q"), 1)).as("p25"),
        r4(element_at(col("q"), 2)).as("p50"),
        r4(element_at(col("q"), 3)).as("p75"))
      .orderBy(col("symbol"))

  /** Inverse of [[volumePivot]]: unpivot (melt) the wide day×hour matrix
    * back to long (day_name, hour, volume) rows — the wide↔long bridge
    * every reporting layer needs. A narrow per-row explode of the 24
    * hour columns (no shuffle beyond the pivot's own); round-trips the
    * pivot exactly, which the oracle checks end to end. */
  def volumeUnpivot(bars: DataFrame): DataFrame = {
    val hourCols = (0 to 23).map(h => f"h$h%02d")
    volumePivot(bars)
      .unpivot(Array(col("day_name")), hourCols.map(col).toArray, "hour_col", "volume")
      .select(col("day_name"),
        substring(col("hour_col"), 2, 2).cast("int").cast("long").as("hour"),
        col("volume"))
      .orderBy(col("day_name"), col("hour"))
  }

  /** Distribution ranks per symbol ordered by (volume, bar_ts): decile
    * bucket (ntile), percent_rank, cume_dist, and the dense row rank.
    * The (volume, bar_ts) compound order makes every row a unique peer,
    * so percent_rank = (rank−1)/(n−1) and cume_dist = rank/n are exact
    * small-integer ratios — bit-identical across engines with no
    * rounding needed. One hash exchange on symbol for the window: its
    * (volume, bar_ts) order is not the output's, so it is not on the
    * [[bySymbol]] layout. */
  def windowRanks(bars: DataFrame): DataFrame = {
    val wv = Window.partitionBy(col("symbol")).orderBy(col("volume"), col("bar_ts"))
    bars.select(col("symbol"), col("bar_ts"), col("volume"),
        ntile(10).over(wv).cast("long").as("vol_decile"),
        percent_rank().over(wv).as("vol_pct_rank"),
        cume_dist().over(wv).as("vol_cume_dist"),
        row_number().over(wv).cast("long").as("vol_rank"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Pairwise Pearson correlation of close prices across symbols over
    * aligned 5-min bars — the dashboard-style correlation matrix, upper
    * triangle only. The moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate
    * in exact DECIMAL (2-decimal prices ⇒ 4-decimal products, no
    * rounding, engine-order-independent); only the final corr formula
    * runs in double, written in the same association order as the
    * oracle. One shuffle on bar_ts for the self-join + one on the
    * symbol pair; at scale the bar_ts join is dense-per-timestamp
    * (|symbols| rows per key), so partitioning stays balanced. */
  def priceCorr(bars: DataFrame): DataFrame = {
    val a = bars.select(col("symbol").as("sym_a"), col("bar_ts"), col("close").as("ca"))
    val b = bars.select(col("symbol").as("sym_b"), col("bar_ts"), col("close").as("cb"))
    // DECIMAL(9,2): prices are exact 2-decimals, so products carry scale 4
    // and every moment sum's unscaled value stays below 2^53 — the
    // decimal→double cast is then exactly rounded in BOTH engines (a
    // scale-12 sum would round differently: DuckDB converts the hugeint
    // before dividing by 10^scale, Java rounds the true rational once).
    val x = col("ca").cast("decimal(9,2)")
    val y = col("cb").cast("decimal(9,2)")
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val denx = nD * col("sx2").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val deny = nD * col("sy2").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    a.join(b, Seq("bar_ts")).filter(col("sym_a") < col("sym_b"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sx2"), sum(y * y).as("sy2"))
      .select(col("sym_a"), col("sym_b"), col("n"),
        when(denx > 0 && deny > 0,
          r4(num / sqrt(denx * deny))).as("corr"))
      .orderBy(col("sym_a"), col("sym_b"))
  }

  /** Peak-to-trough drawdown per bar: running close-price peak and the
    * percentage fall from it — the risk metric a dashboard plots under
    * the price chart. `peak` is a running max (exact, no float drift);
    * the ratio is computed in one association order mirrored by the
    * oracle and is ≥ 0 by construction (no signed-zero hazard). On the
    * [[bySymbol]] layout like the rest of the rolling indicators. */
  def drawdown(bars: DataFrame): DataFrame = {
    val wPeak = w.rowsBetween(Window.unboundedPreceding, 0)
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"),
        max(col("close")).over(wPeak).as("peak"))
      .select(col("symbol"), col("bar_ts"), col("close"), col("peak"),
        r4((col("peak") - col("close")) / col("peak") * lit(100.0)).as("drawdown_pct"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Tukey-fence volume outliers per symbol: flag bars whose volume
    * falls outside [p25 − 1.5·IQR, p75 + 1.5·IQR]. Dyadic quantile
    * fractions (1/4, 3/4) over integer volumes make the interpolated
    * quantiles — and therefore the fences, multiples of 1/8 — exact
    * doubles in both engines, so the flag is bit-deterministic. The
    * 5-row fence table broadcasts; bars never shuffle for the join. */
  def iqrOutliers(bars: DataFrame): DataFrame = {
    val iqr = col("p75") - col("p25")
    val fences = bars.groupBy(col("symbol"))
      .agg(expr("percentile(volume, array(0.25D, 0.75D))").as("q"))
      .select(col("symbol").as("f_symbol"),
        element_at(col("q"), 1).as("p25"), element_at(col("q"), 2).as("p75"))
      .select(col("f_symbol"),
        (col("p25") - iqr * lit(1.5)).as("lo_fence"),
        (col("p75") + iqr * lit(1.5)).as("hi_fence"))
    bars.join(broadcast(fences), col("symbol") === col("f_symbol"))
      .select(col("symbol"), col("bar_ts"), col("volume"),
        r4(col("lo_fence")).as("lo_fence"),
        r4(col("hi_fence")).as("hi_fence"),
        (col("volume") < col("lo_fence") || col("volume") > col("hi_fence"))
          .as("is_outlier"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Per-symbol z-score anomaly flags on close prices: mean and sample
    * variance come from exact DECIMAL moment sums (the [[priceCorr]]
    * device, so the pre-division values are bit-identical across
    * engines), the z-ratio is one double expression in the oracle's
    * association order, and the |z| > 2 flag compares bit-identical
    * doubles — a deterministic anomaly detector with no tolerance
    * fudge. The 5-row stats table broadcasts; bars never shuffle. */
  def zscoreAnomaly(bars: DataFrame, thresh: Double = 2.0): DataFrame = {
    val x = col("close").cast("decimal(9,2)")
    val stats = bars.groupBy(col("symbol").as("s_symbol"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sx2"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val varr = (nD * col("sx2").cast("double")
      - col("sx").cast("double") * col("sx").cast("double")) / (nD * (nD - lit(1.0)))
    val zRaw = (col("close") - mean) / sqrt(varr)
    bars.join(broadcast(stats), col("symbol") === col("s_symbol"))
      .filter(col("n") >= 2)
      .select(col("symbol"), col("bar_ts"), col("close"),
        when(varr > 0, r4(zRaw)).as("z"),
        (varr > 0 && abs(zRaw) > lit(thresh)).as("is_anomaly"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Daily OHLC rollup with day-over-day return and overnight gap: per
    * (symbol, date) the first bar's open and last bar's close
    * (deterministic `min_by`/`max_by` on the unique bar_ts), intraday
    * return percentage, and the gap from the prior day's close — the
    * end-of-day summary the reference's dashboard derives in pandas.
    * Return/gap ratios are single double expressions mirrored by the
    * oracle; both can be negative-and-near-zero, so the oracle
    * canonicalizes signed zero. Bars aggregate map-side to one row per
    * (symbol, day) before the lag window's tiny exchange. */
  def dailyReturns(bars: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("symbol")).orderBy(col("bar_date"))
    bars.groupBy(col("symbol"), to_date(col("bar_ts")).as("bar_date"))
      .agg(min_by(col("open"), col("bar_ts")).as("day_open"),
        max_by(col("close"), col("bar_ts")).as("day_close"),
        max(col("high")).as("day_high"), min(col("low")).as("day_low"),
        count(lit(1)).as("n_bars"))
      .withColumn("prev_close", lag(col("day_close"), 1).over(wd))
      .select(col("symbol"), col("bar_date"), col("day_open"), col("day_close"),
        col("day_high"), col("day_low"), col("n_bars"),
        // zero-price guards: a degenerate 0.00 day-open/prev-close has
        // no meaningful percentage (and ANSI mode raises on the divide —
        // first seen when a zero tick landed as a day's FIRST bar at
        // 100x bench scale); NULL matches the oracle's CASE guards
        when(col("day_open") =!= 0.0,
          r4((col("day_close") - col("day_open")) / col("day_open") * lit(100.0))).as("intraday_pct"),
        when(col("prev_close").isNotNull && col("prev_close") =!= 0.0,
          r4((col("day_open") - col("prev_close")) / col("prev_close") * lit(100.0))).as("overnight_gap_pct"))
      .orderBy(col("symbol"), col("bar_date"))
  }

  /** Per-symbol beta against a composite market index (the per-bar_ts
    * sum of all symbols' closes — an equal-share price index):
    * beta = cov(close, index) / var(index) over the symbol's bars.
    * Moment sums accumulate in exact DECIMAL exactly like [[priceCorr]]
    * (index capped at DECIMAL(12,2) so every product stays inside
    * precision 38 with scale 4 and unscaled sums < 2^53 — the
    * decimal→double casts are then exactly rounded in both engines);
    * only the final ratio runs in double, in the oracle's association
    * order. Two shuffles: the per-bar_ts index aggregate and the
    * per-symbol moment aggregate; the bar_ts equi-join is
    * dense-per-timestamp so partitioning stays balanced at scale. */
  def marketBeta(bars: DataFrame): DataFrame = {
    val idx = bars.groupBy(col("bar_ts"))
      .agg(sum(col("close").cast("decimal(9,2)")).cast("decimal(12,2)").as("idx"))
    val x = col("close").cast("decimal(9,2)")
    val y = col("idx")
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val den = nD * col("sy2").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    bars.join(idx, Seq("bar_ts"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(y * y).as("sy2"))
      .select(col("symbol"), col("n"),
        when(den > 0, r4(num / den)).as("beta"))
      .orderBy(col("symbol"))
  }

  /** Donchian channels (20-bar): rolling extrema of high/low plus the
    * dyadic midline — max/min carry no float drift and /2 is exact, so
    * every cell is bit-deterministic. Same single symbol exchange. */
  def donchian(bars: DataFrame, n: Int = 20): DataFrame = {
    val upper = max(col("high")).over(wr(n))
    val lower = min(col("low")).over(wr(n))
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"),
        gated(n)(r4(upper)).as("dc_upper"),
        gated(n)(r4(lower)).as("dc_lower"),
        gated(n)(r4((upper + lower) / 2)).as("dc_mid"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Money Flow Index MFI(14) — the volume-weighted RSI analogue. All
    * flow arithmetic runs in exact DECIMAL: tp3 = high+low+close (3×
    * the typical price — the factor cancels in the pos/neg ratio, so
    * dividing by 3 and its repeating-decimal hazard never happens),
    * money flow = tp3·volume, and the 14-bar positive/negative flow
    * sums stay decimal until ONE double division at the edge. A null
    * prior bar contributes no flow. Degenerate windows: neg = 0 with
    * positive flow is maximally positive (100); a fully flat window
    * (pos = neg = 0) is the indeterminate 0/0 and reports the neutral
    * 50 rather than an arbitrary extreme. */
  def mfi(bars: DataFrame, n: Int = 14): DataFrame = {
    val tp3 = (col("high") + col("low") + col("close")).cast("decimal(18,6)")
    val zero = lit(0).cast("decimal(38,6)")
    val base = bySymbol(bars).select(col("symbol"), col("bar_ts"), col("volume"),
      tp3.as("tp3"), lag(tp3, 1).over(w).as("prev_tp3"), rn.as("rn"))
    val mf = (col("tp3") * col("volume")).cast("decimal(38,6)")
    val flows = base.select(col("symbol"), col("bar_ts"), col("rn"),
      when(col("prev_tp3").isNotNull && col("tp3") > col("prev_tp3"), mf)
        .otherwise(zero).as("pos_mf"),
      when(col("prev_tp3").isNotNull && col("tp3") < col("prev_tp3"), mf)
        .otherwise(zero).as("neg_mf"))
    flows.select(col("symbol"), col("bar_ts"),
        sum(col("pos_mf")).over(wr(n)).as("pos"),
        sum(col("neg_mf")).over(wr(n)).as("neg"), col("rn"))
      .select(col("symbol"), col("bar_ts"),
        when(col("rn") < n + 1, lit(null).cast("double"))
          .when(col("neg") === 0 && col("pos") === 0, lit(50.0))
          .when(col("neg") === 0, lit(100.0))
          .otherwise(r4(lit(100.0) - lit(100.0) /
            (lit(1.0) + col("pos").cast("double") / col("neg").cast("double")))).as("mfi"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Candlestick pattern flags: doji, hammer, and bullish/bearish
    * engulfing. Pure comparisons over identical doubles on both engines
    * (body/wick geometry, lagged prior candle), so every boolean is
    * bit-deterministic — no rounding in the predicates themselves. */
  def candlePatterns(bars: DataFrame): DataFrame = {
    val body = abs(col("close") - col("open"))
    val rng = col("high") - col("low")
    val upperWick = col("high") - greatest(col("open"), col("close"))
    val lowerWick = least(col("open"), col("close")) - col("low")
    val prevOpen = lag(col("open"), 1).over(w)
    val prevClose = lag(col("close"), 1).over(w)
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("open"), col("close"),
        r4(body).as("body"),
        (rng > 0 && body * 10 <= rng).as("is_doji"),
        (rng > 0 && lowerWick >= body * 2 && upperWick <= body).as("is_hammer"),
        (prevClose.isNotNull && prevClose < prevOpen && col("close") > col("open") &&
          col("open") <= prevClose && col("close") >= prevOpen).as("bull_engulf"),
        (prevClose.isNotNull && prevClose > prevOpen && col("close") < col("open") &&
          col("open") >= prevClose && col("close") <= prevOpen).as("bear_engulf"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Swing points: strict local extrema of close (higher than both
    * neighbors = swing high; lower = swing low). Pure lag/lead
    * comparisons over engine-identical doubles; only flagged bars are
    * emitted. The support/resistance primitive charting tools build on. */
  def swingPoints(bars: DataFrame): DataFrame = {
    val prev = lag(col("close"), 1).over(w)
    val next = lead(col("close"), 1).over(w)
    val hi = prev.isNotNull && next.isNotNull &&
      col("close") > prev && col("close") > next
    val lo = prev.isNotNull && next.isNotNull &&
      col("close") < prev && col("close") < next
    bySymbol(bars).select(col("symbol"), col("bar_ts"), col("close"),
        hi.as("swing_high"), lo.as("swing_low"))
      .filter(col("swing_high") || col("swing_low"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Up-streak report (gaps-and-islands): per symbol the longest run of
    * strictly-rising closes and the number of runs of length ≥ 3.
    * `longest_up_run` counts RISES (close > previous-close
    * transitions), not bars — a run of length L spans L+1 bars. Run
    * ids come from the classic rn − running-count-of-ups device — all
    * integer window arithmetic over one symbol exchange. */
  def upStreaks(bars: DataFrame, minRun: Int = 3): DataFrame = {
    val up = (col("close") > lag(col("close"), 1).over(w)).cast("int")
    val marked = bars.select(col("symbol"), col("bar_ts"),
      coalesce(up, lit(0)).as("up"), rn.as("rn"))
    // group id: constant within a maximal run of up=1 rows
    val grp = col("rn") -
      sum(col("up")).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val runs = marked.withColumn("grp", grp)
      .filter(col("up") === 1)
      .groupBy(col("symbol"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("symbol"))
      .agg(max(col("run_len")).as("lr"),
        sum(when(col("run_len") >= minRun, 1L).otherwise(0L)).as("nr"))
    // left join from the symbol dictionary: a symbol with NO rising
    // close still reports (0, 0) instead of silently disappearing
    marked.select(col("symbol")).distinct()
      .join(runs, Seq("symbol"), "left")
      .select(col("symbol"),
        coalesce(col("lr"), lit(0L)).as("longest_up_run"),
        coalesce(col("nr"), lit(0L)).as("n_runs_3plus"))
      .orderBy(col("symbol"))
  }

  /** Classic floor-trader pivot points: each day's P/R1/S1/R2/S2 levels
    * derive from the PRIOR day's high/low/close (daily rollup →
    * one-day lag → level arithmetic in the oracle's association
    * order). Bars collapse map-side to one row per (symbol, day)
    * before the tiny per-symbol lag window; days without a prior day
    * are omitted, matching the trading definition. */
  def pivotPoints(bars: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("symbol")).orderBy(col("bar_date"))
    val p = (col("ph") + col("pl") + col("pc")) / 3
    bars.groupBy(col("symbol"), to_date(col("bar_ts")).as("bar_date"))
      .agg(max(col("high")).as("d_high"), min(col("low")).as("d_low"),
        max_by(col("close"), col("bar_ts")).as("d_close"))
      .select(col("symbol"), col("bar_date"),
        lag(col("d_high"), 1).over(wd).as("ph"),
        lag(col("d_low"), 1).over(wd).as("pl"),
        lag(col("d_close"), 1).over(wd).as("pc"))
      .filter(col("ph").isNotNull)
      .select(col("symbol"), col("bar_date"),
        r4(p).as("pivot"),
        r4(p * 2 - col("pl")).as("r1"),
        r4(p * 2 - col("ph")).as("s1"),
        r4(p + (col("ph") - col("pl"))).as("r2"),
        r4(p - (col("ph") - col("pl"))).as("s2"))
      .orderBy(col("symbol"), col("bar_date"))
  }
}
