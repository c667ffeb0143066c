package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Segmented finite-window rolling aggregates — the 100 TB shape for the
  * indicator suite.
  *
  * Every indicator window partitions by `symbol` (reference
  * app/dashboard.py:84-145 computes per-symbol series), which is correct
  * but caps parallelism at the number of symbols: the test feed carries
  * FIVE event types, so a 10-year tick history would funnel through five
  * window tasks no matter how many executors exist. (The EMA family
  * keeps one task per symbol on purpose: `Ema.fold` runs a sequential
  * recursion over a series that grows by ~10^5 bars a year.) This
  * operator splits *finite row frames*
  * (`ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW`):
  *
  *  1. exact per-symbol row index WITHOUT a per-symbol global window —
  *     range-partition on (symbol, bar_ts), rank locally per physical
  *     partition, add broadcast per-(partition, symbol) prefix offsets
  *     (the q_rfm ntile device, Relational.scala:511);
  *  2. chunk the series: `_chunk = _idx div chunkRows`;
  *  3. duplicate each chunk's last k-1 rows into the NEXT chunk (carry
  *     rows), so every row's k-1 predecessors are physically present in
  *     its (symbol, chunk) partition;
  *  4. run the ordinary rolling frame partitioned by (symbol, _chunk) —
  *     task size is bounded by chunkRows + k - 1 ROWS regardless of
  *     series length — then drop the carry rows.
  *
  * Exact for any gap structure (row-count chunking, not time bucketing),
  * bit-identical to the single-partition-per-symbol form. The trade is
  * two extra shuffles (the range pass and the chunk exchange) — fixed
  * cost at toy scale, the difference between five tasks and
  * series/chunkRows tasks at cluster scale.
  */
object SegmentedWindows {

  /** bars + `_pid`: range-partitioned on (symbol, bar_ts) and PERSISTED
    * (spark_partition_id is nondeterministic, so every consumer pass
    * must read one materialization — released via Ema.unpersistAll).
    * The shared scaffold for the row-index device and the
    * running-aggregate offset device. */
  private def withPid(bars: DataFrame): DataFrame = {
    val nParts = bars.sparkSession.sessionState.conf.numShufflePartitions
    Ema.persistTracked(
      bars.repartitionByRange(nParts, col("symbol").asc, col("bar_ts").asc)
        .withColumn("_pid", spark_partition_id().cast("long")))
  }

  private val wLocal =
    Window.partitionBy(col("_pid"), col("symbol")).orderBy(col("bar_ts"))
  private val wLocalRun = wLocal.rowsBetween(Window.unboundedPreceding, 0)

  /** Exclusive per-(partition, symbol) prefix combine of per-partition
    * aggregates: for each (_pid, symbol), fold each named column's
    * combiner over all STRICTLY-EARLIER partitions' rows of the same
    * symbol (null when there are none). Metadata scale — the input is
    * (partitions × symbols) rows and travels by broadcast, which is
    * what makes the running devices one-data-shuffle exact at any
    * series length. */
  private def exclusivePrefix(meta: DataFrame,
      combos: Seq[(String, Column => Column)]): DataFrame = {
    val qcols = Seq(col("_pid").as("_qid"), col("symbol").as("_qsym")) ++
      combos.map { case (c, _) => col(c).as(s"_q$c") }
    val aggs = combos.map { case (c, f) => f(col(s"_q$c")).as(s"${c}_off") }
    meta.join(broadcast(meta.select(qcols: _*)),
        col("_qsym") === col("symbol") && col("_qid") < col("_pid"), "left")
      .groupBy(col("_pid"), col("symbol"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** bars + `_idx`: exact 0-based per-symbol row index in bar_ts order.
    * No window spans more than one physical partition; prefix offsets
    * travel via a broadcast (partitions × symbols)-sized meta join. */
  private[graft] def withSeriesIndex(bars: DataFrame): DataFrame = {
    val ranged = withPid(bars)
    val counts = ranged.groupBy(col("_pid"), col("symbol"))
      .agg(count(lit(1)).as("_pn"))
    val offsets = exclusivePrefix(counts, Seq("_pn" -> (sum(_))))
    ranged
      .withColumn("_lrk", row_number().over(wLocal).cast("long") - 1L)
      .join(broadcast(offsets), Seq("_pid", "symbol"), "left")
      .withColumn("_idx", col("_lrk") + coalesce(col("_pn_off"), lit(0L)))
      .drop("_pid", "_lrk", "_pn_off")
  }

  /** The chunked frame: every row duplicated with `_chunk`/`_carry`
    * columns such that a `rowsBetween(-(k-1), 0)` frame over
    * `(symbol, _chunk) ORDER BY _idx` is complete for every non-carry
    * row, with task size bounded by chunkRows + k - 1. Callers compute
    * their window aggregates over [[frameWindow]] and then
    * [[dropCarry]]. */
  private def chunked(idxd: DataFrame, k: Int, chunkRows: Int): DataFrame = {
    // The carry reaches exactly ONE chunk back, so a chunk must be at
    // least k-1 rows wide or head-of-chunk frames silently come up short
    // (the warmup gate would still pass — wrong values, no error).
    require(chunkRows >= k - 1, s"chunkRows ($chunkRows) must be >= ${k - 1}")
    val base = idxd
      .withColumn("_chunk", expr(s"_idx div $chunkRows"))
      .withColumn("_carry", lit(false))
    val carried = idxd
      .filter(col("_idx") % chunkRows >= chunkRows - (k - 1))
      .withColumn("_chunk", expr(s"_idx div $chunkRows") + 1L)
      .withColumn("_carry", lit(true))
    base.unionByName(carried)
  }

  private val frameWindow =
    Window.partitionBy(col("symbol"), col("_chunk")).orderBy(col("_idx"))

  private def dropCarry(df: DataFrame): DataFrame =
    df.filter(!col("_carry")).drop("_carry")

  // _idx is the exact global row number, so the warmup gate needs no
  // count-over-frame: row i has i predecessors.
  private def gated(n: Int)(c: Column): Column = when(col("_idx") >= n - 1, c)

  private def davg(n: Int): Column =
    sum(col("close").cast("decimal(18,6)"))
      .over(frameWindow.rowsBetween(-(n - 1), 0)).cast("double") / n

  /** SMA 20/50/200 with bounded window tasks — same output contract as
    * [[Indicators.sma]] (oracle-gated against the identical SQL). */
  def smaSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame = {
    // project BEFORE the range shuffle + persist: the cache boundary
    // blocks Catalyst column pruning, so whatever enters it is what the
    // shuffle carries and the cache holds.
    val idxd = withSeriesIndex(
      bars.select(col("symbol"), col("bar_ts"), col("close")))
    dropCarry(chunked(idxd, k = 200, chunkRows)
      .select(col("symbol"), col("bar_ts"), col("close"), col("_carry"),
        gated(20)(round(davg(20) + lit(5e-9), 4)).as("sma20"),
        gated(50)(round(davg(50) + lit(5e-9), 4)).as("sma50"),
        gated(200)(round(davg(200) + lit(5e-9), 4)).as("sma200")))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Generic driver for the device: range-index the series, chunk with
    * a `lookback`-row carry, run an indicator core (an
    * `Indicators.*Core` expression body) against the bounded
    * (symbol, _chunk) window and the exact global row number, then
    * drop the carry rows.
    *
    * `lookback` must cover the core's FULL dependency depth — the
    * number of preceding rows any non-carry output value reads through
    * its frames and lags combined (e.g. RSI(14) = 14: a 14-row gain
    * frame whose oldest gain lags one more close). Values computed ON
    * carry rows whose own dependencies reach deeper than the carry are
    * wrong by construction, but they are never consumed: a non-carry
    * row's frames reach back at most `lookback` rows, all of which are
    * physically present, and carry rows are dropped before output. */
  def rollingSegmented(bars: DataFrame, inputs: Seq[String], lookback: Int,
      chunkRows: Int = 4096)(
      core: (DataFrame, WindowSpec, Column, Seq[Column]) => DataFrame): DataFrame = {
    val idxd = withSeriesIndex(bars.select(inputs.map(col): _*))
    val helpers = Seq(col("_carry"), col("_chunk"), col("_idx"))
    dropCarry(
      core(chunked(idxd, k = lookback + 1, chunkRows), frameWindow,
        (col("_idx") + 1L).as("rn"), helpers)
        .drop("_chunk", "_idx"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** RSI(14) with bounded window tasks — same output contract as
    * [[Indicators.rsi]] (oracle-gated against the identical SQL). */
  def rsiSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "close"), lookback = 14,
      chunkRows)(Indicators.rsiCore)

  /** ATR(14) with bounded window tasks — contract of [[Indicators.atr]]. */
  def atrSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 14, chunkRows)(Indicators.atrCore)

  /** Stochastic %K/%D with bounded window tasks — contract of
    * [[Indicators.stochastic]]. Lookback 15: %D averages the 3 latest
    * %K, the oldest of which reads a 14-row extrema frame. */
  def stochasticSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 15, chunkRows)(Indicators.stochasticCore)

  /** Williams %R(14) with bounded window tasks — contract of
    * [[Indicators.williamsR]]. */
  def williamsRSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 13, chunkRows)(Indicators.williamsRCore)

  /** Donchian(20) with bounded window tasks — contract of
    * [[Indicators.donchian]]. */
  def donchianSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 19, chunkRows)(Indicators.donchianCore(20))

  /** MFI(14) with bounded window tasks — contract of
    * [[Indicators.mfi]]. */
  def mfiSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars,
      Seq("symbol", "bar_ts", "high", "low", "close", "volume"),
      lookback = 14, chunkRows)(Indicators.mfiCore(14))

  /** ROC/Momentum(10) with bounded window tasks — contract of
    * [[Indicators.momentum]]. */
  def momentumSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "close"), lookback = 10,
      chunkRows)(Indicators.momentumCore)

  /** Aroon(25) with bounded window tasks — contract of
    * [[IndicatorsExt.aroon]]. The core keys its encoded extremum
    * positions on the exact global row index, so positions survive
    * chunk boundaries bit-exactly. */
  def aroonSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 24, chunkRows)(IndicatorsExt.aroonCore(25))

  /** CCI(20) with bounded window tasks — contract of
    * [[IndicatorsExt.cci]]. Demonstrates the device on a LIST-FOLD frame
    * (collect_list + aggregate): carry rows complete the frame lists of
    * head-of-chunk rows just like plain aggregates. */
  def cciSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 19, chunkRows)(IndicatorsExt.cciCore(20))

  /** Chaikin Money Flow(21) with bounded window tasks — contract of
    * [[IndicatorsExt.cmf]]. */
  def cmfSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars,
      Seq("symbol", "bar_ts", "high", "low", "close", "volume"),
      lookback = 20, chunkRows)(IndicatorsExt.cmfCore(21))

  /** Rolling market correlation(20) with bounded window tasks —
    * contract of [[IndicatorsExt.rollingCorr]]. Demonstrates the device
    * on a JOINED input: the per-bar_ts index column rides into the
    * chunking like any other bar column, so the correlation frames stay
    * bounded even though the series was enriched by an aggregate join
    * first. */
  def rollingCorrSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(IndicatorsExt.withMarketIndex(bars),
      Seq("symbol", "bar_ts", "close", "idx"),
      lookback = 19, chunkRows)(IndicatorsExt.rollingCorrCore(20))

  /** Ultimate Oscillator(7,14,28) with bounded window tasks — contract
    * of [[IndicatorsExt.ultimateOsc]]. Lookback 28: the 28-row TR frame's
    * oldest element lags one more close. */
  def ultimateOscSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame =
    rollingSegmented(bars, Seq("symbol", "bar_ts", "high", "low", "close"),
      lookback = 28, chunkRows)(IndicatorsExt.uoCore)

  /** Bollinger bands with bounded window tasks — same output contract as
    * [[Indicators.bollinger]] (oracle-gated against the identical SQL).
    * Demonstrates the device on a VARIANCE frame: stddev_samp is not a
    * running aggregate, so the bounded (symbol, chunk) partition is what
    * keeps its per-task sort small. */
  def bollingerSegmented(bars: DataFrame, chunkRows: Int = 4096): DataFrame = {
    val idxd = withSeriesIndex(
      bars.select(col("symbol"), col("bar_ts"), col("close")))
    val sma20 = davg(20)
    val sd = stddev_samp(col("close")).over(frameWindow.rowsBetween(-19, 0))
    dropCarry(chunked(idxd, k = 20, chunkRows)
      .select(col("symbol"), col("bar_ts"), col("close"), col("_carry"),
        gated(20)(round(sma20 + lit(5e-9), 4)).as("sma20"),
        gated(20)(round(sma20 + sd * 2 + lit(5e-9), 4)).as("bb_upper"),
        gated(20)(round(sma20 - sd * 2 + lit(5e-9), 4)).as("bb_lower")))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  // ── Running (unbounded-preceding) aggregates with bounded tasks ────
  //
  // The chunk-carry device can't serve ROWS UNBOUNDED PRECEDING frames
  // (the "carry" would be the whole history), but every running
  // indicator here folds an ASSOCIATIVE combine (integer/decimal sum,
  // max), so the split is algebraic instead of physical: compute the
  // running aggregate LOCALLY per range partition (task size bounded
  // by rows/numShufflePartitions), then add/merge each partition's
  // exclusive prefix of per-partition totals — a (partitions × symbols)
  // metadata broadcast. One data shuffle (the range exchange), exact
  // results (integer/decimal arithmetic reassociates losslessly; max
  // is order-free), no per-symbol single-task stage at any length.
  // Cross-boundary lags (OBV's Δclose) come from the same metadata
  // table: the previous partition's tail close.

  /** OBV with bounded tasks — output contract of [[Indicators.obv]]
    * (oracle-gated against the identical SQL). */
  def obvSegmented(bars: DataFrame): DataFrame = {
    val ranged = withPid(
      bars.select(col("symbol"), col("bar_ts"), col("close"), col("volume")))
    val tails = ranged.groupBy(col("_pid"), col("symbol"))
      .agg(max_by(col("close"), col("bar_ts")).as("_tail"))
    val prevTail = exclusivePrefix(tails, Seq("_tail" -> (c => max_by(c, col("_qid")))))
    val signed = ranged
      .join(broadcast(prevTail), Seq("_pid", "symbol"), "left")
      .withColumn("_prev",
        when(row_number().over(wLocal) === 1, col("_tail_off"))
          .otherwise(lag(col("close"), 1).over(wLocal)))
      .withColumn("_signed",
        when(col("close") - col("_prev") > 0, col("volume"))
          .when(col("close") - col("_prev") < 0, -col("volume"))
          .otherwise(lit(0L)))
    val totals = signed.groupBy(col("_pid"), col("symbol"))
      .agg(sum(col("_signed")).as("_tot"))
    val offsets = exclusivePrefix(totals, Seq("_tot" -> (sum(_))))
    signed
      .join(broadcast(offsets), Seq("_pid", "symbol"), "left")
      .select(col("symbol"), col("bar_ts"), col("close"), col("volume"),
        (sum(col("_signed")).over(wLocalRun) + coalesce(col("_tot_off"), lit(0L)))
          .cast("long").as("obv"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Cumulative VWAP with bounded tasks — output contract of
    * [[Indicators.vwap]]. The DECIMAL price·volume sums split exactly
    * (decimal addition reassociates losslessly up to the same overflow
    * bound as the single-window form). */
  def vwapSegmented(bars: DataFrame): DataFrame = {
    val ranged = withPid(
      bars.select(col("symbol"), col("bar_ts"), col("close"), col("volume")))
      .withColumn("_pv", col("close").cast("decimal(18,6)") * col("volume"))
    val totals = ranged.groupBy(col("_pid"), col("symbol"))
      .agg(sum(col("_pv")).as("_pvt"), sum(col("volume")).as("_vt"))
    val offsets = exclusivePrefix(totals,
      Seq("_pvt" -> (sum(_)), "_vt" -> (sum(_))))
    ranged
      .join(broadcast(offsets), Seq("_pid", "symbol"), "left")
      .select(col("symbol"), col("bar_ts"), col("close"), col("volume"),
        round(
          (sum(col("_pv")).over(wLocalRun) +
            coalesce(col("_pvt_off"), lit(0).cast("decimal(38,6)"))).cast("double") /
          (sum(col("volume")).over(wLocalRun) + coalesce(col("_vt_off"), lit(0L)))
          + lit(5e-9), 4).as("vwap"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Drawdown with bounded tasks — output contract of
    * [[Indicators.drawdown]]. The running peak merges as a max
    * (order-free over identical doubles). */
  def drawdownSegmented(bars: DataFrame): DataFrame = {
    val ranged = withPid(
      bars.select(col("symbol"), col("bar_ts"), col("close")))
    val maxes = ranged.groupBy(col("_pid"), col("symbol"))
      .agg(max(col("close")).as("_pmax"))
    val offsets = exclusivePrefix(maxes, Seq("_pmax" -> (max(_))))
    // greatest skips nulls: a symbol's first partition has no prefix max
    val peak = greatest(max(col("close")).over(wLocalRun), col("_pmax_off"))
    ranged
      .join(broadcast(offsets), Seq("_pid", "symbol"), "left")
      .select(col("symbol"), col("bar_ts"), col("close"), peak.as("peak"))
      .select(col("symbol"), col("bar_ts"), col("close"), col("peak"),
        round((col("peak") - col("close")) / col("peak") * lit(100.0)
          + lit(5e-9), 4).as("drawdown_pct"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** CUSUM with bounded tasks — output contract of
    * [[IndicatorsExt.cusum]]. All three running aggregates the
    * prefix-sum form needs (Σdev, min P, max P) merge order-free in
    * exact integer DECIMAL, so each splits into a local running form
    * plus a broadcast exclusive-prefix offset:
    *   P_t           = localΣ + Σ(earlier partitions' totals)
    *   runmin(P)_t   = least(local runmin of P, min over earlier
    *                   partitions of their global-P minima)
    * (and symmetrically for runmax). Two metadata aggregates — totals
    * for the sum offset, per-partition global-P extrema for the min/max
    * offsets — both (partitions × symbols)-sized broadcasts. */
  def cusumSegmented(bars: DataFrame): DataFrame = {
    val zero = lit(0).cast("decimal(38,0)")
    val c = floor(col("close") * lit(100) + lit(0.5)).cast("long")
    val ranged = withPid(
      bars.select(col("symbol"), col("bar_ts"), col("close")))
    val st = ranged.groupBy(col("symbol")).agg(
      count(lit(1)).as("n"), sum(c.cast("decimal(38,0)")).as("sc"))
    val devd = ranged.join(broadcast(st), Seq("symbol"))
      .withColumn("dev",
        (col("n").cast("decimal(19,0)") * c.cast("decimal(18,0)") - col("sc"))
          .cast("decimal(38,0)"))
    val totals = devd.groupBy(col("_pid"), col("symbol"))
      .agg(sum(col("dev")).as("_tot"))
    val offsets = exclusivePrefix(totals, Seq("_tot" -> (sum(_))))
    val withP = devd.join(broadcast(offsets), Seq("_pid", "symbol"), "left")
      .withColumn("pref",
        sum(col("dev")).over(wLocalRun) + coalesce(col("_tot_off"), zero))
    val ext = withP.groupBy(col("_pid"), col("symbol"))
      .agg(min(col("pref")).as("_pmin"), max(col("pref")).as("_pmax"))
    val extOff = exclusivePrefix(ext,
      Seq("_pmin" -> (min(_)), "_pmax" -> (max(_))))
    // least/greatest skip nulls: a symbol's first partition has no prefix
    val runMin = least(min(col("pref")).over(wLocalRun), col("_pmin_off"))
    val runMax = greatest(max(col("pref")).over(wLocalRun), col("_pmax_off"))
    withP.join(broadcast(extOff), Seq("_pid", "symbol"), "left")
      .select(col("symbol"), col("bar_ts"), col("close"), col("n"), col("sc"),
        col("pref"),
        (col("pref") - least(zero, runMin)).as("sp"),
        (greatest(zero, runMax) - col("pref")).as("sn"))
      .select(col("symbol"), col("bar_ts"), col("close"),
        round(col("sp").cast("double") / (col("n") * lit(100.0)) + lit(5e-9), 4)
          .as("cusum_pos"),
        round(col("sn").cast("double") / (col("n") * lit(100.0)) + lit(5e-9), 4)
          .as("cusum_neg"),
        (lit(20).cast("decimal(2,0)") * col("sp") > col("sc")).as("alarm_pos"),
        (lit(20).cast("decimal(2,0)") * col("sn") > col("sc")).as("alarm_neg"))
      .orderBy(col("symbol"), col("bar_ts"))
  }
}
