package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Market-calendar preprocessing (reference
  * src/preprocessing/preprocessing_pipeline.py).
  *
  * The reference filters bars to NYSE market hours in US/Eastern —
  * 09:30–16:00 inclusive, weekdays, minus US federal holidays
  * (preprocessing_pipeline.py:80-103) — computes an end-of-day rolling
  * MA5 merged back onto intraday rows (:143-180), and reports missing
  * 5-minute slots per business day (:213-259).
  *
  * The holiday calendar is DECLARED AS DATA ([[Market.Holidays]]) so the
  * DuckDB oracle shares the identical list; timezone conversion uses the
  * engines' IANA databases (`from_utc_timestamp` ↔ `timezone()`), which
  * agree on America/New_York including DST transitions.
  *
  * Scale notes: all three operators are single hash-shuffle shapes —
  * a filter (pushdown-friendly), an aggregate + windowed-aggregate +
  * equi-join back on (symbol, date), and a calendar-grid anti-join whose
  * grid side is |days|·79 rows per symbol (metadata-scale).
  */
object Market {

  /** US federal holidays, 2024 (pandas USFederalHolidayCalendar). */
  val Holidays: Seq[String] = Seq(
    "2024-01-01", "2024-01-15", "2024-02-19", "2024-05-27", "2024-06-19",
    "2024-07-04", "2024-09-02", "2024-10-14", "2024-11-11", "2024-11-28",
    "2024-12-25")

  /** The 79 five-minute slots of one trading day, 09:30–16:00 inclusive. */
  val Slots: Seq[String] = (0 to 78).map { i =>
    val m = 9 * 60 + 30 + i * 5
    f"${m / 60}%02d:${m % 60}%02d:00"
  }

  private def holidayList: String = Holidays.map(d => s"'$d'").mkString(", ")

  /** Adds et_ts/et_date/et_time wall-clock columns (America/New_York). */
  private def withEt(df: DataFrame): DataFrame =
    df.withColumn("et_ts", from_utc_timestamp(col("bar_ts"), "America/New_York"))
      .withColumn("et_date", to_date(col("et_ts")))
      .withColumn("et_time", date_format(col("et_ts"), "HH:mm:ss"))

  /** The `is_market_hours` predicate applied to [[withEt]] columns:
    * 09:30 ≤ wall-clock ≤ 16:00 inclusive, Monday–Friday, not a US
    * federal holiday (preprocessing_pipeline.py:80-103). The single
    * definition feeds every operator below so a calendar change cannot
    * drift between them. */
  private def marketHoursOnly(df: DataFrame): DataFrame =
    withEt(df)
      .filter(col("et_time") >= "09:30:00" && col("et_time") <= "16:00:00")
      .filter(expr("weekday(et_date) < 5"))
      .filter(!col("et_date").isin(Holidays: _*))

  /** Rolling 5-day mean (min_periods=1) of the last close per
    * (symbol, `dateCol`), keyed for the join back. */
  private def eodMa5On(df: DataFrame, dateCol: String): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col(dateCol))
      .rowsBetween(-4, 0)
    df.groupBy(col("symbol"), col(dateCol))
      .agg(max_by(col("close"), col("bar_ts")).as("eod_close"))
      .select(col("symbol"), col(dateCol),
        r4(sum(col("eod_close").cast("decimal(18,6)")).over(w).cast("double")
            / count(col("eod_close")).over(w)).as("eod_ma5"))
  }

  /** Bars restricted to ET market hours. */
  def marketHours(bars: DataFrame): DataFrame =
    marketHoursOnly(bars)
      .select(col("symbol"), col("bar_ts"), col("et_date"), col("et_time"),
        col("close"), col("volume"))
      .orderBy(col("symbol"), col("bar_ts"))

  /** End-of-day MA5 merged back onto intraday rows: last close per
    * (symbol, day) → rolling 5-day mean (min_periods=1) → equi-join back
    * (preprocessing_pipeline.py:143-180). The day-level aggregate is
    * days×symbols rows — usually broadcastable, but not hinted: AQE
    * picks broadcast when it fits and falls back to a co-partitioned
    * shuffle join on (symbol, date) when the symbol universe is huge. */
  def eodMa5(bars: DataFrame): DataFrame = {
    val dated = bars.withColumn("bar_date", to_date(col("bar_ts")))
    dated.select(col("symbol"), col("bar_ts"), col("bar_date"), col("close"))
      .join(eodMa5On(dated, "bar_date"), Seq("symbol", "bar_date"))
      .select(col("symbol"), col("bar_ts"), col("bar_date"), col("close"),
        col("eod_ma5"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** Missing-slot report: for every ET business day in the symbol's
    * observed span, the expected 79-slot grid minus observed bar times;
    * one row per (symbol, day) with at least one gap
    * (preprocessing_pipeline.py:213-259). */
  def missingReport(bars: DataFrame): DataFrame = {
    val et = withEt(bars).select(col("symbol"), col("et_date"), col("et_time"))
    val days = et.groupBy(col("symbol"))
      .agg(min(col("et_date")).as("d0"), max(col("et_date")).as("d1"))
      .select(col("symbol"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("et_date"))
      .filter(expr("weekday(et_date) < 5"))
      .filter(!col("et_date").isin(Holidays: _*))
    val slotArr = Slots.map(s => s"'$s'").mkString("array(", ", ", ")")
    val grid = days.withColumn("slot", explode(expr(slotArr)))
    // Rename the observed side: grid shares et's lineage, so same-name
    // column refs resolve to the same attribute (trivially-true-predicate
    // warning + reliance on Spark's self-join disambiguation).
    val obs = et.distinct().select(col("symbol").as("o_symbol"),
      col("et_date").as("o_date"), col("et_time").as("o_time"))
    grid.join(obs,
        grid("symbol") === obs("o_symbol") && grid("et_date") === obs("o_date") &&
          grid("slot") === obs("o_time"), "left_anti")
      .groupBy(col("symbol"), col("et_date"))
      .agg(count(lit(1)).as("n_missing"),
        min(col("slot")).as("first_missing"),
        max(col("slot")).as("last_missing"))
      .orderBy(col("symbol"), col("et_date"))
  }

  /** The reference's full processed table
    * (preprocessing_pipeline.py:185-209 `process_stock_data` →
    * `processed_columns`): validate OHLC → ET market-hours filter →
    * per-symbol rolling MA5 (min_periods=1) + cumulative mean over the
    * SURVIVING rows → end-of-day MA5 joined back by ET date. One
    * symbol-hash exchange feeds all three window passes; the day-level
    * aggregate joins back per (symbol, date). */
  def processedTable(bars: DataFrame): DataFrame = {
    // ohlcValid predicate, NOT Bars.validateOhlc: that method ends with
    // the q_validate_bars output sort, which would pay a useless global
    // range-exchange mid-pipeline
    val mh = marketHoursOnly(bars.filter(Bars.ohlcValid))
    val w5 = Window.partitionBy(col("symbol")).orderBy(col("bar_ts"))
      .rowsBetween(-4, 0)
    val wAll = Window.partitionBy(col("symbol")).orderBy(col("bar_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dec = col("close").cast("decimal(18,6)")
    val eod = eodMa5On(mh, "et_date")
    mh.select(col("symbol"), col("bar_ts"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("et_date"), col("et_time"),
        r4(sum(dec).over(w5).cast("double") / count(col("close")).over(w5)).as("ma5"),
        r4(sum(dec).over(wAll).cast("double") / count(col("close")).over(wAll)).as("cma"))
      .join(eod, Seq("symbol", "et_date"))
      .select(col("symbol"), col("bar_ts"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("et_date"), col("et_time"),
        col("ma5"), col("cma"), col("eod_ma5"))
      .orderBy(col("symbol"), col("bar_ts"))
  }

  /** DuckDB oracle fragments (kept beside the operators so the calendar
    * constants can never drift between engines). */
  object Oracle {
    /** ET wall-clock conversion of a naive-UTC timestamp column.
      * `timezone('UTC', ts)` pins the naive value to UTC explicitly, so
      * the expression is correct under ANY DuckDB session timezone
      * (a bare `::TIMESTAMPTZ` cast would interpret it in session tz). */
    def et(col: String): String =
      s"timezone('America/New_York', timezone('UTC', $col))"

    def holidaysIn: String = holidayList

    def slotList: String = Slots.map(s => s"'$s'").mkString("[", ", ", "]")
  }
}
