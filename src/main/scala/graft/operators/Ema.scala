package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Exact recursive EMA / MACD (reference app/dashboard.py:114-118).
  *
  * `ewm(span=n, adjust=False)`: e_0 = x_0; e_t = α·x_t + (1−α)·e_{t-1}
  * with α = 2/(n+1). EMA is the one inherently-sequential operator in the
  * suite, and every EMA-family recursion (MACD here; Keltner, Heikin-Ashi,
  * ADX, TRIX, the Chaikin oscillator, the EWMA chart and Holt in
  * [[IndicatorsExt]]) runs as ONE exact fold per symbol through [[fold]]:
  * a symbol's 5-minute series grows with its history, not with tick
  * volume, so one task per symbol folds it in bar_ts order with the
  * oracle's own float ops — bit-identical to the sequential recursion.
  * `StreamPipelines.macdStream` steps the same [[macdInit]]/[[macdStep]]
  * pair over per-key `flatMapGroupsWithState` state.
  */
object Ema extends Serializable {
  private val A12 = 2.0 / 13.0; private val B12 = 11.0 / 13.0
  private val A26 = 2.0 / 27.0; private val B26 = 25.0 / 27.0
  private val A9 = 2.0 / 10.0; private val B9 = 8.0 / 10.0

  /** Release what the calling thread persisted outside any [[Scope]]:
    * perfbench's cleanup hook; new callers open a `Scope` instead. */
  def unpersistAll(): Unit = Scope.releaseRoot()

  /** One exact fold per symbol: one `groupByKey(symbol)` exchange hands
    * each symbol's rows to one task, which stable-sorts them by bar_ts
    * and runs the caller's recursion over the `inCols` values — `init`
    * on the first row, `step(state, x)` on each later one. Every row
    * emits a fresh copy of the state's first `outCols.length` slots, so
    * a `step` that mutates its state in place is safe; slots past them
    * are working state the caller keeps private (a previous close, an
    * inner EMA). Output columns: symbol, bar_ts, outCols; rows come in
    * no particular order.
    *
    * `init`/`step` must run the exact float ops the oracle folds (for an
    * EMA `x * a + e * b` with `b = 1 - a` computed once), must be pure
    * and serializable, and inputs must be non-null. One task per symbol
    * is enough: a symbol's 5-minute series holds at most 105,120 bars a
    * year, so a decade is ~1 M rows in one task. */
  def fold(df: DataFrame, inCols: Seq[String], outCols: Seq[String])(
      init: Array[Double] => Array[Double],
      step: (Array[Double], Array[Double]) => Array[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = outCols.length
    val rows = df.select(col("symbol"), col("bar_ts"),
        array(inCols.map(c => col(c).cast("double")): _*))
      .as[(String, Timestamp, Array[Double])]
    rows.groupByKey(_._1).flatMapGroups { (sym, it) =>
      val arr = it.map(t => (t._2, t._3)).toArray
      scala.util.Sorting.stableSort(arr, (a: (Timestamp, Array[Double]),
          b: (Timestamp, Array[Double])) => a._1.before(b._1))
      var e: Array[Double] = null
      arr.iterator.map { case (ts, x) =>
        e = if (e == null) init(x) else step(e, x)
        (sym, ts, java.util.Arrays.copyOf(e, k))
      }
    }.toDF("symbol", "bar_ts", "es")
      .select(col("symbol") +: col("bar_ts") +:
        outCols.zipWithIndex.map { case (n, j) => col("es")(j).as(n) }: _*)
  }

  /** MACD(12,26,9)'s recursion over one close per bar, the [[fold]]
    * pair [[macd]] runs and `StreamPipelines.macdStream` steps per
    * micro-batch. State: macd, signal | EMA12, EMA26; EMA12/EMA26 of
    * close and the EMA9 signal of their difference advance together. */
  val macdInit: Array[Double] => Array[Double] =
    x => { val m = x(0) - x(0); Array(m, m, x(0), x(0)) }
  val macdStep: (Array[Double], Array[Double]) => Array[Double] =
    (e, x) => {
      val e12 = x(0) * A12 + e(2) * B12
      val e26 = x(0) * A26 + e(3) * B26
      val m = e12 - e26
      Array(m, m * A9 + e(1) * B9, e12, e26)
    }

  /** MACD(12,26,9) as one [[fold]] of [[macdInit]]/[[macdStep]]. Three
    * exchanges (bars aggregate, symbol group, output sort), no persist.
    * The float ops are the oracle's sequential fold with its 11/13-style
    * β literals, and hist = macd − signal is the same double
    * subtraction. */
  def macd(bars: DataFrame): DataFrame =
    fold(bars, Seq("close"), Seq("m", "s"))(macdInit, macdStep)
      .select(col("symbol"), col("bar_ts"),
        r4(col("m")).as("macd"),
        r4(col("s")).as("macd_signal"),
        r4(col("m") - col("s")).as("macd_hist"))
      .orderBy(col("symbol"), col("bar_ts"))
}
