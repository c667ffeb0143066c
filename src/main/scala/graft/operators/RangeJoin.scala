package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Range (interval) join: match each point row to the interval rows with
  * `lo <= point < hi`, optionally under extra equi-keys.
  *
  * Two physical strategies, same semantics:
  *
  *  - [[broadcastRange]] — when the interval side is small (band tables,
  *    calendars, config ranges): broadcast it and let the non-equi
  *    predicate evaluate inside a BroadcastNestedLoopJoin. The big side
  *    streams with NO shuffle; per-row cost is |intervals|, fine for
  *    O(10²-10⁴) intervals.
  *
  *  - [[binnedRange]] — when BOTH sides are large: quantize the value
  *    domain into fixed-width bins, explode each interval to the bins it
  *    overlaps, equi-join on (bin ⧺ equi-keys), then refine with the
  *    exact range predicate. This turns the O(n·m) nested loop into a
  *    hash join whose fan-out is bounded by interval_width / bin_width —
  *    the standard trick Spark itself lacks a native operator for.
  *    Results are proven identical to [[broadcastRange]] by spec.
  */
object RangeJoin {

  /** Broadcast the (small) interval side; intervals' columns must not
    * collide with points' (rename before calling). */
  def broadcastRange(points: DataFrame, intervals: DataFrame, pointCol: String,
      loCol: String, hiCol: String, equiKeys: Seq[(String, String)] = Nil): DataFrame = {
    val cond = (equiKeys.map { case (pk, ik) => points(pk) === intervals(ik) } :+
      (points(pointCol) >= intervals(loCol)) :+
      (points(pointCol) < intervals(hiCol))).reduce(_ && _)
    points.join(broadcast(intervals), cond)
  }

  /** Bin-bucketed range join for a large interval side. `binWidth` should
    * be on the order of the typical interval width: each interval lands
    * in ceil(width/binWidth)+1 bins, each point in exactly one. */
  def binnedRange(points: DataFrame, intervals: DataFrame, pointCol: String,
      loCol: String, hiCol: String, binWidth: Double,
      equiKeys: Seq[(String, String)] = Nil): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val iv = intervals.withColumn("_bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    val pt = points.withColumn("_bin", floor(col(pointCol) / binWidth).cast("long"))
    val cond = (Seq(pt("_bin") === iv("_bin")) ++
      equiKeys.map { case (pk, ik) => pt(pk) === iv(ik) } :+
      (pt(pointCol) >= iv(loCol)) :+
      (pt(pointCol) < iv(hiCol))).reduce(_ && _)
    pt.join(iv, cond).drop("_bin")
  }

  /** Oracle-gated query: per-symbol price-band occupancy. Derives 8
    * equal-width close-price bands per symbol from the bar extremes
    * (the last band's upper edge is maxc+1 so the uniform `[lo, hi)`
    * predicate keeps the maximum row), range-joins bars into bands, and
    * reports occupancy + exact-decimal average close per band.
    * Band edges are plain double arithmetic written identically in the
    * DuckDB oracle, so boundary assignment agrees bit-for-bit. */
  def priceBands(bars: DataFrame, nBands: Int = 8): DataFrame = {
    val ext = bars.groupBy(col("symbol").as("band_symbol"))
      .agg(min(col("close")).as("minc"), max(col("close")).as("maxc"))
    val width = (col("maxc") - col("minc")) / lit(nBands.toDouble)
    val bands = ext
      .select(col("band_symbol"), col("minc"), col("maxc"),
        explode(sequence(lit(0L), lit((nBands - 1).toLong))).as("band"))
      .select(col("band_symbol"), col("band"),
        (col("minc") + col("band") * width).as("lo"),
        when(col("band") === (nBands - 1), col("maxc") + 1.0)
          .otherwise(col("minc") + (col("band") + 1) * width).as("hi"))
    broadcastRange(bars, bands, "close", "lo", "hi",
        equiKeys = Seq("symbol" -> "band_symbol"))
      .groupBy(col("symbol"), col("band"))
      .agg(count(lit(1)).as("n_bars"),
        r4(min(col("lo"))).as("band_lo"),
        r4(sum(col("close").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("avg_close"),
        sum(col("volume")).cast("long").as("total_volume"))
      .orderBy(col("symbol"), col("band"))
  }
}
