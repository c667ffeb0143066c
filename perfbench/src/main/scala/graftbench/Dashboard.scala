package graftbench

import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.operators.{Bars, Ema, Indicators}

/** The reference dashboard's twelve panels, refreshed one after another
  * by one client (closed loop). Each panel is its `SparkEntry.queries`
  * entry, so it re-derives its bars from the tick table as a refresh
  * does. */
object Dashboard extends QueryWorkload {
  /** (query, per-layer metric, the layer function over bars). */
  val Panels: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("q_sma", "indicators.sma_s", Indicators.sma),
    ("q_bollinger", "indicators.bollinger_s", Indicators.bollinger),
    ("q_rsi", "indicators.rsi_s", Indicators.rsi),
    ("q_macd", "ema.macd_s", Ema.macd(_)),
    ("q_atr", "indicators.atr_s", Indicators.atr),
    ("q_stochastic", "indicators.stochastic_s", Indicators.stochastic),
    ("q_vwap", "indicators.vwap_s", Indicators.vwap),
    ("q_momentum", "indicators.momentum_s", Indicators.momentum),
    ("q_summary_stats", "indicators.summary_stats_s", Indicators.summaryStats),
    ("q_latest_metrics", "indicators.latest_metrics_s", Indicators.latestMetrics),
    ("q_weekly_range", "indicators.weekly_range_s", Indicators.weeklyRange),
    ("q_volume_heatmap", "indicators.volume_heatmap_s", Indicators.volumeHeatmap))

  val queries: Seq[String] = Panels.map(_._1)

  def warmUp(h: Harness): Unit = h.noop(Tables.events(h.spark, h.inputs))
  def layers(h: Harness): Unit = {
    val events = Tables.events(h.spark, h.inputs)
    h.timeLayer("tables.scan_s", "Tables.events")(h.noop(events))
    h.layer("tables.rows") = events.count().toDouble
    val bars = h.timeLayer("bars.ohlcv_s", "Bars.ohlcv") {
      val b = Bars.ohlcv(events).persist()
      h.noop(b)
      b
    }
    h.layer("bars.rows") = bars.count().toDouble
    var indicatorStages = 0.0
    Panels.foreach { case (q, metric, fn) =>
      val before = h.probe.counters()
      h.timeLayer(metric, metric.stripSuffix("_s"))(h.noop(fn(bars)))
      h.drainEvents()
      val stages = h.probe.counters().minus(before).stages.toDouble
      if (q == "q_macd") h.layer("ema.macd_stages") = stages
      else indicatorStages += stages
      Ema.unpersistAll()
    }
    h.layer("indicators.stages") = indicatorStages
    bars.unpersist(blocking = true)
  }
}
