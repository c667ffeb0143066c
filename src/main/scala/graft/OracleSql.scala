package graft

/** DuckDB oracle SQL, one statement per `SparkEntry.queries` key.
  *
  * Parity rules (see SURVEY.md §5): identical aliases, identical rounding
  * (4dp scalars / 2dp large sums), guarded divisions, BIGINT casts where
  * DuckDB would widen (sum of ints → HUGEINT, row_number → BIGINT),
  * double-literal constants written as `a::DOUBLE / b::DOUBLE` (bare
  * `2.0/13.0` is DECIMAL division in DuckDB), and window frames that
  * mirror the Spark `rowsBetween` frames exactly.
  */
object OracleSql {

  /** Mirror of [[graft.operators.Bars.ohlcv]]: exact integer bucket math. */
  val barsCte: String = """
    bars AS (
      SELECT event_type AS symbol,
             make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS bar_ts,
             arg_min(value, ts) AS "open",
             max(value) AS high,
             min(value) AS low,
             arg_max(value, ts) AS "close",
             count(*) AS volume,
             sum(value) AS vsum
      FROM events GROUP BY 1, 2)"""

  private val rnCte: String = """
    b AS (
      SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
      FROM bars)"""

  private def wf(frame: String) =
    s"OVER (PARTITION BY symbol ORDER BY bar_ts $frame)"
  private val w20 = wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")

  private val core: Map[String, String] = Map(
    "q_bars_ohlcv" -> s"""
      WITH $barsCte
      SELECT symbol, bar_ts, "open", high, low, "close", volume, round(vsum + 5e-9, 4) AS vsum
      FROM bars ORDER BY symbol, bar_ts""",

    "q_preprocess_mavg" -> s"""
      WITH $barsCte
      SELECT symbol, bar_ts, CAST(bar_ts AS DATE) AS bar_date, "close",
        round(sum(CAST("close" AS DECIMAL(18,6))) OVER (PARTITION BY symbol, CAST(bar_ts AS DATE) ORDER BY bar_ts
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)::DOUBLE
          / count("close") OVER (PARTITION BY symbol, CAST(bar_ts AS DATE) ORDER BY bar_ts
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 5e-9, 4) AS mavg5,
        round(sum(CAST("close" AS DECIMAL(18,6))) OVER (PARTITION BY symbol, CAST(bar_ts AS DATE) ORDER BY bar_ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
          / count("close") OVER (PARTITION BY symbol, CAST(bar_ts AS DATE) ORDER BY bar_ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 5e-9, 4) AS cumavg
      FROM bars ORDER BY symbol, bar_ts""",

    "q_sma" -> s"""
      WITH $barsCte, $rnCte
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 20 THEN round(sum(CAST("close" AS DECIMAL(18,6))) $w20::DOUBLE / 20 + 5e-9, 4) END AS sma20,
        CASE WHEN rn >= 50 THEN round(sum(CAST("close" AS DECIMAL(18,6))) ${wf("ROWS BETWEEN 49 PRECEDING AND CURRENT ROW")}::DOUBLE / 50 + 5e-9, 4) END AS sma50,
        CASE WHEN rn >= 200 THEN round(sum(CAST("close" AS DECIMAL(18,6))) ${wf("ROWS BETWEEN 199 PRECEDING AND CURRENT ROW")}::DOUBLE / 200 + 5e-9, 4) END AS sma200
      FROM b ORDER BY symbol, bar_ts""",

    "q_bollinger" -> s"""
      WITH $barsCte, $rnCte
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 20 THEN round(sum(CAST("close" AS DECIMAL(18,6))) $w20::DOUBLE / 20 + 5e-9, 4) END AS sma20,
        CASE WHEN rn >= 20 THEN round(sum(CAST("close" AS DECIMAL(18,6))) $w20::DOUBLE / 20 + stddev_samp("close") $w20 * 2 + 5e-9, 4) END AS bb_upper,
        CASE WHEN rn >= 20 THEN round(sum(CAST("close" AS DECIMAL(18,6))) $w20::DOUBLE / 20 - stddev_samp("close") $w20 * 2 + 5e-9, 4) END AS bb_lower
      FROM b ORDER BY symbol, bar_ts""",

    "q_rsi" -> s"""
      WITH $barsCte, $rnCte,
      d AS (
        SELECT symbol, bar_ts, "close", rn,
          "close" - lag("close", 1) ${wf("")} AS delta
        FROM b),
      g AS (
        SELECT symbol, bar_ts, "close", rn,
          CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
          CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
        FROM d),
      a AS (
        SELECT symbol, bar_ts, "close", rn,
          avg(gain) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} AS avg_gain,
          avg(loss) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} AS avg_loss
        FROM g)
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn < 14 THEN NULL
             WHEN avg_loss = 0 THEN 100.0
             ELSE round(100 - 100 / (1 + avg_gain / avg_loss) + 5e-9, 4) END AS rsi
      FROM a ORDER BY symbol, bar_ts""",

    // Exact full-prefix folds (no truncation): list_reduce seeds the
    // accumulator with the first element, which IS the e0 = x0 recursion.
    // `+ 0.0` canonicalizes DuckDB's -0.0 (its round is a ×10^4 multiply
    // that preserves the sign of tiny negatives; Spark's BigDecimal round
    // has no signed zero) — without it one macd_hist cell hashes as -0.0.
    // fold windows truncated to 1000 rows (the §5 keltner/holt device):
    // slowest decay here is 25/27 → (25/27)^999 ≈ 1e-33, invisible at
    // 4dp, and the O(rows²) list-cell blow-up disappears at any scale
    "q_macd" -> s"""
      WITH $barsCte,
      w1 AS (
        SELECT symbol, bar_ts,
          list("close") ${wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")} AS lst
        FROM bars),
      m AS (
        SELECT symbol, bar_ts,
          list_reduce(lst, (acc, x) -> x * (2::DOUBLE / 13::DOUBLE) + acc * (11::DOUBLE / 13::DOUBLE))
          - list_reduce(lst, (acc, x) -> x * (2::DOUBLE / 27::DOUBLE) + acc * (25::DOUBLE / 27::DOUBLE)) AS macd
        FROM w1),
      w2 AS (
        SELECT symbol, bar_ts, macd,
          list(macd) ${wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")} AS mlst
        FROM m),
      s AS (
        SELECT symbol, bar_ts, macd,
          list_reduce(mlst, (acc, x) -> x * (2::DOUBLE / 10::DOUBLE) + acc * (8::DOUBLE / 10::DOUBLE)) AS sig
        FROM w2)
      SELECT symbol, bar_ts, round(macd + 5e-9, 4) + 0.0 AS macd,
        round(sig + 5e-9, 4) + 0.0 AS macd_signal,
        round(macd - sig + 5e-9, 4) + 0.0 AS macd_hist
      FROM s ORDER BY symbol, bar_ts""",

    "q_validate_bars" -> s"""
      WITH $barsCte
      SELECT symbol, bar_ts, "open", high, low, "close", volume
      FROM bars
      WHERE "open" > 0 AND high > 0 AND low > 0 AND "close" > 0
        AND volume > 0 AND high >= low
      ORDER BY symbol, bar_ts""",

    "q_market_hours" -> {
      import graft.operators.Market.Oracle
      s"""
      WITH $barsCte,
      et AS (SELECT symbol, bar_ts, "close", volume,
               ${Oracle.et("bar_ts")} AS et_ts
             FROM bars)
      SELECT symbol, bar_ts, CAST(et_ts AS DATE) AS et_date,
        strftime(et_ts, '%H:%M:%S') AS et_time, "close", volume
      FROM et
      WHERE strftime(et_ts, '%H:%M:%S') BETWEEN '09:30:00' AND '16:00:00'
        AND isodow(et_ts) <= 5
        AND CAST(et_ts AS DATE) NOT IN (${Oracle.holidaysIn})
      ORDER BY symbol, bar_ts"""
    },

    "q_processed_table" -> {
      import graft.operators.Market.Oracle
      s"""
      WITH $barsCte,
      valid AS (SELECT * FROM bars
                WHERE "open" > 0 AND high > 0 AND low > 0 AND "close" > 0
                  AND volume > 0 AND high >= low),
      et AS (SELECT *, ${Oracle.et("bar_ts")} AS et_ts FROM valid),
      mh AS (SELECT symbol, bar_ts, "open", high, low, "close", volume,
               CAST(et_ts AS DATE) AS et_date,
               strftime(et_ts, '%H:%M:%S') AS et_time
             FROM et
             WHERE strftime(et_ts, '%H:%M:%S') BETWEEN '09:30:00' AND '16:00:00'
               AND isodow(et_ts) <= 5
               AND CAST(et_ts AS DATE) NOT IN (${Oracle.holidaysIn})),
      daily AS (SELECT symbol, et_date, arg_max("close", bar_ts) AS eod_close
                FROM mh GROUP BY 1, 2),
      eod AS (SELECT symbol, et_date,
                round(sum(CAST(eod_close AS DECIMAL(18,6))) OVER (PARTITION BY symbol ORDER BY et_date
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)::DOUBLE
                  / count(eod_close) OVER (PARTITION BY symbol ORDER BY et_date
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 5e-9, 4) AS eod_ma5
              FROM daily),
      m AS (SELECT symbol, bar_ts, "open", high, low, "close", volume, et_date, et_time,
              round(sum(CAST("close" AS DECIMAL(18,6))) OVER (PARTITION BY symbol ORDER BY bar_ts
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)::DOUBLE
                / count("close") OVER (PARTITION BY symbol ORDER BY bar_ts
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 5e-9, 4) AS ma5,
              round(sum(CAST("close" AS DECIMAL(18,6))) OVER (PARTITION BY symbol ORDER BY bar_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
                / count("close") OVER (PARTITION BY symbol ORDER BY bar_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 5e-9, 4) AS cma
            FROM mh)
      SELECT m.symbol, m.bar_ts, m."open", m.high, m.low, m."close", m.volume,
        m.et_date, m.et_time, m.ma5, m.cma, e.eod_ma5
      FROM m JOIN eod e ON m.symbol = e.symbol AND m.et_date = e.et_date
      ORDER BY m.symbol, m.bar_ts"""
    },

    "q_eod_ma5" -> s"""
      WITH $barsCte,
      daily AS (
        SELECT symbol, CAST(bar_ts AS DATE) AS bar_date,
               arg_max("close", bar_ts) AS eod_close
        FROM bars GROUP BY 1, 2),
      eod AS (
        SELECT symbol, bar_date,
          round(sum(CAST(eod_close AS DECIMAL(18,6))) OVER (PARTITION BY symbol ORDER BY bar_date
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)::DOUBLE
            / count(eod_close) OVER (PARTITION BY symbol ORDER BY bar_date
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 5e-9, 4) AS eod_ma5
        FROM daily)
      SELECT b.symbol, b.bar_ts, CAST(b.bar_ts AS DATE) AS bar_date, b."close", e.eod_ma5
      FROM bars b JOIN eod e
        ON b.symbol = e.symbol AND CAST(b.bar_ts AS DATE) = e.bar_date
      ORDER BY b.symbol, b.bar_ts""",

    "q_missing_report" -> {
      import graft.operators.Market.Oracle
      s"""
      WITH $barsCte,
      et AS (SELECT DISTINCT symbol,
               CAST(${Oracle.et("bar_ts")} AS DATE) AS et_date,
               strftime(${Oracle.et("bar_ts")}, '%H:%M:%S') AS et_time
             FROM bars),
      span AS (SELECT symbol, min(et_date) AS d0, max(et_date) AS d1
               FROM et GROUP BY 1),
      days AS (SELECT symbol, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS et_date
               FROM span),
      bdays AS (SELECT symbol, et_date FROM days
                WHERE isodow(et_date) <= 5
                  AND et_date NOT IN (${Oracle.holidaysIn})),
      grid AS (SELECT symbol, et_date, unnest(${Oracle.slotList}) AS slot FROM bdays),
      miss AS (SELECT g.symbol, g.et_date, g.slot FROM grid g
               WHERE NOT EXISTS (SELECT 1 FROM et e
                 WHERE e.symbol = g.symbol AND e.et_date = g.et_date
                   AND e.et_time = g.slot))
      SELECT symbol, et_date, count(*)::BIGINT AS n_missing,
        min(slot) AS first_missing, max(slot) AS last_missing
      FROM miss GROUP BY symbol, et_date
      ORDER BY symbol, et_date"""
    },

    "q_atr" -> s"""
      WITH $barsCte, $rnCte,
      t AS (
        SELECT symbol, bar_ts, rn,
          CASE WHEN lag("close", 1) ${wf("")} IS NULL THEN NULL
               ELSE greatest(high - low,
                             abs(high - lag("close", 1) ${wf("")}),
                             abs(low - lag("close", 1) ${wf("")})) END AS tr
        FROM b)
      SELECT symbol, bar_ts, round(tr + 5e-9, 4) AS tr,
        CASE WHEN rn >= 15 THEN round(avg(tr) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} + 5e-9, 4) END AS atr
      FROM t ORDER BY symbol, bar_ts""",

    "q_stochastic" -> s"""
      WITH $barsCte, $rnCte,
      k AS (
        SELECT symbol, bar_ts, rn,
          CASE WHEN rn < 14 THEN NULL
               WHEN max(high) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} = min(low) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} THEN NULL
               ELSE ("close" - min(low) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")})
                    / (max(high) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} - min(low) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")}) * 100 END AS k_raw
        FROM b)
      SELECT symbol, bar_ts, round(k_raw + 5e-9, 4) AS stoch_k,
        CASE WHEN rn >= 16 AND count(k_raw) ${wf("ROWS BETWEEN 2 PRECEDING AND CURRENT ROW")} = 3
             THEN round(avg(k_raw) ${wf("ROWS BETWEEN 2 PRECEDING AND CURRENT ROW")} + 5e-9, 4) END AS stoch_d
      FROM k ORDER BY symbol, bar_ts""",

    "q_obv" -> s"""
      WITH $barsCte,
      d AS (
        SELECT symbol, bar_ts, "close", volume,
          "close" - lag("close", 1) ${wf("")} AS delta
        FROM bars),
      s AS (
        SELECT symbol, bar_ts, "close", volume,
          CASE WHEN delta > 0 THEN volume
               WHEN delta < 0 THEN -volume
               ELSE 0 END AS signed_vol
        FROM d)
      SELECT symbol, bar_ts, "close", volume,
        (sum(signed_vol) ${wf("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")})::BIGINT AS obv
      FROM s ORDER BY symbol, bar_ts""",

    "q_williams_r" -> s"""
      WITH $barsCte, $rnCte
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn < 14 THEN NULL
             WHEN max(high) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} = min(low) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} THEN NULL
             ELSE round((max(high) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} - "close")
                  / (max(high) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} - min(low) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")}) * -100 + 5e-9, 4) END AS williams_r
      FROM b ORDER BY symbol, bar_ts""",

    "q_vwap" -> s"""
      WITH $barsCte
      SELECT symbol, bar_ts, "close", volume,
        round(sum(CAST("close" AS DECIMAL(18,6)) * volume) ${wf("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")}::DOUBLE
              / sum(volume) ${wf("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")} + 5e-9, 4) AS vwap
      FROM bars ORDER BY symbol, bar_ts""",

    "q_momentum" -> s"""
      WITH $barsCte,
      l AS (
        SELECT symbol, bar_ts, "close", lag("close", 10) ${wf("")} AS lag10
        FROM bars)
      SELECT symbol, bar_ts, "close",
        CASE WHEN lag10 IS NOT NULL AND lag10 <> 0
             THEN round(("close" / lag10 - 1) * 100 + 5e-9, 4) END AS roc,
        round("close" - lag10 + 5e-9, 4) AS mom
      FROM l ORDER BY symbol, bar_ts""",

    "q_summary_stats" -> s"""
      WITH $barsCte
      SELECT symbol,
        min("open") AS min_open, round(sum(CAST("open" AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS avg_open, max("open") AS max_open,
        min(high) AS min_high, round(sum(CAST(high AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS avg_high, max(high) AS max_high,
        min(low) AS min_low, round(sum(CAST(low AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS avg_low, max(low) AS max_low,
        min("close") AS min_close, round(sum(CAST("close" AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS avg_close, max("close") AS max_close,
        min(volume) AS min_volume, round(sum(volume)::DOUBLE / count(*) + 5e-9, 4) AS avg_volume, max(volume) AS max_volume
      FROM bars GROUP BY symbol ORDER BY symbol""",

    "q_weekly_range" -> s"""
      WITH $barsCte,
      r AS (
        SELECT symbol,
          CAST(bar_ts AS DATE) - CAST(dayofweek(bar_ts) AS INTEGER) AS week_start,
          high - low AS rng
        FROM bars)
      SELECT symbol, week_start, count(*) AS n_bars,
        round(min(rng) + 5e-9, 4) AS min_range,
        round(quantile_cont(rng, 0.25) + 5e-9, 4) AS q1_range,
        round(quantile_cont(rng, 0.5) + 5e-9, 4) AS med_range,
        round(quantile_cont(rng, 0.75) + 5e-9, 4) AS q3_range,
        round(max(rng) + 5e-9, 4) AS max_range
      FROM r GROUP BY 1, 2 ORDER BY symbol, week_start""",

    // day-of-week seasonality: per-symbol totals derive from the dow
    // partials (nested DECIMAL sums stay exact), one bars pass
    "q_seasonality" -> s"""
      WITH $barsCte,
      d AS (SELECT symbol, dayname(bar_ts) AS day_name,
              sum(CAST(close AS DECIMAL(18,6))) AS sd, count(*)::BIGINT AS nd
            FROM bars GROUP BY 1, 2),
      s AS (SELECT symbol, sum(sd) AS sa, sum(nd)::BIGINT AS na FROM d GROUP BY 1)
      SELECT d.symbol, d.day_name, d.nd AS n_bars,
        round(sd::DOUBLE / nd + 5e-9, 4) AS avg_close,
        round(sd::DOUBLE / nd - sa::DOUBLE / na + 5e-9, 4) AS dow_effect
      FROM d JOIN s USING (symbol) ORDER BY d.symbol, d.day_name""",

    "q_volume_heatmap" -> s"""
      WITH $barsCte
      SELECT dayname(bar_ts) AS day_name, hour(bar_ts)::BIGINT AS hour,
        round(sum(volume)::DOUBLE / count(*) + 5e-9, 4) AS avg_volume, sum(volume)::BIGINT AS total_volume
      FROM bars GROUP BY 1, 2 ORDER BY day_name, hour""",

    "q_volume_pivot" -> {
      val hourCols = (0 to 23).map(h =>
        f"coalesce(sum(volume) FILTER (hour(bar_ts) = $h), 0)::BIGINT AS h$h%02d")
        .mkString(",\n        ")
      s"""
      WITH $barsCte
      SELECT dayname(bar_ts) AS day_name,
        $hourCols
      FROM bars GROUP BY 1 ORDER BY day_name"""
    },

    // wide→long inverse of q_volume_pivot (pivot→unpivot round trip):
    // dense 7×24 grid with zero-filled empty cells
    "q_volume_unpivot" -> s"""
      WITH $barsCte,
      g AS (SELECT dayname(bar_ts) AS day_name, hour(bar_ts)::BIGINT AS hour,
              sum(volume)::BIGINT AS volume
            FROM bars GROUP BY 1, 2),
      grid AS (SELECT d.day_name, h.hour
               FROM (SELECT DISTINCT day_name FROM g) d,
                    (SELECT unnest(generate_series(0::BIGINT, 23::BIGINT)) AS hour) h)
      SELECT grid.day_name, grid.hour, coalesce(g.volume, 0)::BIGINT AS volume
      FROM grid LEFT JOIN g ON g.day_name = grid.day_name AND g.hour = grid.hour
      ORDER BY grid.day_name, grid.hour""",

    "q_rollup_revenue" -> """
      SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
        count(*) AS n_orders,
        GROUPING(r_name)::BIGINT AS g_region,
        GROUPING(n_name)::BIGINT AS g_nation
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY 1, 2""",

    "q_latest_metrics" -> s"""
      WITH $barsCte,
      a AS (
        SELECT symbol,
          arg_max("close", bar_ts) AS last_close,
          arg_max("open", bar_ts) AS last_open,
          arg_max(volume, bar_ts) AS last_volume,
          sum(volume)::DOUBLE / count(*) AS mean_volume,
          count(*) AS n_bars
        FROM bars GROUP BY symbol)
      SELECT symbol, last_close, n_bars,
        CASE WHEN last_open <> 0
             THEN round((last_close - last_open) / last_open * 100 + 5e-9, 4) END AS price_change_pct,
        last_volume,
        CASE WHEN mean_volume <> 0
             THEN round((last_volume - mean_volume) / mean_volume * 100 + 5e-9, 4) END AS volume_change_pct
      FROM a ORDER BY symbol""",

    "q1_agg" -> """
      WITH li AS (
        SELECT l_returnflag, l_linestatus,
          CAST(l_quantity AS DECIMAL(18,6)) AS qty,
          CAST(l_extendedprice AS DECIMAL(18,6)) AS price,
          CAST(l_discount AS DECIMAL(18,6)) AS disc,
          CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS disc_price,
          CAST(l_tax AS DECIMAL(18,6)) AS tax
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
      SELECT l_returnflag, l_linestatus,
        round(sum(qty), 2)::DOUBLE AS sum_qty,
        round(sum(price), 2)::DOUBLE AS sum_base_price,
        round(sum(disc_price), 2)::DOUBLE AS sum_disc_price,
        round(sum(CAST(disc_price * (1 + tax) AS DECIMAL(18,6))), 2)::DOUBLE AS sum_charge,
        round(sum(qty)::DOUBLE / count(*) + 5e-9, 4) AS avg_qty,
        round(sum(price)::DOUBLE / count(*) + 5e-9, 4) AS avg_price,
        round(sum(disc)::DOUBLE / count(*) + 5e-9, 4) AS avg_disc,
        count(*) AS count_order
      FROM li
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q_join_agg" -> """
      SELECT r_name, n_name,
        round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
        round(sum(CAST(o_totalprice AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS avg_order,
        count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",

    "q_topk_per_group" -> """
      SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders) t
      WHERE rk <= 3 ORDER BY o_custkey, rk""",

    "q_dedup_latest" -> """
      SELECT event_id, ts, user_id, event_type, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
      ORDER BY event_type, ts""",

    "q_latest_ts" -> """
      SELECT event_type, max(ts) AS latest_ts, count(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""",

    // fetch-freshness guard: whole-minute watermark age at a fixed asOf
    // instant, fetch iff age >= 30 min (integer micros arithmetic on
    // both engines — epoch_us ≡ unix_micros, // ≡ div)
    "q_fetch_guard" -> """
      WITH w AS (SELECT event_type AS symbol, max(ts) AS latest_ts
                 FROM events GROUP BY 1)
      SELECT symbol, latest_ts,
        (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(latest_ts)) // 60000000 AS age_min,
        ((epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(latest_ts)) // 60000000) >= 30 AS should_fetch
      FROM w ORDER BY symbol""",

    "q_time_filter" -> """
      SELECT event_id, ts, event_type, value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
      ORDER BY event_id""",

    "q_validate_clean" -> """
      SELECT event_id, ts, user_id, event_type, value,
        TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k
      FROM events
      WHERE value IS NOT NULL AND value >= 0
        AND TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) IS NOT NULL
        AND TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) >= 0
      ORDER BY event_id""",

    "q_sessionize" -> """
      WITH x AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
               THEN 1 ELSE 0 END AS is_new
        FROM events),
      y AS (
        SELECT user_id, ts, value,
          (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
        FROM x)
      SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
        count(*) AS n_events, round(sum(value) + 5e-9, 4) AS total_value
      FROM y GROUP BY 1, 2 ORDER BY user_id, session_id""",

    "q_gap_fill" -> s"""
      WITH $barsCte,
      g AS (SELECT symbol, unnest(generate_series(t0, t1, INTERVAL 5 MINUTE)) AS bar_ts
            FROM (SELECT symbol, min(bar_ts) AS t0, max(bar_ts) AS t1 FROM bars GROUP BY 1)),
      j AS (SELECT g.symbol, g.bar_ts, b."close", b.volume
            FROM g LEFT JOIN bars b ON b.symbol = g.symbol AND b.bar_ts = g.bar_ts)
      SELECT symbol, bar_ts, "close",
        (CASE WHEN "close" IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_gap,
        last_value("close" IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY bar_ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
        first_value("close" IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY bar_ts
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS close_bfill,
        coalesce(volume, 0)::BIGINT AS volume_filled
      FROM j ORDER BY symbol, bar_ts""",

    "q_incremental_ingest" -> """
      SELECT event_id, ts, user_id, event_type, value
      FROM events i
      WHERE NOT EXISTS (
        SELECT 1 FROM events x
        WHERE x.ts < TIMESTAMP '2024-01-15 00:00:00'
          AND x.event_type = i.event_type AND x.ts = i.ts)
      ORDER BY event_id""",

    "q_count_distinct" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_asof_join" -> s"""
      WITH $barsCte
      SELECT e.event_type AS symbol, e.event_id, e.ts, e.value,
        b."close" AS last_bar_close
      FROM events e ASOF LEFT JOIN bars b
        ON e.event_type = b.symbol AND e.ts >= b.bar_ts
      ORDER BY e.event_id"""
  )

  /** Shared doc-normalization / n-gram fragments (mirror TextAnalysis /
    * Dedup exactly; DuckDB regexp_replace needs the 'g' flag). */
  private val normExpr =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g'))"""

  private val ngramCtes = """
    t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
    ex AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i FROM t),
    ng AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ng FROM ex)"""

  private val ngramCtes5 = """
    t5 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
    ex5 AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS i FROM t5),
    ng5 AS (SELECT DISTINCT doc_id,
      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS ng FROM ex5)"""

  /** Greedy longest-match WordPiece walk as recursive CTEs (linear in
    * the DISTINCT dictionary, the q_tokenize device) ending in
    * `dw(doc_id, w)` + `tok(w, t, u)` — per-word subword-token count
    * and whole-word-UNK flag. Shared by q_tokenize (per-doc rollup)
    * and q_vocab_coverage (per-source rollup). Expects WITH RECURSIVE. */
  private def wpTokCtes: String = {
    val vocabValues = graft.functions.WordPieceVocab.entries
      .map(v => s"('$v')").mkString(", ")
    s"""
      dw AS (SELECT doc_id, lower(w) AS w
             FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(text, '[^A-Za-z0-9]+')) AS w
                   FROM documents)
             WHERE w <> ''),
      words AS (SELECT DISTINCT w FROM dw),
      vocab(v) AS (VALUES $vocabValues),
      walk(w, pos, n) AS (
        SELECT w, 1, 0 FROM words
        UNION ALL
        SELECT walk.w, walk.pos + max(len(v.v)), walk.n + 1
        FROM walk JOIN vocab v ON substr(walk.w, walk.pos, len(v.v)) = v.v
        WHERE walk.pos <= len(walk.w)
        GROUP BY walk.w, walk.pos, walk.n),
      fin AS (SELECT w, len(w) AS wl, max(pos) AS mp, max(n) AS mn
              FROM walk GROUP BY w),
      tok AS (SELECT w,
                CASE WHEN mp = wl + 1 THEN mn ELSE 1 END AS t,
                CASE WHEN mp = wl + 1 THEN 0 ELSE 1 END AS u
              FROM fin)"""
  }

  /** Sequential left-fold dot product — same op order as the Spark
    * `aggregate(zip_with(...))` fold, so results are bit-identical. */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, (x, i) -> x * $b[i])), (p, s) -> p + s)"

  private val vecCtes = s"""
    e AS (SELECT vec_id, list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    nv AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e)"""

  /** Scale-adaptive IVF centroid CTEs, mirroring
    * [[graft.operators.Similarity.ivfKFor]]: K = clamp(⌈√N⌉, 32, 4096)
    * computed from the corpus itself, centroids = the first K vectors
    * in (md5, vec_id) order. Emits CTEs `ivfkk`, `ivfcr`, and
    * `$name(cent_id, cv)`. */
  private def ivfCentCtes(name: String): String = {
    import graft.operators.Similarity.{IvfKMin, IvfKMax}
    s"""
      ivfkk AS (SELECT least(greatest(CAST(ceil(sqrt(count(*))) AS BIGINT), $IvfKMin),
                  $IvfKMax) AS k FROM nv),
      ivfcr AS (SELECT vec_id AS cent_id, v AS cv,
                  row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
                FROM nv),
      $name AS (SELECT cent_id, cv FROM ivfcr, ivfkk WHERE rn <= ivfkk.k)"""
  }

  /** CTE text from a given `h(doc_id, h)` 32-bit-hash CTE to the
    * banding candidate pairs `p(doc_a, doc_b)` (16 bands × r=4, md5
    * band keys, 64-member bucket cap) — the shared tail of every
    * minhash-pair consumer. */
  private val minhashPairsTail: String = {
    import graft.operators.Dedup.MinhashPrime
    val mh = (0 until 64).map(j =>
      s"min((h * ${2L * j + 1} + $j) % $MinhashPrime) AS mh$j").mkString(",\n        ")
    val bandSelects = (0 until 16).map { b =>
      val key = (0 until 4).map(i => s"mh${b * 4 + i}::VARCHAR").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""sig AS (SELECT doc_id,
        $mh
       FROM h GROUP BY doc_id),
      bands AS ($bandSelects),
      capped AS (SELECT * FROM bands
                 QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 64),
      p AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM capped l JOIN capped r
              ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)"""
  }

  /** CTE chain ending in `p(doc_a, doc_b)`: the MinHash/LSH banding
    * candidate pairs — shared by q_dedup_minhash_pairs and
    * q_dedup_clusters. */
  private val minhashPairsCtes: String =
    s"""$ngramCtes,
      h AS (SELECT doc_id, CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) AS h FROM ng),
      $minhashPairsTail"""

  /** CTE chain ending in `lab(doc_id, cluster_id)`: connected components
    * (the unique min-label fixpoint) over the minhash pair graph via a
    * recursive transitive closure. Must follow a `WITH RECURSIVE`. */
  private val clusterLabCtes: String = s"""$minhashPairsCtes,
      e AS (SELECT doc_a AS src, doc_b AS dst FROM p
            UNION ALL SELECT doc_b, doc_a FROM p),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
      lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)"""

  /** CTE chain ending in `flags(doc_id, too_short, word_len_bad,
    * punct_heavy, repetitive)` — the quality-filter rules over the same
    * 4dp-rounded signals as q_text_quality / q_repetition; shared by
    * q_quality_filter and q_export_plan. */
  private val qualityFlagCtes: String = """w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      q AS (SELECT doc_id,
          len(ws)::BIGINT AS n_tokens,
          length(regexp_replace(text, '\s+', '', 'g'))::BIGINT AS n_nonws,
          len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct,
          length(text)::BIGINT AS n_chars
        FROM w),
      qr AS (SELECT doc_id, n_tokens,
          CASE WHEN n_tokens > 0 THEN round(n_nonws::DOUBLE / n_tokens + 5e-9, 4) END AS avg_word_len,
          CASE WHEN n_chars > 0 THEN round(n_punct::DOUBLE / n_chars + 5e-9, 4) END AS punct_ratio
        FROM q),
      base AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
                 len(list_distinct(ws))::BIGINT AS n_distinct, ws FROM w),
      bg AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
             FROM base WHERE n_words >= 2),
      cnt AS (SELECT doc_id, bg, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
      top AS (SELECT doc_id, max(c)::BIGINT AS top_bigram_n,
                sum(c)::BIGINT AS n_bigrams FROM cnt GROUP BY 1),
      rep AS (SELECT b.doc_id,
          CASE WHEN b.n_words > 0
               THEN round((b.n_words - b.n_distinct)::DOUBLE / b.n_words + 5e-9, 4) END AS dup_word_frac,
          CASE WHEN t.n_bigrams > 0
               THEN round(t.top_bigram_n::DOUBLE / t.n_bigrams + 5e-9, 4) END AS top_bigram_frac
        FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id),
      flags AS (SELECT qr.doc_id,
          (qr.n_tokens < 10) AS too_short,
          (coalesce(qr.avg_word_len, 0.0) < 2.5 OR coalesce(qr.avg_word_len, 0.0) > 10.0) AS word_len_bad,
          (coalesce(qr.punct_ratio, 0.0) > 0.1) AS punct_heavy,
          (coalesce(rep.dup_word_frac, 0.0) > 0.4 OR coalesce(rep.top_bigram_frac, 0.0) > 0.3) AS repetitive
        FROM qr JOIN rep ON rep.doc_id = qr.doc_id)"""

  /** BPE merge-learning oracle: k unrolled rounds of (pair-count CTE →
    * 1-row argmax CTE → merge-application CTE), each the exact twin of
    * the engine's per-round jobs ([[graft.operators.Bpe.bpeMerges]]).
    * seg CTEs are MATERIALIZED — each is referenced twice (next round's
    * counts + next segmentation) and DuckDB re-inlines bare CTEs per
    * reference, which would re-run the whole prefix per round. Plain
    * string concat (no interpolator) so regex/replacement backslashes
    * survive verbatim. */
  private val bpeRounds = 8

  private val bpeOracleSql: String = {
    val head = """
      WITH wf AS MATERIALIZED (
        SELECT w AS word, count(*)::BIGINT AS freq
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
              FROM documents) t
        GROUP BY w),
      seg0 AS MATERIALIZED (
        SELECT word, freq, '|' || regexp_replace(word, '(.)', '\1|', 'g') AS seg
        FROM wf)"""
    val pcTemplate = """,
      pcI AS (
        SELECT split_part(pr, ' ', 1) AS l, split_part(pr, ' ', 2) AS r,
               sum(freq)::BIGINT AS c
        FROM (SELECT freq,
                unnest(list_transform(generate_series(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i + 1])) AS pr
              FROM (SELECT freq,
                      list_filter(string_split(seg, '|'), t -> t <> '') AS toks
                    FROM segP) t
              WHERE len(toks) >= 2) t2
        GROUP BY 1, 2),
      mI AS (SELECT l, r, c FROM pcI ORDER BY c DESC, l, r LIMIT 1)"""
    val segTemplate = """,
      segI AS MATERIALIZED (
        SELECT word, freq,
          list_reduce(
            list_prepend('|', list_filter(string_split(seg, '|'), t -> t <> '')),
            (acc, t) -> CASE WHEN t = m.r AND ends_with(acc, '|' || m.l || '|')
              THEN substr(acc, 1, length(acc) - length(m.l) - 1)
                     || m.l || m.r || '|'
              ELSE acc || t || '|' END) AS seg
        FROM segP, mI m)"""
    val rounds = (1 to bpeRounds).map { i =>
      val pc = pcTemplate.replace("pcI", "pc" + i).replace("mI", "m" + i)
        .replace("segP", "seg" + (i - 1))
      val sg = if (i < bpeRounds)
        segTemplate.replace("segI", "seg" + i).replace("mI", "m" + i)
          .replace("segP", "seg" + (i - 1))
      else ""
      pc + sg
    }.mkString
    val union = (1 to bpeRounds).map { i =>
      "SELECT " + i + "::BIGINT AS merge_rank, l AS t_left, r AS t_right, " +
        "l || r AS merged, c AS pair_count FROM m" + i
    }.mkString("\n        UNION ALL ")
    head + rounds + "\n      SELECT * FROM (\n        " + union +
      ") u ORDER BY merge_rank"
  }

  /** Unigram-LM vocabulary induction — the three greedy-segmentation
    * rounds unrolled as CTE blocks. Per round: the per-position
    * LONGEST-match table (the 1..6 substring candidates hash-joined to
    * the round's vocab, rank-1 by piece length), its next-cursor
    * pointer table, and the greedy walk replayed as a RECURSIVE
    * position reachability from cursor 1 through those pointers —
    * purely relational, because a `list_reduce` fold indexing a
    * sibling list column proved NONDETERMINISTIC across runs in DuckDB
    * 1.0 (same connection, same SQL, drifting usage sums); joins are
    * not. Budgets/tie-breaks mirror [[graft.operators.Unigram]]
    * exactly; every count is ::BIGINT. The multiply- and
    * recursively-consumed CTEs are MATERIALIZED — DuckDB re-inlines a
    * plain CTE at every reference (the r9 minhash lesson), which for a
    * recursive consumer would mean once per iteration. */
  private val unigramOracleSql: String = {
    import graft.operators.Unigram.{Budgets, MaxPieceLen, SeedMultis}
    val lens = (2 to MaxPieceLen).mkString(", ")
    val allLens = (1 to MaxPieceLen).mkString(", ")
    def round(k: Int, budget: Int): String = {
      val prune = if (budget > 0) s""",
      v${k + 1} AS MATERIALIZED (SELECT piece FROM ch
            UNION ALL
            SELECT piece FROM (
              SELECT v.piece FROM v$k v LEFT JOIN u$k u USING (piece)
              WHERE length(v.piece) > 1
              ORDER BY coalesce(u.usage, 0) DESC, v.piece LIMIT $budget) t)"""
      else ""
      s""",
      m$k AS MATERIALIZED (SELECT c.word, c.p, c.sub AS piece
            FROM cand c JOIN v$k v ON c.sub = v.piece
            QUALIFY row_number() OVER (PARTITION BY c.word, c.p
              ORDER BY length(c.sub) DESC) = 1),
      n$k AS MATERIALIZED (SELECT word, p, (p + length(piece))::BIGINT AS nxt
            FROM m$k),
      w$k(word, p) AS (SELECT word, 1::BIGINT FROM dw
            UNION
            SELECT n.word, n.nxt FROM w$k w
            JOIN n$k n ON w.word = n.word AND w.p = n.p),
      u$k AS MATERIALIZED (SELECT m.piece, sum(d.freq)::BIGINT AS usage
            FROM w$k w
            JOIN m$k m ON w.word = m.word AND w.p = m.p
            JOIN dw d ON d.word = w.word
            GROUP BY 1)$prune"""
    }
    val rounds = (Budgets :+ -1).zipWithIndex
      .map { case (b, k) => round(k, b) }.mkString
    val last = Budgets.length
    s"""
      WITH RECURSIVE wr AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
                  FROM documents),
      dw AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq,
              length(word)::BIGINT AS wlen
            FROM wr GROUP BY 1),
      pos AS MATERIALIZED (SELECT word, freq, wlen,
              unnest(generate_series(1, wlen)) AS p FROM dw),
      ch AS MATERIALIZED (SELECT DISTINCT substr(word, p::INT, 1) AS piece FROM pos),
      sub AS (SELECT substr(word, p::INT, l::INT) AS piece, sum(freq)::BIGINT AS cnt
            FROM pos, (SELECT unnest([$lens]) AS l) ll
            WHERE p + l - 1 <= wlen GROUP BY 1),
      tops AS (SELECT piece FROM sub ORDER BY cnt DESC, piece LIMIT $SeedMultis),
      v0 AS (SELECT piece FROM ch UNION ALL SELECT piece FROM tops),
      cand AS MATERIALIZED (SELECT word, p, substr(word, p::INT, l::INT) AS sub
            FROM pos, (SELECT unnest([$allLens]) AS l) la
            WHERE p + l - 1 <= wlen)$rounds
      SELECT v.piece, length(v.piece)::BIGINT AS n_chars,
        (length(v.piece) = 1) AS is_single,
        coalesce(u.usage, 0)::BIGINT AS usage
      FROM v$last v LEFT JOIN u$last u USING (piece)
      ORDER BY v.piece"""
  }

  private val textOps: Map[String, String] = Map(
    "q_bpe_merges" -> bpeOracleSql,
    "q_unigram_vocab" -> unigramOracleSql,

    // dedup ROI: cluster-size histogram over the same recursive-CTE
    // fixpoint as q_dedup_clusters
    "q_cluster_stats" -> s"""
      WITH RECURSIVE $clusterLabCtes,
      cs AS (SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
             FROM lab)
      SELECT cluster_size, count(DISTINCT cluster_id)::BIGINT AS n_clusters,
        count(*)::BIGINT AS n_docs,
        sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)::BIGINT AS n_removed
      FROM cs GROUP BY cluster_size ORDER BY cluster_size""",

    // CCNet-style segment dedup: segments = consecutive 10-word windows;
    // a hash seen in >=2 distinct docs is boilerplate, all instances
    // removed; cleaned text checked via md5 of the ordered rejoin
    "q_seg_dedup" -> """
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents WHERE len(trim(text)) > 0),
      e AS (SELECT doc_id, ws, unnest(generate_series(0, (len(ws)-1)//10)) AS seg_id FROM t),
      sg AS (SELECT doc_id, seg_id,
               array_to_string(ws[(seg_id*10+1):(seg_id*10+10)], ' ') AS seg FROM e),
      sh AS (SELECT md5(seg) AS h FROM sg GROUP BY 1
             HAVING count(DISTINCT doc_id) >= 2),
      f AS (SELECT doc_id, seg_id, seg,
              (md5(seg) IN (SELECT h FROM sh)) AS dup FROM sg)
      SELECT doc_id, count(*)::BIGINT AS n_seg,
        sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_shared_seg,
        sum(CASE WHEN NOT dup THEN len(string_split(seg, ' ')) ELSE 0 END)::BIGINT AS kept_words,
        md5(coalesce(string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY seg_id), '')) AS clean_md5
      FROM f GROUP BY doc_id ORDER BY doc_id""",

    // MinHash calibration: estimated vs exact Jaccard on the LSH pairs;
    // both are exact integer ratios so the error doubles agree bitwise
    "q_minhash_est" -> {
      val matches = (0 until 64).map(j =>
        s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""
      WITH $minhashPairsCtes,
      szs AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS m
                FROM p JOIN ng x ON x.doc_id = p.doc_a
                       JOIN ng y ON y.doc_id = p.doc_b AND y.ng = x.ng
                GROUP BY 1, 2),
      sm AS (SELECT p.doc_a, p.doc_b, ($matches)::BIGINT AS sig_matches
             FROM p JOIN sig a ON a.doc_id = p.doc_a
                    JOIN sig b ON b.doc_id = p.doc_b)
      SELECT sm.doc_a, sm.doc_b, sm.sig_matches,
        round(sm.sig_matches::DOUBLE / 64::DOUBLE + 5e-9, 4) AS est_jaccard,
        round(coalesce(i.m, 0)::DOUBLE
          / (sa.n + sb.n - coalesce(i.m, 0))::DOUBLE + 5e-9, 4) AS jaccard,
        round(abs(sm.sig_matches::DOUBLE / 64::DOUBLE
          - coalesce(i.m, 0)::DOUBLE / (sa.n + sb.n - coalesce(i.m, 0))::DOUBLE)
          + 5e-9, 4) AS abs_err
      FROM sm JOIN szs sa ON sa.doc_id = sm.doc_a
              JOIN szs sb ON sb.doc_id = sm.doc_b
              LEFT JOIN inter i ON i.doc_a = sm.doc_a AND i.doc_b = sm.doc_b
      ORDER BY sm.doc_a, sm.doc_b"""
    },

    // n-gram novelty: first-occurrence attribution by min doc_id; the
    // ratio is exact integers over integers
    "q_ngram_novelty" -> s"""
      WITH $ngramCtes,
      fs AS (SELECT ng, min(doc_id) AS first_doc FROM ng GROUP BY ng)
      SELECT n.doc_id, count(*)::BIGINT AS n_ngrams,
        sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        round(sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END)::DOUBLE
          / count(*)::DOUBLE + 5e-9, 4) AS novelty
      FROM ng n JOIN fs f ON f.ng = n.ng
      GROUP BY n.doc_id ORDER BY n.doc_id""",

    // unigram LM score: ln T − (Σ ln c_w)/n with the Σ folded over the
    // word-sorted list (one fixed summation order) — ln feeds an output
    // VALUE, not a ranking, so the `+ 5e-9, 4dp` edge rounding absorbs
    // the engines' ≤2-ulp-per-term ln() differences
    "q_lm_score" -> """
      WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                 FROM documents WHERE length(trim(text)) > 0),
      v AS (SELECT w, count(*)::BIGINT AS c FROM w GROUP BY w),
      t AS (SELECT sum(c)::BIGINT AS t FROM v),
      d AS (SELECT w.doc_id, count(*)::BIGINT AS n_tokens,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ln(v.c::DOUBLE) ORDER BY w.w)), (p, s) -> p + s) AS sl
            FROM w JOIN v ON v.w = w.w GROUP BY w.doc_id)
      SELECT docs.doc_id,
        coalesce(d.n_tokens, 0)::BIGINT AS n_tokens,
        CASE WHEN d.doc_id IS NOT NULL
          THEN round(ln(t.t::DOUBLE) - d.sl / d.n_tokens::DOUBLE + 5e-9, 4)
        END AS lm_score
      FROM documents docs LEFT JOIN d ON d.doc_id = docs.doc_id, t
      ORDER BY docs.doc_id""",

    // CCNet terciles over the q_lm_score CTEs: exact integer rank cut
    // ((rk-1)*3)//n over the (rounded lm_score, doc_id) order
    "q_ccnet_buckets" -> """
      WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                 FROM documents WHERE length(trim(text)) > 0),
      v AS (SELECT w, count(*)::BIGINT AS c FROM w GROUP BY w),
      t AS (SELECT sum(c)::BIGINT AS t FROM v),
      d AS (SELECT w.doc_id, count(*)::BIGINT AS n_tokens,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ln(v.c::DOUBLE) ORDER BY w.w)), (p, s) -> p + s) AS sl
            FROM w JOIN v ON v.w = w.w GROUP BY w.doc_id),
      s AS (SELECT d.doc_id, docs.lang, d.n_tokens,
              round(ln(t.t::DOUBLE) - d.sl / d.n_tokens::DOUBLE + 5e-9, 4) AS lm_score
            FROM d JOIN documents docs ON docs.doc_id = d.doc_id, t
            WHERE d.n_tokens > 0),
      r AS (SELECT lang, n_tokens, lm_score,
              ((row_number() OVER (PARTITION BY lang ORDER BY lm_score, doc_id) - 1) * 3)
                // (count(*) OVER (PARTITION BY lang)) AS bucket
            FROM s)
      SELECT lang, bucket::BIGINT AS bucket,
        CASE WHEN bucket = 0 THEN 'head' WHEN bucket = 1 THEN 'middle'
          ELSE 'tail' END AS bucket_name,
        count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
        min(lm_score) AS min_lm, max(lm_score) AS max_lm
      FROM r GROUP BY lang, bucket ORDER BY lang, bucket""",

    // deterministic 20% stratified sample: md5 order + integer ceiling
    // division, no float thresholds
    "q_stratified_sample" -> """
      WITH r AS (SELECT doc_id, source, lang,
          row_number() OVER (PARTITION BY source, lang
            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk,
          count(*) OVER (PARTITION BY source, lang) AS n_stratum
        FROM documents)
      SELECT doc_id, source, lang, rk::BIGINT AS rk, n_stratum::BIGINT AS n_stratum
      FROM r WHERE rk <= (n_stratum + 4) // 5 ORDER BY doc_id""",

    // token-count histogram: integer bucket key, exact integer sums
    "q_token_hist" -> """
      WITH t AS (SELECT len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS ws_tokens
                 FROM documents),
      b AS (SELECT ws_tokens // 16 AS bucket, ws_tokens FROM t)
      SELECT bucket, bucket * 16 AS bucket_lo, count(*)::BIGINT AS n_docs,
        sum(ws_tokens)::BIGINT AS total_tokens,
        round(sum(ws_tokens)::DOUBLE / count(*)::DOUBLE + 5e-9, 4) AS avg_tokens
      FROM b GROUP BY bucket ORDER BY bucket""",

    // per-benchmark-doc contamination exposure (reverse of
    // q_decontaminate): distinct-5-gram overlap with the candidate corpus
    "q_contam_report" -> s"""
      WITH $ngramCtes5,
      bn AS (SELECT n.doc_id, n.ng FROM ng5 n
             JOIN documents d ON d.doc_id = n.doc_id AND d.source = 'src0'),
      cn AS (SELECT DISTINCT n.ng FROM ng5 n
             JOIN documents d ON d.doc_id = n.doc_id AND d.source <> 'src0'),
      hits AS (SELECT b.doc_id, count(*) AS n_in_corpus
               FROM bn b JOIN cn ON cn.ng = b.ng GROUP BY 1),
      tot AS (SELECT doc_id, count(*) AS n_ngrams FROM bn GROUP BY 1)
      SELECT t.doc_id, t.n_ngrams::BIGINT AS n_ngrams,
        coalesce(h.n_in_corpus, 0)::BIGINT AS n_in_corpus,
        round(coalesce(h.n_in_corpus, 0)::DOUBLE / t.n_ngrams::DOUBLE + 5e-9, 4) AS overlap_frac
      FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
      ORDER BY t.doc_id""",

    "q_token_count" -> """
      SELECT doc_id,
        length(text)::BIGINT AS n_chars_calc,
        len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS ws_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS bpe_tokens
      FROM documents ORDER BY doc_id""",

    // greedy longest-match subword tokenization against the DECLARED
    // vocab (graft.functions.WordPieceVocab — the same literal list the
    // compiled Spark expression matches against). The recursive CTE
    // replays the greedy walk per DISTINCT word: each step consumes the
    // longest vocab entry matching at the cursor (max(len) over the
    // prefix join ≡ longest match — equal-length matches are the same
    // string); a word whose walk stalls before the end is whole-word
    // [UNK]. Distinct-word tokenization + join-back keeps the oracle
    // linear in the dictionary, not the corpus. All-integer counts.
    "q_tokenize" -> s"""
      WITH RECURSIVE $wpTokCtes,
      pd AS (SELECT dw.doc_id, count(*)::BIGINT AS n_words,
               sum(tok.t)::BIGINT AS n_tokens, sum(tok.u)::BIGINT AS n_unk
             FROM dw JOIN tok USING (w) GROUP BY dw.doc_id)
      SELECT d.doc_id,
        coalesce(pd.n_words, 0)::BIGINT AS n_words,
        coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
        coalesce(pd.n_unk, 0)::BIGINT AS n_unk,
        CASE WHEN coalesce(pd.n_words, 0) > 0
          THEN round(pd.n_unk::DOUBLE / pd.n_words::DOUBLE + 5e-9, 4)
          ELSE 0.0 END AS oov_rate
      FROM documents d LEFT JOIN pd USING (doc_id)
      ORDER BY d.doc_id""",

    // per-source tokenizer coverage: the q_tokenize walk aggregated by
    // source — integer-exact sums, OOV + fertility single-division
    "q_vocab_coverage" -> s"""
      WITH RECURSIVE $wpTokCtes,
      pd AS (SELECT dw.doc_id, count(*)::BIGINT AS n_words,
               sum(tok.t)::BIGINT AS n_tokens, sum(tok.u)::BIGINT AS n_unk
             FROM dw JOIN tok USING (w) GROUP BY dw.doc_id)
      SELECT d.source, count(*)::BIGINT AS n_docs,
        sum(coalesce(pd.n_words, 0))::BIGINT AS n_words,
        sum(coalesce(pd.n_tokens, 0))::BIGINT AS n_tokens,
        sum(coalesce(pd.n_unk, 0))::BIGINT AS n_unk,
        CASE WHEN sum(coalesce(pd.n_words, 0)) > 0
          THEN round(sum(coalesce(pd.n_unk, 0))::DOUBLE
            / sum(coalesce(pd.n_words, 0))::DOUBLE + 5e-9, 4)
          ELSE 0.0 END AS oov_rate,
        CASE WHEN sum(coalesce(pd.n_words, 0)) > 0
          THEN round(sum(coalesce(pd.n_tokens, 0))::DOUBLE
            / sum(coalesce(pd.n_words, 0))::DOUBLE + 5e-9, 4)
          ELSE 0.0 END AS fertility
      FROM documents d LEFT JOIN pd USING (doc_id)
      GROUP BY d.source
      ORDER BY d.source""",

    "q_text_quality" -> """
      WITH t AS (
        SELECT doc_id,
          length(text)::BIGINT AS n_chars_calc,
          regexp_split_to_array(trim(text), '\s+') AS wsarr,
          len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct,
          length(regexp_replace(text, '\s+', '', 'g'))::BIGINT AS n_nonws
        FROM documents),
      u AS (
        SELECT doc_id, n_chars_calc, len(wsarr)::BIGINT AS n_tokens,
          len(list_filter(wsarr, w -> w IN ('the','a','of','and','to','in','is')))::BIGINT AS n_stopwords,
          n_punct, n_nonws
        FROM t)
      SELECT doc_id, n_chars_calc, n_tokens, n_stopwords, n_punct,
        CASE WHEN n_tokens > 0 THEN round(n_nonws::DOUBLE / n_tokens + 5e-9, 4) END AS avg_word_len,
        CASE WHEN n_chars_calc > 0 THEN round(n_punct::DOUBLE / n_chars_calc + 5e-9, 4) END AS punct_ratio,
        CASE WHEN n_tokens > 0 THEN round(n_stopwords::DOUBLE / n_tokens + 5e-9, 4) END AS stop_ratio,
        CASE WHEN n_tokens > 0 AND n_chars_calc > 0 THEN
          round(0.4 * (n_stopwords::DOUBLE / n_tokens)
            + 0.3 * least(n_tokens::DOUBLE / 100, 1.0)
            + 0.3 * (1.0 - n_punct::DOUBLE / n_chars_calc) + 5e-9, 4) END AS quality_score
      FROM u ORDER BY doc_id""",

    "q_lang_id" -> """
      WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS wsarr FROM documents),
      s AS (SELECT doc_id,
        len(list_filter(wsarr, w -> w IN ('the','is','and','of','to')))::BIGINT AS en_score,
        len(list_filter(wsarr, w -> w IN ('el','la','de','que','los')))::BIGINT AS es_score,
        len(list_filter(wsarr, w -> w IN ('der','die','das','und','ist')))::BIGINT AS de_score,
        len(list_filter(wsarr, w -> w IN ('le','les','et','des','une')))::BIGINT AS fr_score,
        len(regexp_extract_all(text, '[^ -~]'))::BIGINT AS zh_score
       FROM t)
      SELECT doc_id, en_score, es_score, de_score, fr_score, zh_score,
        CASE WHEN zh_score > 0 THEN 'zh'
             WHEN en_score >= es_score AND en_score >= de_score AND en_score >= fr_score AND en_score > 0 THEN 'en'
             WHEN es_score >= de_score AND es_score >= fr_score AND es_score > 0 THEN 'es'
             WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
             WHEN fr_score > 0 THEN 'fr'
             ELSE 'unknown' END AS pred_lang
      FROM s ORDER BY doc_id""",

    "q_fingerprint" -> s"""
      WITH t AS (SELECT doc_id, $normExpr AS norm FROM documents)
      SELECT doc_id, md5(norm) AS md5_fp,
        CASE WHEN length(norm) = 0 THEN 0
             ELSE list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, length(norm)), i -> ascii(substr(norm, i, 1))::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 4294967296) END AS poly_fp
      FROM t ORDER BY doc_id""",

    "q_repetition" -> """
      WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      base AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
                 len(list_distinct(ws))::BIGINT AS n_distinct, ws FROM w),
      bg AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
             FROM base WHERE n_words >= 2),
      cnt AS (SELECT doc_id, bg, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
      top AS (SELECT doc_id, max(c)::BIGINT AS top_bigram_n,
                sum(c)::BIGINT AS n_bigrams FROM cnt GROUP BY 1)
      SELECT b.doc_id, b.n_words,
        CASE WHEN b.n_words > 0
             THEN round((b.n_words - b.n_distinct)::DOUBLE / b.n_words + 5e-9, 4) END AS dup_word_frac,
        coalesce(t.n_bigrams, 0)::BIGINT AS n_bigrams,
        CASE WHEN t.n_bigrams > 0
             THEN round(t.top_bigram_n::DOUBLE / t.n_bigrams + 5e-9, 4) END AS top_bigram_frac
      FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
      ORDER BY b.doc_id""",

    // composite quality filter: thresholds over the SAME 4dp-rounded
    // signals as q_text_quality / q_repetition, so flags inherit parity
    "q_quality_filter" -> s"""
      WITH $qualityFlagCtes
      SELECT doc_id, too_short, word_len_bad, punct_heavy, repetitive,
        NOT (too_short OR word_len_bad OR punct_heavy OR repetitive) AS keep
      FROM flags ORDER BY doc_id""",

    // integer TF-IDF flavor: rank by (df ASC, tf DESC, term ASC) — no
    // log(), so ranking parity is purely integer/lexicographic
    "q_distinctive_terms" -> """
      WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                    FROM documents),
      tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      r AS (SELECT t.doc_id, t.term, t.tf, d.df,
          (row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tf DESC, t.term))::BIGINT AS rk
        FROM tf t JOIN df d USING (term))
      SELECT doc_id, term, tf, df, rk
      FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",

    // corpus heavy hitters: ALL 3-gram occurrences (no per-doc distinct),
    // deterministic tie-break on the n-gram string
    "q_top_ngrams" -> """
      WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      ex AS (SELECT ws, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i FROM t),
      ng AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ng FROM ex)
      SELECT ng, count(*) AS n_occurrences FROM ng GROUP BY ng
      ORDER BY n_occurrences DESC, ng LIMIT 20""",

    "q_corpus_stats" -> """
      SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        round(sum(n_chars)::DOUBLE / count(*) + 5e-9, 4) AS avg_chars,
        grouping(source)::BIGINT AS g_source, grouping(lang)::BIGINT AS g_lang
      FROM documents GROUP BY CUBE (source, lang)
      ORDER BY source, lang""",

    // sliding-window chunking: starts at multiples of stride=150; a last
    // window fully contained in the previous one (n_chars <= start+50)
    // is dropped
    "q_doc_chunk" -> """
      WITH t AS (SELECT doc_id, text, n_chars,
          unnest(generate_series(0::BIGINT, n_chars - 1, 150)) AS cs FROM documents)
      SELECT doc_id, (cs // 150)::BIGINT AS chunk_id, cs AS chunk_start,
        length(substr(text, (cs + 1)::INTEGER, 200))::BIGINT AS chunk_len,
        md5(substr(text, (cs + 1)::INTEGER, 200)) AS chunk_md5
      FROM t WHERE cs = 0 OR n_chars > cs + 50
      ORDER BY doc_id, chunk_id""",

    "q_dedup_exact_docs" -> s"""
      WITH t AS (SELECT doc_id, md5($normExpr) AS text_hash FROM documents)
      SELECT text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_dups
      FROM t GROUP BY text_hash ORDER BY keep_doc_id""",

    "q_ngram_jaccard" -> s"""
      WITH $ngramCtes,
      sz AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
      ix AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS m
             FROM ng x JOIN ng y ON y.ng = x.ng AND y.doc_id = x.doc_id + 1 GROUP BY 1, 2)
      SELECT p.doc_a, p.doc_b,
        CASE WHEN coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(ix.m, 0) > 0 THEN
          round(coalesce(ix.m, 0)::DOUBLE
            / (coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(ix.m, 0)) + 5e-9, 4) END AS jaccard
      FROM pairs p
      LEFT JOIN sz sa ON sa.doc_id = p.doc_a
      LEFT JOIN sz sb ON sb.doc_id = p.doc_b
      LEFT JOIN ix ON ix.doc_a = p.doc_a AND ix.doc_b = p.doc_b
      ORDER BY p.doc_a""",

    "q_dedup_minhash" -> {
      val mhCols = (0 until 8).map(j =>
        s"min((h * ${2L * j + 1} + $j) % ${graft.operators.Dedup.MinhashPrime}) AS mh$j").mkString(",\n        ")
      s"""
      WITH $ngramCtes,
      h AS (SELECT doc_id, CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) AS h FROM ng)
      SELECT doc_id,
        $mhCols,
        count(*) AS n_ngrams
      FROM h GROUP BY doc_id ORDER BY doc_id"""
    },

    // MinHash/LSH banding pairs: 16 bands × r=4 permutation slices, band
    // key = md5 of the '_'-joined slice, 64-member bucket cap applied
    // BEFORE the self-join, distinct id pairs (mirrors minhashLshPairs)
    "q_dedup_minhash_pairs" -> s"""
      WITH $minhashPairsCtes
      SELECT doc_a, doc_b FROM p ORDER BY doc_a, doc_b""",

    // asymmetric containment |A∩B|/min(|A|,|B|) over the same banded
    // candidate pairs; threshold compares the identical exact-integer
    // division in both engines. Scale hygiene (the sf10 DuckDB wall):
    // the 250M-row shingle DISTINCT runs exactly ONCE, collapsed to the
    // 32-char md5 (the q_source_overlap device, collision-approximate
    // at 2^-128) and MATERIALIZED — the signature hash is its 32-bit
    // prefix (identical to md5(raw gram)'s prefix, so the pair graph is
    // unchanged) and the intersection joins the pair-doc SLICE of the
    // same materialization. The previous form ran the raw-gram distinct
    // twice (sig chain + intersection) and spilled past the box's disk;
    // counts are unchanged, so the engine side needs no edit and the
    // hashes still match
    "q_ngram_containment" -> s"""
      WITH $ngramCtes,
      ngh AS MATERIALIZED (SELECT doc_id, md5(ng) AS mh FROM ng),
      h AS (SELECT doc_id, CAST(concat('0x', substr(mh, 1, 8)) AS BIGINT) AS h FROM ngh),
      $minhashPairsTail,
      pm AS MATERIALIZED (SELECT * FROM p),
      pdocs AS (SELECT DISTINCT doc_id FROM (
                  SELECT doc_a AS doc_id FROM pm
                  UNION ALL SELECT doc_b FROM pm) u),
      ngp AS MATERIALIZED (
        SELECT n.doc_id, n.mh
        FROM ngh n JOIN pdocs USING (doc_id)),
      sz AS (SELECT doc_id, count(*) AS n FROM ngp GROUP BY doc_id),
      ix AS (SELECT pm.doc_a, pm.doc_b, count(*) AS m
             FROM pm JOIN ngp x ON x.doc_id = pm.doc_a
                     JOIN ngp y ON y.doc_id = pm.doc_b AND y.mh = x.mh
             GROUP BY 1, 2),
      c AS (SELECT pm.doc_a, pm.doc_b, coalesce(ix.m, 0) AS m, sa.n AS na, sb.n AS nb
            FROM pm JOIN sz sa ON sa.doc_id = pm.doc_a
                    JOIN sz sb ON sb.doc_id = pm.doc_b
                    LEFT JOIN ix ON ix.doc_a = pm.doc_a AND ix.doc_b = pm.doc_b)
      SELECT doc_a, doc_b,
        round(m::DOUBLE / least(na, nb)::DOUBLE + 5e-9, 4) AS containment,
        round(m::DOUBLE / (na + nb - m)::DOUBLE + 5e-9, 4) AS jaccard
      FROM c
      WHERE least(na, nb) > 0 AND m::DOUBLE / least(na, nb)::DOUBLE >= 0.5
      ORDER BY doc_a, doc_b""",

    // connected components over the LSH pair graph: DuckDB reaches the
    // min-label fixpoint via a recursive transitive closure; the Spark
    // side iterates min-label propagation to the same fixpoint
    "q_dedup_clusters" -> s"""
      WITH RECURSIVE $clusterLabCtes
      SELECT doc_id, cluster_id,
        count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
        (doc_id = cluster_id) AS is_canonical
      FROM lab ORDER BY doc_id""",

    "q_dedup_simhash" -> {
      val votes = (0 until 60).map(i =>
        s"sum(((h >> $i) & 1) * 2 - 1) AS s$i").mkString(",\n        ")
      val bits = (0 until 60).map(i =>
        s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      s"""
      WITH toks AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
      h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM toks),
      v AS (SELECT doc_id,
        $votes,
        count(*) AS n_tokens
       FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($bits AS BIGINT) AS simhash, n_tokens
      FROM v ORDER BY doc_id"""
    },

    // SimHash Hamming-<=3 pairs: 4 disjoint 15-bit index blocks
    // (pigeonhole recall guarantee), 64-member block cap, distinct
    // pairs before the Hamming filter (mirrors simhashPairsFromHashes)
    "q_dedup_simhash_pairs" -> {
      import graft.operators.Dedup.{SimhashBlockBits, SimhashBlocks}
      val votes = (0 until 60).map(i =>
        s"sum(((h >> $i) & 1) * 2 - 1) AS s$i").mkString(",\n        ")
      val bits = (0 until 60).map(i =>
        s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      val mask = (1L << SimhashBlockBits) - 1
      s"""
      WITH toks AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
      h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM toks),
      v AS (SELECT doc_id,
        $votes
       FROM h GROUP BY doc_id),
      sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM v),
      blocks AS (SELECT doc_id, simhash, b AS bi,
                   (simhash >> (b * $SimhashBlockBits)) & $mask AS bv
                 FROM sh, (SELECT unnest(range($SimhashBlocks)) AS b)),
      capped AS (SELECT * FROM blocks
                 QUALIFY count(*) OVER (PARTITION BY bi, bv) <= 64),
      p AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
              bit_count(xor(l.simhash, r.simhash))::BIGINT AS hamming
            FROM capped l JOIN capped r
              ON l.bi = r.bi AND l.bv = r.bv AND l.doc_id < r.doc_id)
      SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
      ORDER BY doc_a, doc_b"""
    },

    // Spark PARSES the container header bytes; the oracle predicts the
    // same fields from the deterministic construction formulas (WAV for
    // even doc_id: 44-byte header, rate 8000*(1+id%3), channels
    // 1+((id/2)%2), 16-bit; BMP for odd: 54-byte header, width
    // 16+(id%32), height 1+len/(3*width)). A hash match proves the
    // binary parse recovered every field.
    "q_multimodal_meta" -> """
      WITH t AS (SELECT doc_id, strlen(text)::BIGINT AS len FROM documents)
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS fmt,
        (CASE WHEN doc_id % 2 = 0 THEN 44 + len ELSE 54 + len END)::BIGINT AS byte_len,
        (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 16 + (doc_id % 32) END)::BIGINT AS width,
        (CASE WHEN doc_id % 2 = 0 THEN 0
              ELSE 1 + (len // (3 * (16 + (doc_id % 32)))) END)::BIGINT AS height,
        (CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 3) ELSE 0 END)::BIGINT AS sample_rate,
        (CASE WHEN doc_id % 2 = 0 THEN 1 + ((doc_id // 2) % 2) ELSE 0 END)::BIGINT AS channels,
        (CASE WHEN doc_id % 2 = 0 THEN (len * 1000) //
            (8000 * (1 + doc_id % 3) * (1 + ((doc_id // 2) % 2)) * 2)
          ELSE 0 END)::BIGINT AS duration_ms
      FROM t ORDER BY doc_id""",

    // quarantine verdicts predicted from the corpus-noise formulas
    // (id%7==3 -> 20-byte truncation, id%7==5 -> flipped magic); the
    // engine derives the same verdicts from the bytes alone
    "q_media_quarantine" -> """
      WITH t AS (SELECT doc_id, strlen(text)::BIGINT AS len FROM documents)
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 5 THEN 'unknown'
             WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS fmt,
        (CASE WHEN doc_id % 7 = 3 THEN 20
              WHEN doc_id % 2 = 0 THEN 44 + len ELSE 54 + len END)::BIGINT AS byte_len,
        CASE WHEN doc_id % 7 IN (3, 5) THEN 'quarantined' ELSE 'ok' END AS status,
        CASE WHEN doc_id % 7 = 3 THEN 'truncated'
             WHEN doc_id % 7 = 5 THEN 'bad_magic' ELSE 'ok' END AS reason
      FROM t ORDER BY doc_id""",

    "q_train_split" -> """
      WITH t AS (SELECT doc_id,
        CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 4)) AS BIGINT) % 100 AS bucket
       FROM documents)
      SELECT doc_id, bucket,
        CASE WHEN bucket < 90 THEN 'train' ELSE 'eval' END AS split
      FROM t ORDER BY doc_id""",

    "q_shard_pack" -> """
      WITH t AS (SELECT doc_id,
        CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) AS h,
        len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS tokens
       FROM documents),
      s AS (SELECT doc_id, h, h % 8 AS shard, tokens FROM t),
      p AS (SELECT doc_id, shard, tokens,
        row_number() OVER w AS pos,
        sum(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       FROM s WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id))
      SELECT doc_id, shard, tokens, pos, ((cum - tokens) // 4096)::BIGINT AS pack_id
      FROM p ORDER BY shard, pos""",

    "q_decontaminate" -> s"""
      WITH $ngramCtes5,
      bench AS (SELECT DISTINCT ng FROM ng5 JOIN documents USING (doc_id)
                WHERE source = 'src0'),
      cand AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
      shared AS (SELECT n.doc_id, count(*) AS n_shared
                 FROM ng5 n JOIN cand USING (doc_id) JOIN bench USING (ng)
                 GROUP BY n.doc_id)
      SELECT c.doc_id, coalesce(s.n_shared, 0) AS n_shared,
        (CASE WHEN coalesce(s.n_shared, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS is_contaminated
      FROM cand c LEFT JOIN shared s ON s.doc_id = c.doc_id
      ORDER BY c.doc_id""",

    // Bloom decontamination contract: the filter's bit layout is
    // engine-specific, so the oracle recomputes the EXACT side of the
    // confusion matrix per source (the q_decontaminate semi-join,
    // aggregated) and expects the Bloom guarantees literally TRUE —
    // zero false negatives (structural) and measured doc-level fp rate
    // under the bound (the filter is overprovisioned at test scale)
    "q_decontam_bloom" -> s"""
      WITH $ngramCtes5,
      bench AS (SELECT DISTINCT ng FROM ng5 JOIN documents USING (doc_id)
                WHERE source = 'src0'),
      cand AS (SELECT doc_id, source FROM documents WHERE source <> 'src0'),
      shared AS (SELECT n.doc_id, count(*) AS n_shared
                 FROM ng5 n JOIN cand USING (doc_id) JOIN bench USING (ng)
                 GROUP BY n.doc_id)
      SELECT c.source, count(*)::BIGINT AS n_docs,
        sum(CASE WHEN coalesce(s.n_shared, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
          AS n_contaminated_exact,
        TRUE AS zero_false_negatives,
        TRUE AS fp_rate_within_bound
      FROM cand c LEFT JOIN shared s ON s.doc_id = c.doc_id
      GROUP BY c.source ORDER BY c.source""",

    // TPC-H Q21 shape, textbook correlated form: the oracle keeps the
    // EXISTS / NOT EXISTS subqueries so the hash match PROVES the Spark
    // side's single-aggregate decorrelation (n_supp>1 ∧ n_late_supp=1)
    // is equivalent — the strongest evidence a decorrelation can get
    "q_sole_late_supplier" -> """
      WITH l1 AS (
        SELECT l.l_orderkey, l.l_suppkey,
          (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'),
      sole AS (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey
        FROM l1 a
        WHERE a.late
          AND EXISTS (SELECT 1 FROM l1 b
                      WHERE b.l_orderkey = a.l_orderkey
                        AND b.l_suppkey <> a.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM l1 c
                          WHERE c.l_orderkey = a.l_orderkey
                            AND c.l_suppkey <> a.l_suppkey AND c.late)),
      w AS (SELECT l_suppkey, count(*)::BIGINT AS numwait
            FROM sole GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, w.numwait
      FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
      ORDER BY w.numwait DESC, s.s_name, s.s_suppkey LIMIT 20""",

    "q_data_mix" -> """
      WITH t AS (SELECT doc_id, source,
        CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 4)) AS BIGINT) % 100 AS bucket
       FROM documents)
      SELECT doc_id, source, bucket
      FROM t WHERE source = 'src0' OR bucket < 50
      ORDER BY doc_id""",

    // capstone: the end-to-end export decision — quality ∧ canonical
    // ∧ decontaminated ∧ non-benchmark, assembled from the SAME CTE
    // fragments the constituent oracles use (fixpoint clusters via the
    // recursive closure, 5-gram decontamination, md5 split)
    "q_export_plan" -> s"""
      WITH RECURSIVE $clusterLabCtes,
      $ngramCtes5,
      bench AS (SELECT DISTINCT ng FROM ng5 JOIN documents USING (doc_id)
                WHERE source = 'src0'),
      cand AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
      shared AS (SELECT n.doc_id, count(*) AS n_shared
                 FROM ng5 n JOIN cand USING (doc_id) JOIN bench USING (ng)
                 GROUP BY n.doc_id),
      $qualityFlagCtes,
      qf AS (SELECT doc_id,
          NOT (too_short OR word_len_bad OR punct_heavy OR repetitive) AS keep_quality
        FROM flags)
      SELECT d.doc_id, d.source, qf.keep_quality,
        lab.cluster_id, (d.doc_id = lab.cluster_id) AS is_canonical,
        (CASE WHEN coalesce(s.n_shared, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS is_contaminated,
        CASE WHEN CAST(concat('0x', substr(md5(d.doc_id::VARCHAR), 1, 4)) AS BIGINT) % 100 < 90
             THEN 'train' ELSE 'eval' END AS split,
        (qf.keep_quality AND d.doc_id = lab.cluster_id
          AND coalesce(s.n_shared, 0) = 0 AND d.source <> 'src0') AS final_keep
      FROM documents d
      JOIN qf ON qf.doc_id = d.doc_id
      JOIN lab ON lab.doc_id = d.doc_id
      LEFT JOIN shared s ON s.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    "q_redact" -> """
      SELECT doc_id,
        len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        len(regexp_extract_all(text, '[0-9]{3,}'))::BIGINT AS n_numbers,
        md5(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{3,}', '<NUM>', 'g')) AS redacted_md5
      FROM documents ORDER BY doc_id""",

    // Frame extraction: Spark recovers payload bounds + stride by
    // PARSING the container header; the oracle predicts the same frames
    // from the construction formulas (WAV stride = 32 sample blocks =
    // 64·channels bytes with channels = 1+(doc_id/2)%2; BMP stride =
    // one pixel row = 3·(16+doc_id%32) bytes). Text is ASCII (spec- and
    // strlen=length-verified), so substr bytes == payload bytes and the
    // per-frame md5/peak match bit-for-bit.
    "q_multimodal_frames" -> """
      WITH t AS (SELECT doc_id, text, strlen(text)::BIGINT AS len,
        CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS fmt,
        (CASE WHEN doc_id % 2 = 0 THEN 64 * (1 + (doc_id // 2) % 2)
              ELSE 3 * (16 + doc_id % 32) END)::BIGINT AS stride
       FROM documents),
      f AS (SELECT doc_id, fmt, stride, len, text,
        unnest(generate_series(1::BIGINT,
          greatest(1, (len + stride - 1) // stride))) AS frame_idx
       FROM t),
      g AS (SELECT doc_id, fmt, frame_idx,
        (frame_idx - 1) * stride AS frame_off,
        least(stride, len - (frame_idx - 1) * stride) AS frame_len,
        substr(text, ((frame_idx - 1) * stride + 1)::INT,
          least(stride, len - (frame_idx - 1) * stride)::INT) AS ftxt
       FROM f)
      SELECT doc_id, fmt, frame_idx, frame_off, frame_len,
        md5(ftxt) AS frame_md5,
        (CASE WHEN frame_len > 0
          THEN list_max(list_transform(generate_series(1, frame_len::INT),
            p -> ascii(substr(ftxt, p, 1))))
          ELSE 0 END)::BIGINT AS frame_peak
      FROM g ORDER BY doc_id, frame_idx""",

    // PCM frame energies: the oracle decodes the same little-endian
    // sample pairs from the construction text while Spark parses ONLY
    // container bytes; all-integer Σs² so the numbers are engine-exact
    "q_audio_energy" -> """
      WITH t AS (SELECT doc_id, text, strlen(text)::BIGINT AS len
             FROM documents WHERE doc_id % 2 = 0 AND strlen(text) >= 2),
      s AS (SELECT doc_id,
              (p - 1) // (64 * (1 + (doc_id // 2) % 2)) AS frame,
              ascii(substr(text, p::INT, 1))::BIGINT
                + 256 * ascii(substr(text, (p + 1)::INT, 1))::BIGINT AS raw
            FROM (SELECT doc_id, text,
                    unnest(generate_series(1, (len - len % 2)::INT, 2)) AS p
                  FROM t)),
      sg AS (SELECT doc_id, frame,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
             FROM s),
      fr AS (SELECT doc_id, frame, sum(v * v)::BIGINT AS fe,
               max(abs(v))::BIGINT AS fp
             FROM sg GROUP BY 1, 2)
      SELECT doc_id, count(*)::BIGINT AS n_frames,
        sum(fe)::BIGINT AS total_energy, max(fe)::BIGINT AS max_frame_energy,
        max(fp)::BIGINT AS peak_abs
      FROM fr GROUP BY 1 ORDER BY 1""",

    // aHash fingerprints: the oracle predicts width/height/payload from
    // the BMP construction formulas while Spark parses them from bytes;
    // the bit rule is the exact integer cross-product cs*tc >= ts*cc
    "q_media_phash" -> """
      WITH t AS (SELECT doc_id, text, strlen(text)::BIGINT AS len,
               (16 + doc_id % 32)::BIGINT AS w
             FROM documents WHERE doc_id % 2 = 1 AND strlen(text) > 0),
      d AS (SELECT doc_id, w, 1 + len // (3 * w) AS h, len, text FROM t),
      c AS (SELECT doc_id, w, h,
              least(7, ((p - 1) // (3 * w)) * 8 // h) AS br,
              least(7, (((p - 1) % (3 * w)) // 3) * 8 // w) AS bc,
              ascii(substr(text, p::INT, 1))::BIGINT AS v
            FROM (SELECT *, unnest(generate_series(1, len::INT)) AS p FROM d)),
      cells AS (SELECT doc_id, any_value(w) AS w, any_value(h) AS h, br, bc,
                  sum(v)::BIGINT AS cs, count(*)::BIGINT AS cc
                FROM c GROUP BY doc_id, br, bc),
      tot AS (SELECT doc_id, sum(cs)::BIGINT AS ts, sum(cc)::BIGINT AS tc
              FROM cells GROUP BY doc_id),
      ph AS (SELECT cells.doc_id, any_value(w) AS width, any_value(h) AS height,
               sum(CASE WHEN br*8+bc >= 32 AND cs * tc >= ts * cc
                   THEN (1::BIGINT << ((br*8+bc) - 32)) ELSE 0 END)::BIGINT AS phash_hi,
               sum(CASE WHEN br*8+bc < 32 AND cs * tc >= ts * cc
                   THEN (1::BIGINT << (br*8+bc)) ELSE 0 END)::BIGINT AS phash_lo
             FROM cells JOIN tot USING (doc_id) GROUP BY cells.doc_id)
      SELECT doc_id, width, height, phash_hi, phash_lo,
        count(*) OVER (PARTITION BY phash_hi, phash_lo)::BIGINT AS n_same
      FROM ph ORDER BY doc_id""",

    "q_stream_window" -> """
      SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS win_start, event_type,
        count(*) AS n_events, round(sum(value) + 5e-9, 4) AS sum_value,
        min(value) AS min_value, max(value) AS max_value
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",

    // native session_window semantics: an event opens [ts, ts+gap) and
    // windows that overlap OR touch merge (Spark coalesces adjacent
    // sessions — measured in the replay spec: an event landing exactly
    // at the previous window's end JOINS it), so consecutive events
    // share a session iff next.ts <= prev.ts + gap;
    // session_end = last event + gap; DECIMAL sums (order-free)
    "q_stream_sessions" -> """
      WITH o AS (SELECT user_id, ts, event_id, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        FROM events),
      m AS (SELECT user_id, ts, value,
          sum(CASE WHEN pts IS NULL OR ts > pts + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end,
        count(*)::BIGINT AS n_events,
        round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE + 5e-9, 4) AS total_value
      FROM m GROUP BY user_id, sid ORDER BY user_id, session_start""",

    // JSON-feed round trip: the Spark side serializes each event to a
    // JSON message and parses it back before aggregating, so this plain
    // agg over the raw table is a fidelity oracle for the round trip
    // (sum widens to HUGEINT in DuckDB → ::BIGINT)
    "q_stream_props" -> """
      SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS win_start, event_type,
        count(*) AS n_events,
        sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",

    // sliding 10-min/5-min windows: every event lands in exactly the
    // 5-min-floor window and the one 5 minutes earlier; DECIMAL sum
    // because the row duplication doubles the fold
    "q_stream_sliding" -> """
      WITH x AS (SELECT *,
          make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w0
        FROM events),
      u AS (SELECT event_type, value, w0 AS win_start FROM x
            UNION ALL
            SELECT event_type, value, w0 - INTERVAL 5 MINUTE AS win_start FROM x)
      SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end, event_type,
        count(*) AS n_events,
        round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE + 5e-9, 4) AS sum_value,
        min(value) AS min_value, max(value) AS max_value
      FROM u GROUP BY 1, 2, 3 ORDER BY win_start, event_type""",

    // ordered conversion funnel: stacked running-min windows, strict-
    // after semantics at each stage, same frame/order as the Spark side
    "q_funnel" -> """
      WITH o AS (SELECT user_id, ts, event_id, event_type,
          min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS first_view_sofar
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      c AS (SELECT *,
          min(CASE WHEN event_type = 'click' AND first_view_sofar IS NOT NULL
                AND ts > first_view_sofar THEN ts END) OVER w AS first_click_sofar
        FROM o
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      a AS (SELECT user_id,
          min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
          min(CASE WHEN event_type = 'click' AND first_view_sofar IS NOT NULL
                AND ts > first_view_sofar THEN ts END) AS t_click,
          min(CASE WHEN event_type = 'purchase' AND first_click_sofar IS NOT NULL
                AND ts > first_click_sofar THEN ts END) AS t_purchase
        FROM c GROUP BY user_id)
      SELECT user_id, t_view, t_click, t_purchase,
        CASE WHEN t_purchase IS NOT NULL THEN 'purchase'
             WHEN t_click IS NOT NULL THEN 'click'
             WHEN t_view IS NOT NULL THEN 'view'
             ELSE 'none' END AS stage
      FROM a ORDER BY user_id""",

    // cohort retention: per-(user, day) distinct first, min-day cohorts,
    // exact integer retention ratio
    "q_cohort_retention" -> """
      WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      c AS (SELECT user_id, min(d) AS cohort_date FROM days GROUP BY 1),
      s AS (SELECT cohort_date, count(*) AS cohort_size FROM c GROUP BY 1),
      r AS (SELECT c.cohort_date, (d.d - c.cohort_date) AS day_offset, count(*) AS n_users
            FROM days d JOIN c ON c.user_id = d.user_id GROUP BY 1, 2)
      SELECT r.cohort_date, r.day_offset::BIGINT AS day_offset,
        r.n_users::BIGINT AS n_users, s.cohort_size::BIGINT AS cohort_size,
        round(r.n_users::DOUBLE / s.cohort_size::DOUBLE + 5e-9, 4) AS retention_pct
      FROM r JOIN s USING (cohort_date) ORDER BY cohort_date, day_offset""",

    // plain join — the salted Spark plan must be result-transparent
    "q_salted_join" -> """
      WITH s AS (SELECT event_type,
          round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS sym_avg,
          count(*) AS sym_n
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.ts, e.event_type, e.value, s.sym_avg, s.sym_n,
        round(e.value - s.sym_avg + 5e-9, 4) + 0.0 AS dev
      FROM events e JOIN s USING (event_type)
      ORDER BY e.event_id""",

    // range join: 8 equal-width close-price bands per symbol; band-edge
    // arithmetic written in the same association order as the Spark side
    "q_range_join" -> s"""
      WITH $barsCte,
      ext AS (SELECT symbol, min("close") AS minc, max("close") AS maxc FROM bars GROUP BY symbol),
      bd AS (SELECT symbol, unnest(generate_series(0::BIGINT, 7::BIGINT)) AS band, minc, maxc FROM ext),
      bands AS (SELECT symbol AS band_symbol, band,
          minc + band * ((maxc - minc) / 8.0::DOUBLE) AS lo,
          CASE WHEN band = 7 THEN maxc + 1.0
               ELSE minc + (band + 1) * ((maxc - minc) / 8.0::DOUBLE) END AS hi
        FROM bd)
      SELECT b.symbol, d.band, count(*) AS n_bars,
        round(min(d.lo) + 5e-9, 4) AS band_lo,
        round(sum(CAST(b."close" AS DECIMAL(18,6)))::DOUBLE / count(*) + 5e-9, 4) AS avg_close,
        sum(b.volume)::BIGINT AS total_volume
      FROM bars b JOIN bands d
        ON b.symbol = d.band_symbol AND b."close" >= d.lo AND b."close" < d.hi
      GROUP BY b.symbol, d.band ORDER BY b.symbol, d.band""",

    // unique (volume, bar_ts) peer order ⇒ percent_rank/cume_dist are
    // exact small-integer ratios, identical across engines unrounded
    "q_window_ranks" -> s"""
      WITH $barsCte
      SELECT symbol, bar_ts, volume,
        (ntile(10) OVER wv)::BIGINT AS vol_decile,
        percent_rank() OVER wv AS vol_pct_rank,
        cume_dist() OVER wv AS vol_cume_dist,
        (row_number() OVER wv)::BIGINT AS vol_rank
      FROM bars
      WINDOW wv AS (PARTITION BY symbol ORDER BY volume, bar_ts)
      ORDER BY symbol, bar_ts""",

    // exact quantiles: dyadic fractions make both engines' linear
    // interpolation exact, so the doubles agree bit-for-bit
    "q_quantiles" -> s"""
      WITH $barsCte
      SELECT symbol, count(*) AS n_bars,
        min(volume) AS min_volume, max(volume) AS max_volume,
        round(quantile_cont(volume, 0.25) + 5e-9, 4) AS p25,
        round(quantile_cont(volume, 0.50) + 5e-9, 4) AS p50,
        round(quantile_cont(volume, 0.75) + 5e-9, 4) AS p75
      FROM bars GROUP BY symbol ORDER BY symbol""",

    // Pearson correlation from exact DECIMAL(9,2) moment sums (products
    // scale 4: unscaled sums < 2^53, so ::DOUBLE is exactly rounded in
    // both engines); final formula in double, same association order
    "q_price_corr" -> s"""
      WITH $barsCte,
      j AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b,
              CAST(a."close" AS DECIMAL(9,2)) AS x, CAST(b."close" AS DECIMAL(9,2)) AS y
            FROM bars a JOIN bars b ON a.bar_ts = b.bar_ts AND a.symbol < b.symbol),
      m AS (SELECT sym_a, sym_b, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
            FROM j GROUP BY 1, 2)
      SELECT sym_a, sym_b, n,
        CASE WHEN n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
              AND n::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
             THEN round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
               / sqrt((n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (n::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE)) + 5e-9, 4) + 0.0
        END AS corr
      FROM m ORDER BY sym_a, sym_b""",

    // rolling market correlation(20): the q_price_corr DECIMAL moment
    // device inside bounded 20-row window frames against the marketBeta
    // equal-share index; corr negative-near-zero → signed-zero canon
    "q_rolling_corr" -> {
      val fr = wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")
      s"""
      WITH $barsCte, $rnCte,
      ix AS (SELECT bar_ts AS ix_ts,
               CAST(sum(CAST("close" AS DECIMAL(9,2))) AS DECIMAL(12,2)) AS idx
             FROM b GROUP BY 1),
      t AS (SELECT b.symbol, b.bar_ts, b."close", b.rn,
              CAST(b."close" AS DECIMAL(9,2)) AS x, ix.idx AS y
            FROM b JOIN ix ON ix.ix_ts = b.bar_ts),
      m AS (SELECT symbol, bar_ts, "close", rn,
              count(*) $fr AS nw,
              sum(x) $fr AS sx, sum(y) $fr AS sy,
              sum(x * y) $fr AS sxy,
              sum(x * x) $fr AS sx2,
              sum(y * y) $fr AS sy2
            FROM t)
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 20
              AND nw::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
              AND nw::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
             THEN round((nw::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
               / sqrt((nw::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (nw::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE)) + 5e-9, 4) + 0.0
        END AS mkt_corr
      FROM m ORDER BY symbol, bar_ts"""
    },

    // z-score anomalies: DECIMAL moment sums (bit-identical pre-division
    // values), one-division mean/var, z in the same association order;
    // z can be negative-near-zero → signed-zero canonicalization
    "q_zscore_anomaly" -> s"""
      WITH $barsCte,
      st AS (SELECT symbol AS s_symbol, count(*) AS n,
               sum(CAST("close" AS DECIMAL(9,2))) AS sx,
               sum(CAST("close" AS DECIMAL(9,2)) * CAST("close" AS DECIMAL(9,2))) AS sx2
             FROM bars GROUP BY 1),
      j AS (SELECT b.symbol, b.bar_ts, b."close",
              sx::DOUBLE / n::DOUBLE AS mean,
              (n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                / (n::DOUBLE * (n::DOUBLE - 1.0::DOUBLE)) AS v
            FROM bars b JOIN st ON b.symbol = st.s_symbol WHERE st.n >= 2)
      SELECT symbol, bar_ts, "close",
        CASE WHEN v > 0 THEN round(("close" - mean) / sqrt(v) + 5e-9, 4) + 0.0 END AS z,
        (v > 0 AND abs(("close" - mean) / sqrt(v)) > 2.0::DOUBLE) AS is_anomaly
      FROM j ORDER BY symbol, bar_ts""",

    // daily OHLC rollup: arg_min/arg_max on the unique bar_ts mirror
    // Spark's min_by/max_by; return & gap can be negative-near-zero →
    // signed-zero canonicalization on this side
    "q_daily_returns" -> s"""
      WITH $barsCte,
      d AS (SELECT symbol, CAST(bar_ts AS DATE) AS bar_date,
              arg_min("open", bar_ts) AS day_open,
              arg_max("close", bar_ts) AS day_close,
              max(high) AS day_high, min(low) AS day_low,
              count(*) AS n_bars
            FROM bars GROUP BY 1, 2),
      l AS (SELECT *, lag(day_close) OVER (PARTITION BY symbol ORDER BY bar_date) AS prev_close
            FROM d)
      SELECT symbol, bar_date, day_open, day_close, day_high, day_low, n_bars,
        CASE WHEN day_open <> 0
             THEN round((day_close - day_open) / day_open * 100.0::DOUBLE + 5e-9, 4) + 0.0
        END AS intraday_pct,
        CASE WHEN prev_close IS NOT NULL AND prev_close <> 0
             THEN round((day_open - prev_close) / prev_close * 100.0::DOUBLE + 5e-9, 4) + 0.0
        END AS overnight_gap_pct
      FROM l ORDER BY symbol, bar_date""",

    // running peak is exact; the ratio is one double expression in the
    // same association order as the Spark side, and >= 0 by construction
    "q_drawdown" -> s"""
      WITH $barsCte
      SELECT symbol, bar_ts, "close",
        max("close") OVER wp AS peak,
        round((max("close") OVER wp - "close") / max("close") OVER wp
          * 100.0::DOUBLE + 5e-9, 4) AS drawdown_pct
      FROM bars
      WINDOW wp AS (PARTITION BY symbol ORDER BY bar_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY symbol, bar_ts""",

    // dyadic quantiles over integer volumes ⇒ fences are exact
    // multiples of 1/8 in both engines; the flag is bit-deterministic
    "q_iqr_outliers" -> s"""
      WITH $barsCte,
      f AS (SELECT symbol AS f_symbol,
              quantile_cont(volume, 0.25) AS p25,
              quantile_cont(volume, 0.75) AS p75
            FROM bars GROUP BY symbol),
      g AS (SELECT f_symbol,
              p25 - (p75 - p25) * 1.5::DOUBLE AS lo_fence,
              p75 + (p75 - p25) * 1.5::DOUBLE AS hi_fence FROM f)
      SELECT b.symbol, b.bar_ts, b.volume,
        round(g.lo_fence + 5e-9, 4) AS lo_fence,
        round(g.hi_fence + 5e-9, 4) AS hi_fence,
        (b.volume < g.lo_fence OR b.volume > g.hi_fence) AS is_outlier
      FROM bars b JOIN g ON b.symbol = g.f_symbol
      ORDER BY b.symbol, b.bar_ts""",

    // beta vs the composite close-sum index; DECIMAL moment sums as in
    // q_price_corr (index capped at DECIMAL(12,2): products stay scale 4
    // inside precision 38, unscaled sums < 2^53); beta can be negative →
    // signed-zero canonicalization (+ 0.0)
    "q_beta" -> s"""
      WITH $barsCte,
      idx AS (SELECT bar_ts,
                CAST(sum(CAST("close" AS DECIMAL(9,2))) AS DECIMAL(12,2)) AS idx
              FROM bars GROUP BY bar_ts),
      j AS (SELECT b.symbol, CAST(b."close" AS DECIMAL(9,2)) AS x, i.idx AS y
            FROM bars b JOIN idx i ON b.bar_ts = i.bar_ts),
      m AS (SELECT symbol, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(y * y) AS sy2
            FROM j GROUP BY 1)
      SELECT symbol, n,
        CASE WHEN n::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
             THEN round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
               / (n::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE) + 5e-9, 4) + 0.0
        END AS beta
      FROM m ORDER BY symbol""",

    // rolling extrema + dyadic midline — every cell bit-deterministic
    "q_donchian" -> s"""
      WITH $barsCte, $rnCte
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 20 THEN round(max(high) ${wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")} + 5e-9, 4) END AS dc_upper,
        CASE WHEN rn >= 20 THEN round(min(low) ${wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")} + 5e-9, 4) END AS dc_lower,
        CASE WHEN rn >= 20 THEN round((max(high) ${wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")}
          + min(low) ${wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")}) / 2 + 5e-9, 4) END AS dc_mid
      FROM b ORDER BY symbol, bar_ts""",

    // MFI(14): all flow sums in exact DECIMAL (tp3 = 3·typical price —
    // the factor cancels in pos/neg); one double division at the edge
    "q_mfi" -> s"""
      WITH $barsCte,
      t AS (SELECT symbol, bar_ts, volume,
              CAST(high + low + "close" AS DECIMAL(18,6)) AS tp3,
              lag(CAST(high + low + "close" AS DECIMAL(18,6)), 1) ${wf("")} AS prev_tp3,
              row_number() ${wf("")} AS rn
            FROM bars),
      f AS (SELECT symbol, bar_ts, rn,
              CASE WHEN prev_tp3 IS NOT NULL AND tp3 > prev_tp3
                THEN CAST(tp3 * volume AS DECIMAL(38,6))
                ELSE CAST(0 AS DECIMAL(38,6)) END AS pos_mf,
              CASE WHEN prev_tp3 IS NOT NULL AND tp3 < prev_tp3
                THEN CAST(tp3 * volume AS DECIMAL(38,6))
                ELSE CAST(0 AS DECIMAL(38,6)) END AS neg_mf
            FROM t),
      s AS (SELECT symbol, bar_ts, rn,
              sum(pos_mf) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} AS pos,
              sum(neg_mf) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} AS neg
            FROM f)
      SELECT symbol, bar_ts,
        CASE WHEN rn < 15 THEN NULL
             WHEN neg = 0 AND pos = 0 THEN 50.0
             WHEN neg = 0 THEN 100.0
             ELSE round(100.0::DOUBLE - 100.0::DOUBLE /
               (1.0::DOUBLE + pos::DOUBLE / neg::DOUBLE) + 5e-9, 4) END AS mfi
      FROM s ORDER BY symbol, bar_ts""",

    // candlestick flags: pure comparisons over identical doubles
    "q_candles" -> s"""
      WITH $barsCte,
      c AS (SELECT symbol, bar_ts, "open", "close",
              abs("close" - "open") AS body,
              high - low AS rng,
              high - greatest("open", "close") AS uw,
              least("open", "close") - low AS lw,
              lag("open", 1) ${wf("")} AS p_open,
              lag("close", 1) ${wf("")} AS p_close
            FROM bars)
      SELECT symbol, bar_ts, "open", "close",
        round(body + 5e-9, 4) AS body,
        (rng > 0 AND body * 10 <= rng) AS is_doji,
        (rng > 0 AND lw >= body * 2 AND uw <= body) AS is_hammer,
        (p_close IS NOT NULL AND p_close < p_open AND "close" > "open"
          AND "open" <= p_close AND "close" >= p_open) AS bull_engulf,
        (p_close IS NOT NULL AND p_close > p_open AND "close" < "open"
          AND "open" >= p_close AND "close" <= p_open) AS bear_engulf
      FROM c ORDER BY symbol, bar_ts""",

    // floor-trader pivots from the PRIOR day's H/L/C; first day omitted
    "q_pivot_points" -> s"""
      WITH $barsCte,
      d AS (SELECT symbol, CAST(bar_ts AS DATE) AS bar_date,
              max(high) AS d_high, min(low) AS d_low,
              arg_max("close", bar_ts) AS d_close
            FROM bars GROUP BY 1, 2),
      l AS (SELECT symbol, bar_date,
              lag(d_high, 1) OVER wd AS ph,
              lag(d_low, 1) OVER wd AS pl,
              lag(d_close, 1) OVER wd AS pc
            FROM d
            WINDOW wd AS (PARTITION BY symbol ORDER BY bar_date))
      SELECT symbol, bar_date,
        round((ph + pl + pc) / 3 + 5e-9, 4) AS pivot,
        round((ph + pl + pc) / 3 * 2 - pl + 5e-9, 4) AS r1,
        round((ph + pl + pc) / 3 * 2 - ph + 5e-9, 4) AS s1,
        round((ph + pl + pc) / 3 + (ph - pl) + 5e-9, 4) AS r2,
        round((ph + pl + pc) / 3 - (ph - pl) + 5e-9, 4) AS s2
      FROM l WHERE ph IS NOT NULL ORDER BY symbol, bar_date""",

    // TPC-H Q3 shape: top-10 selection happens on the EXACT decimal
    // revenue (ties broken by orderkey); rounding only at the edge
    "q_shipping_priority" -> """
      WITH r AS (
        SELECT l_orderkey, sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount)
                 AS DECIMAL(18,6))) AS rev_exact,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY rev_exact DESC, l_orderkey LIMIT 10)
      SELECT l_orderkey, round(rev_exact, 2)::DOUBLE AS revenue,
        o_orderdate, o_orderpriority
      FROM r ORDER BY revenue DESC, l_orderkey""",

    // TPC-H Q7 two-nation shipping volume: textbook disjunctive pair
    // predicate; Spark's semi-reduced plan must match it exactly
    "q_nation_volume" -> """
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        year(l_shipdate)::BIGINT AS l_year,
        round(sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount)
          AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
        count(*)::BIGINT AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_8')
         OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_2')
      GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""",

    // TPC-H Q8 national market share: conditional + total DECIMAL sums
    // in one aggregate; the share is the lone double division
    "q_market_share" -> """
      SELECT year(o_orderdate)::BIGINT AS o_year,
        round(sum(CASE WHEN sn.n_name = 'NATION_2'
            THEN CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END), 2)::DOUBLE AS nation_revenue,
        round(sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount)
            AS DECIMAL(18,6))), 2)::DOUBLE AS total_revenue,
        round(sum(CASE WHEN sn.n_name = 'NATION_2'
            THEN CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END)::DOUBLE
          / sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount)
            AS DECIMAL(18,6)))::DOUBLE + 5e-9, 4) AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY 1 ORDER BY o_year""",

    // SQL-text surface twins: the oracle is the IDENTICAL portable
    // statement the engine ran via spark.sql over registered views
    "q_sql_pricing" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base,
        count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q_sql_window" -> """
      SELECT * FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
          CAST(row_number() OVER (PARTITION BY c_mktsegment
            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        FROM orders JOIN customer ON o_custkey = c_custkey) t
      WHERE rk <= 5 ORDER BY c_mktsegment, rk""",

    // CTE + correlated EXISTS / IN-subquery / UNION ALL text twins: the
    // oracle is byte-identical to the statement the engine ran
    "q_sql_exists" -> """
      WITH recent_orders AS (
        SELECT o_orderkey, o_orderpriority
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00')
      SELECT o_orderpriority, count(*) AS order_count
      FROM recent_orders o
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // byte-identical to SqlSurface.reachabilitySql (S7)
    "q_sql_recursive" -> """
      WITH RECURSIVE edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst
        FROM (SELECT event_type,
                lag(event_type, 1) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type
              FROM events) l
        WHERE prev_type IS NOT NULL AND prev_type <> event_type),
      reach(event_type, depth) AS (
        SELECT 'signup', CAST(0 AS BIGINT)
        UNION ALL
        SELECT e.dst, r.depth + 1
        FROM reach r JOIN edges e ON e.src = r.event_type
        WHERE r.depth < 3)
      SELECT event_type, min(depth) AS min_depth,
        CAST(count(*) AS BIGINT) AS n_paths
      FROM reach
      GROUP BY event_type
      ORDER BY event_type""",

    "q_sql_in" -> """
      SELECT n_name, count(*) AS n_suppliers
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
                          JOIN part ON l_partkey = p_partkey
                          WHERE p_type = 'PROMO')
      GROUP BY n_name
      ORDER BY n_name""",

    "q_sql_union" -> """
      SELECT src, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM (
        SELECT 'high' AS src, o_totalprice FROM orders
        WHERE o_totalprice >= 400000
        UNION ALL
        SELECT 'returned' AS src, o_totalprice FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_returnflag = 'R')) t
      GROUP BY src
      ORDER BY src""",

    // byte-identical to SqlSurface.orderSlicesSetOpsSql (S8)
    "q_sql_setops" -> """
      SELECT 'both' AS grp, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_totalprice >= 300000
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a
      UNION ALL
      SELECT 'high_only' AS grp, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_totalprice >= 300000
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') b
      ORDER BY grp, o_custkey""",

    // byte-identical to SqlSurface.priorityRevenueScalarSql (S9)
    "q_sql_scalar" -> """
      SELECT o_orderpriority,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          / CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,6)))
                  FROM orders) AS DOUBLE) * 100 + 5e-9, 4) AS pct_of_total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // byte-identical to SqlSurface.groupingSetsSql (S10)
    "q_sql_groupingsets" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        count(*) AS n,
        CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY g_rf, g_ls, coalesce(l_returnflag, '~'),
               coalesce(l_linestatus, '~')""",

    "q_sql_region_rev" -> """
      SELECT r_name, n_name,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",

    // approx-quantile contract: exact anchors (n, dyadic-interpolated
    // exact p50) + a verdict the engine must prove TRUE from its own
    // sketch (profile_approx pattern — the oracle cannot replay the
    // sketch, it pins the anchors and expects the contract held)
    "q_quantiles_approx" -> """
      SELECT l_returnflag, count(*)::BIGINT AS n,
        round(quantile_cont(l_quantity, 0.5) + 5e-9, 4) AS p50_exact,
        TRUE AS approx_in_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // GROUPING SETS — the shape rollup/cube cannot express
    "q_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
        grouping(l_returnflag)::BIGINT AS g_rf,
        grouping(l_linestatus)::BIGINT AS g_ls,
        count(*) AS n,
        round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2)::DOUBLE AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      -- coalesce sentinel: a DATA null inside a grouping level would
      -- otherwise sort NULLS FIRST in Spark / NULLS LAST here
      ORDER BY g_rf, g_ls, coalesce(l_returnflag, '~'),
               coalesce(l_linestatus, '~')""",

    // 2-D skyline: same two-step algorithm as the Spark side (max size
    // per distinct price, then a running-max sweep over the price
    // order); the dominance semantics are spec-proven vs a naive
    // cross-join on the Spark side
    "q_skyline" -> """
      WITH pp AS (SELECT p_retailprice AS sky_price, max(p_size) AS sky_size
                  FROM part GROUP BY 1),
      sw AS (SELECT sky_price, sky_size,
               max(sky_size) OVER (ORDER BY sky_price
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
             FROM pp),
      fr AS (SELECT sky_price, sky_size FROM sw
             WHERE best_cheaper IS NULL OR best_cheaper < sky_size)
      SELECT p_partkey, p_name, p_retailprice, p_size
      FROM part JOIN fr ON p_retailprice = sky_price AND p_size = sky_size
      ORDER BY p_partkey""",

    // RFM quartiles: deterministic (metric, user_id) ntile order;
    // monetary in exact DECIMAL
    "q_rfm" -> """
      WITH s AS (SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS frequency,
                   coalesce(sum(CAST(value AS DECIMAL(18,6))),
                            CAST(0 AS DECIMAL(18,6))) AS m_exact
                 FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      t AS (SELECT user_id, last_us, frequency,
              round(m_exact, 2)::DOUBLE AS monetary,
              ntile(4) OVER (ORDER BY last_us, user_id)::BIGINT AS r_score,
              ntile(4) OVER (ORDER BY frequency, user_id)::BIGINT AS f_score,
              ntile(4) OVER (ORDER BY m_exact, user_id)::BIGINT AS m_score
            FROM s)
      SELECT user_id, last_us, frequency, monetary, r_score, f_score, m_score,
        r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
      FROM t ORDER BY user_id""",

    // Markov transition counts + exact per-prev fraction
    "q_event_transitions" -> """
      WITH l AS (SELECT user_id, event_type,
                   lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                 FROM events),
      c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
        round(n::DOUBLE / (sum(n) OVER (PARTITION BY prev_type))::DOUBLE + 5e-9, 4) AS frac
      FROM c ORDER BY prev_type, next_type""",

    // strict local extrema of close; only flagged bars emitted
    "q_swing_points" -> s"""
      WITH $barsCte,
      x AS (SELECT symbol, bar_ts, "close",
              lag("close", 1) OVER wsym AS p, lead("close", 1) OVER wsym AS nx
            FROM bars WINDOW wsym AS (PARTITION BY symbol ORDER BY bar_ts))
      SELECT symbol, bar_ts, "close",
        (p IS NOT NULL AND nx IS NOT NULL AND "close" > p AND "close" > nx) AS swing_high,
        (p IS NOT NULL AND nx IS NOT NULL AND "close" < p AND "close" < nx) AS swing_low
      FROM x
      WHERE (p IS NOT NULL AND nx IS NOT NULL AND "close" > p AND "close" > nx)
         OR (p IS NOT NULL AND nx IS NOT NULL AND "close" < p AND "close" < nx)
      ORDER BY symbol, bar_ts""",

    // gaps-and-islands up-run report: rn - running-count-of-ups groups
    "q_up_streaks" -> s"""
      WITH $barsCte, $rnCte,
      u AS (SELECT symbol, bar_ts, rn,
              coalesce(("close" > lag("close", 1)
                OVER (PARTITION BY symbol ORDER BY bar_ts))::INT, 0) AS up
            FROM b),
      g AS (SELECT symbol, up,
              rn - sum(up) OVER (PARTITION BY symbol ORDER BY bar_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM u),
      r AS (SELECT symbol, grp, count(*) AS run_len FROM g WHERE up = 1 GROUP BY 1, 2),
      a AS (SELECT symbol, max(run_len)::BIGINT AS lr,
              sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END)::BIGINT AS nr
            FROM r GROUP BY symbol)
      SELECT d.symbol, coalesce(a.lr, 0)::BIGINT AS longest_up_run,
        coalesce(a.nr, 0)::BIGINT AS n_runs_3plus
      FROM (SELECT DISTINCT symbol FROM bars) d LEFT JOIN a ON d.symbol = a.symbol
      ORDER BY d.symbol""",

    // lexical diversity: ttr + Gini impurity — exact integer ratios
    // (the entropy analogue would need log(), not cross-engine safe)
    "q_lexical_diversity" -> """
      WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
                 FROM documents),
      pd AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term),
      a AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens, count(*) AS n_distinct,
              sum(tf * tf)::BIGINT AS sum_tf2
            FROM pd GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
        round(n_distinct::DOUBLE / n_tokens::DOUBLE + 5e-9, 4) AS ttr,
        round(1.0::DOUBLE - sum_tf2::DOUBLE / (n_tokens * n_tokens)::DOUBLE + 5e-9, 4) AS gini
      FROM a ORDER BY doc_id""",

    // intra-doc repeated 10-gram spans (Lee et al. within-doc signal);
    // position > per-(doc, gram) min position = repeat
    "q_intradoc_repeats" -> """
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents),
      ex AS (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS i
             FROM t),
      gr AS (SELECT doc_id, i - 1 AS pos,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
               || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8]
               || ' ' || ws[i+9] AS gram
             FROM ex),
      mk AS (SELECT doc_id,
               (pos > min(pos) OVER (PARTITION BY doc_id, gram)) AS is_rep
             FROM gr),
      st AS (SELECT doc_id, count(*) AS nw,
               sum(CASE WHEN is_rep THEN 1 ELSE 0 END) AS nr
             FROM mk GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(st.nw, 0)::BIGINT AS n_windows,
        coalesce(st.nr, 0)::BIGINT AS n_repeats,
        CASE WHEN st.nw IS NOT NULL AND st.nw > 0
          THEN round(st.nr::DOUBLE / st.nw::DOUBLE + 5e-9, 4) ELSE 0.0 END AS repeat_frac
      FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
      ORDER BY d.doc_id""",

    // char-level exact-substring anchors: one 32-char gram per 16-char
    // stride per doc, cross-doc anchors = grams in >= 2 distinct docs;
    // total order (n_docs DESC, gram) makes the LIMIT deterministic
    "q_substring_dup" -> """
      WITH px AS (SELECT doc_id, text,
                    unnest(range(1, length(text) - 31 + 1, 16)) AS p
                  FROM documents WHERE length(text) >= 32),
      g AS (SELECT DISTINCT doc_id, substr(text, p, 32) AS gram FROM px),
      a AS (SELECT gram, count(*)::BIGINT AS n_docs,
              min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM g GROUP BY gram HAVING count(*) >= 2)
      SELECT gram, n_docs, min_doc, max_doc
      FROM a ORDER BY n_docs DESC, gram LIMIT 100""",

    // winnowing fingerprint anchors: the oracle replays the identical
    // per-gram (acc*31 + ascii) % 2^32 fold and the rightmost-min-per-
    // window lambda walk of the native winnow_fps kernel
    "q_winnow_dup" -> """
      WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) >= 23),
      g AS (SELECT doc_id,
              list_transform(generate_series(1, length(text) - 15),
                p -> list_reduce(list_prepend(0::BIGINT,
                       list_transform(generate_series(p, p + 15),
                         q -> ascii(substr(text, q, 1))::BIGINT)),
                     (acc, c) -> (acc * 31 + c) % 4294967296)) AS hs
            FROM t),
      f AS (SELECT doc_id,
              list_distinct(list_transform(generate_series(1, len(hs) - 7),
                i -> hs[i + 8 - list_position(list_reverse(hs[i : i + 7]),
                                              list_aggregate(hs[i : i + 7], 'min'))])) AS fps
            FROM g),
      e AS (SELECT doc_id, unnest(fps) AS h FROM f)
      SELECT h, count(*)::BIGINT AS n_docs,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM e GROUP BY h HAVING count(*) >= 2
      ORDER BY n_docs DESC, h LIMIT 100""",

    // per-source duplication report over the global exact dedup
    "q_dup_ratio" -> s"""
      WITH t AS (SELECT doc_id, source, md5($normExpr) AS text_hash FROM documents),
      k AS (SELECT source,
              (doc_id = min(doc_id) OVER (PARTITION BY text_hash)) AS keep
            FROM t)
      SELECT source, count(*) AS n_docs,
        sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        (count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))::BIGINT AS n_removed,
        round((count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))::DOUBLE
          / count(*)::DOUBLE + 5e-9, 4) AS dup_frac
      FROM k GROUP BY source ORDER BY source""",

    // cross-source 5-gram overlap matrix (corpus-level contamination)
    // shingles join on md5(ng) (16-byte key), mirroring the Spark side
    "q_source_overlap" -> s"""
      WITH $ngramCtes5,
      s AS (SELECT DISTINCT unhex(md5(ng)) AS ng, source
            FROM ng5 JOIN documents USING (doc_id)),
      c AS (SELECT source, count(*) AS n_ngrams FROM s GROUP BY source),
      p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
            FROM s a JOIN s b ON a.ng = b.ng AND a.source < b.source
            GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared,
        ca.n_ngrams AS ngrams_a, cb.n_ngrams AS ngrams_b,
        round(n_shared::DOUBLE / ca.n_ngrams::DOUBLE + 5e-9, 4) AS overlap_frac
      FROM p JOIN c ca ON ca.source = p.source_a
             JOIN c cb ON cb.source = p.source_b
      ORDER BY source_a, source_b""",

    // per-node triangles + local clustering coefficient over the LSH
    // pair graph: forward algorithm on the id-oriented edge list (each
    // a<b<c triangle closes exactly once); cc = 2T/(d(d-1)) — exact
    // integers into one double division
    "q_graph_cc" -> s"""
      WITH $minhashPairsCtes,
      pm AS MATERIALIZED (SELECT doc_a, doc_b FROM p),
      deg AS (SELECT doc_id, count(*) AS degree FROM
                (SELECT doc_a AS doc_id FROM pm
                 UNION ALL SELECT doc_b FROM pm)
              GROUP BY doc_id),
      tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
              FROM pm e1
              JOIN pm e2 ON e2.doc_a = e1.doc_b
              JOIN pm e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
      tcnt AS (SELECT doc_id, count(*) AS triangles FROM
                 (SELECT a AS doc_id FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
               GROUP BY doc_id)
      SELECT d.doc_id, d.degree,
        coalesce(t.triangles, 0)::BIGINT AS triangles,
        CASE WHEN d.degree >= 2 THEN
          round(2.0 * coalesce(t.triangles, 0)
            / (d.degree * (d.degree - 1.0)) + 5e-9, 4) END AS local_cc
      FROM deg d LEFT JOIN tcnt t ON t.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    // near-dup pairs straddling the hash train/eval split — the split
    // is a pure function of doc_id, recomputed per endpoint (no join)
    "q_split_leakage" -> s"""
      WITH $minhashPairsCtes,
      sp AS (SELECT doc_a, doc_b,
               CASE WHEN CAST(concat('0x', substr(md5(doc_a::VARCHAR), 1, 4)) AS BIGINT) % 100 < 90
                 THEN 'train' ELSE 'eval' END AS split_a,
               CASE WHEN CAST(concat('0x', substr(md5(doc_b::VARCHAR), 1, 4)) AS BIGINT) % 100 < 90
                 THEN 'train' ELSE 'eval' END AS split_b
             FROM p)
      SELECT doc_a, doc_b, split_a, split_b,
        (split_a <> split_b) AS leaked
      FROM sp ORDER BY doc_a, doc_b""",

    // per-source quality quota: top ⌈2n/5⌉ per source by the
    // q_text_quality score (DESC NULLS LAST, doc_id tiebreak); the
    // quota is exact integer ceiling division — no float boundary
    // DSIR importance weights: the per-bucket ln-ratio freezes to an
    // integer nano-weight (floor(w*1e9 + 0.5)) so the per-doc sum and
    // the ranking key are exact BIGINTs in both engines
    // fastText-style frozen linear classifier: identical feature hash
    // as q_dsir, weight table declared literally (the trained model IS
    // data); exact BIGINT nano-sums, one rounded display column
    "q_quality_classifier" -> """
      WITH t AS (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS lw
             FROM documents),
      g AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(lw) - 1),
                i -> concat(lw[i], ' ', lw[i + 1]))) AS g
            FROM t WHERE len(lw) >= 2),
      f AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS bucket
            FROM g),
      w(bucket, w_nano) AS (VALUES
        (6, -1000000), (96, -1000000), (264, -500000), (306, 500000),
        (439, 500000), (459, -1000000), (471, 500000), (557, 500000),
        (655, -1000000), (673, -1000000), (725, 500000), (752, -1000000),
        (776, -1000000), (826, 500000), (875, 500000), (880, 500000),
        (897, 500000), (908, 500000), (930, 500000), (977, 500000),
        (984, -1000000), (1031, -1000000), (1180, 500000), (1270, 500000),
        (1354, 500000), (1365, 500000), (1411, 500000), (1562, 500000),
        (1565, 500000), (1747, -1000000), (1759, -1000000), (1796, 500000),
        (1812, -1000000), (1954, 500000), (1980, 500000), (2119, -1000000),
        (2121, -1000000), (2147, 500000), (2323, -1000000), (2355, 500000),
        (2367, 500000), (2441, 500000), (2455, -1000000), (2463, 500000),
        (2465, 500000), (2596, -1000000), (2638, -1000000),
        (2755, -1000000), (2768, -1000000), (2779, 500000), (2807, 500000),
        (2808, 500000), (2834, 500000), (2878, -1000000), (2884, 500000),
        (2922, 500000), (2938, -1000000), (2986, 500000), (3005, 500000),
        (3019, 500000), (3085, 500000), (3099, 500000), (3117, 500000),
        (3174, 500000), (3176, 500000), (3224, -1000000), (3243, 500000),
        (3333, 500000), (3421, 500000), (3429, 500000), (3481, 500000),
        (3516, 500000), (3549, -500000), (3579, -1000000), (3624, 500000),
        (3632, 500000), (3638, -1000000), (3756, 500000), (3759, -1000000),
        (3828, 500000), (3845, 500000), (3877, 500000), (3920, -1000000),
        (3921, -1000000), (3957, -1000000), (3974, 500000), (4025, 500000)),
      d AS (SELECT f.doc_id, count(*)::BIGINT AS n_feats,
              sum(coalesce(w.w_nano, 0))::BIGINT AS score_nano
            FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id)
      SELECT doc_id, coalesce(n_feats, 0)::BIGINT AS n_feats,
        coalesce(score_nano, 0)::BIGINT AS score_nano,
        round(coalesce(score_nano, 0)::DOUBLE / 1e9 + 5e-9, 4) AS score,
        (coalesce(score_nano, 0) > 0) AS pred_keep
      FROM documents LEFT JOIN d USING (doc_id) ORDER BY doc_id""",

    "q_dsir" -> """
      WITH t AS (SELECT doc_id, lang,
               regexp_split_to_array(trim(lower(text)), '\s+') AS lw
             FROM documents),
      g AS (SELECT doc_id, (lang = 'en') AS is_t,
              unnest(list_transform(generate_series(1, len(lw) - 1),
                i -> concat(lw[i], ' ', lw[i + 1]))) AS g
            FROM t WHERE len(lw) >= 2),
      f AS (SELECT doc_id, is_t,
              CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS bucket
            FROM g),
      bt AS (SELECT bucket, count(*)::BIGINT AS cr,
               sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct
             FROM f GROUP BY bucket),
      tot AS (SELECT sum(cr)::BIGINT AS tot_r, sum(ct)::BIGINT AS tot_t FROM bt),
      w AS (SELECT bucket,
              CAST(floor((ln((ct + 1)::DOUBLE / (tot_t::DOUBLE + 4096.0))
                        - ln((cr + 1)::DOUBLE / (tot_r::DOUBLE + 4096.0)))
                   * 1e9 + 0.5) AS BIGINT) AS w_nano
            FROM bt, tot),
      d AS (SELECT f.doc_id, count(*)::BIGINT AS n_feats,
              sum(w.w_nano)::BIGINT AS log_w_nano
            FROM f JOIN w USING (bucket) GROUP BY f.doc_id)
      SELECT doc_id, n_feats, log_w_nano,
        round(log_w_nano::DOUBLE / 1e9 + 5e-9, 4) AS log_w
      FROM d ORDER BY log_w_nano DESC, doc_id LIMIT 100""",

    // LSH (b,r) S-curve grid: powers fold by repeated multiplication
    // (list_reduce over a 1.0-prepended constant list ≡ Spark's
    // aggregate fold — one fixed IEEE multiply order, no pow() in the
    // probability path); chosen = argmin (dist, r) via scalar subqueries
    "q_lsh_tuning" -> """
      WITH grid AS (SELECT (64 // r)::BIGINT AS b, r::BIGINT AS r
                    FROM (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS r) t),
      c AS (SELECT b, r,
              round(pow(1.0::DOUBLE / b, 1.0::DOUBLE / r) + 5e-9, 4) AS threshold,
              list_reduce(list_prepend(1.0::DOUBLE,
                list_transform(range(1, r::INTEGER + 1), i -> 0.2::DOUBLE)),
                (acc, x) -> acc * x) AS tpr
            FROM grid),
      c2 AS (SELECT b, r, threshold, 1.0::DOUBLE - tpr AS s1 FROM c),
      c3 AS (SELECT b, r, threshold,
               round(1.0::DOUBLE - list_reduce(list_prepend(1.0::DOUBLE,
                 list_transform(range(1, b::INTEGER + 1), i -> s1)),
                 (acc, x) -> acc * x) + 5e-9, 4) AS p_at_tau,
               abs(threshold - 0.2::DOUBLE) AS dist
             FROM c2),
      m AS (SELECT min(dist) AS d FROM c3)
      SELECT b, r, threshold, p_at_tau,
        (dist = (SELECT d FROM m)
          AND r = (SELECT min(r) FROM c3, m WHERE dist = d)) AS chosen
      FROM c3 ORDER BY r""",

    "q_domain_quota" -> """
      WITH t AS (
        SELECT doc_id, source,
          length(text)::BIGINT AS n_chars,
          regexp_split_to_array(trim(text), '\s+') AS wsarr,
          len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct
        FROM documents),
      u AS (
        SELECT doc_id, source, n_chars, len(wsarr)::BIGINT AS n_tokens,
          len(list_filter(wsarr, w -> w IN ('the','a','of','and','to','in','is')))::BIGINT AS n_stop,
          n_punct
        FROM t),
      q AS (
        SELECT doc_id, source,
          CASE WHEN n_tokens > 0 AND n_chars > 0 THEN
            round(0.4 * (n_stop::DOUBLE / n_tokens)
              + 0.3 * least(n_tokens::DOUBLE / 100, 1.0)
              + 0.3 * (1.0 - n_punct::DOUBLE / n_chars) + 5e-9, 4) END AS quality_score
        FROM u),
      r AS (
        SELECT doc_id, source, quality_score,
          row_number() OVER (PARTITION BY source
            ORDER BY quality_score DESC NULLS LAST, doc_id)::BIGINT AS src_rank,
          count(*) OVER (PARTITION BY source)::BIGINT AS src_docs
        FROM q)
      SELECT doc_id, source, quality_score, src_rank, src_docs,
        (src_rank <= (2 * src_docs + 4) // 5) AS kept
      FROM r ORDER BY doc_id""",

    // temperature-balanced mixing: sqrt weights (IEEE-exact in both
    // engines, unlike pow), weight total folded over the source-sorted
    // list, md5-bucket keep device shared with q_data_mix
    "q_temperature_mix" -> """
      WITH s AS (SELECT source, count(*) AS n_source FROM documents GROUP BY source),
      sw AS (SELECT source, n_source, sqrt(n_source::DOUBLE) AS w FROM s),
      tw AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(w ORDER BY source)), (p, x) -> p + x) AS tw FROM sw),
      r AS (SELECT source, n_source,
              least(1.0::DOUBLE, 300.0::DOUBLE * (w / tw) / n_source::DOUBLE) AS rate
            FROM sw, tw),
      d AS (SELECT doc_id, documents.source, n_source, rate,
              CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 4)) AS BIGINT) % 100 AS bucket
            FROM documents JOIN r ON documents.source = r.source)
      SELECT doc_id, source, n_source, bucket,
        round(rate + 5e-9, 4) AS rate,
        (bucket::DOUBLE < rate * 100) AS keep
      FROM d ORDER BY doc_id""",

    // pack-efficiency QA over the q_shard_pack packing (same CTEs)
    "q_pack_efficiency" -> """
      WITH t AS (SELECT doc_id,
        CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) AS h,
        len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS tokens
       FROM documents),
      s AS (SELECT doc_id, h, h % 8 AS shard, tokens FROM t),
      p AS (SELECT doc_id, shard, tokens,
        sum(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       FROM s),
      k AS (SELECT shard, ((cum - tokens) // 4096)::BIGINT AS pack_id, tokens FROM p)
      SELECT shard, pack_id, count(*) AS n_docs, sum(tokens)::BIGINT AS pack_tokens,
        round(sum(tokens)::DOUBLE / 4096 + 5e-9, 4) AS fill
      FROM k GROUP BY shard, pack_id ORDER BY shard, pack_id""",

    // inverted index: df/tf exact integers, capped ascending postings
    "q_inverted_index" -> """
      WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
                 FROM documents),
      pd AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term)
      SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf,
        array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 10), ',') AS postings
      FROM pd GROUP BY term ORDER BY term""",

    // J. semi-structured: JSON props extraction / profile / histogram /
    // per-type frequency top-k (DuckDB json_extract mirrors from_json's
    // NULL-on-missing semantics)
    "q_props_extract" -> """
      SELECT event_id, event_type, json_extract(props, '$.k')::BIGINT AS k
      FROM events ORDER BY event_id""",

    "q_props_agg" -> """
      WITH e AS (SELECT event_type, value,
                   json_extract(props, '$.k')::BIGINT AS k FROM events)
      SELECT event_type, count(*) AS n_events,
        count(DISTINCT k) AS n_k, min(k) AS min_k, max(k) AS max_k,
        round(sum(k)::DOUBLE / count(k) + 5e-9, 4) AS avg_k,
        round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
      FROM e GROUP BY event_type ORDER BY event_type""",

    "q_props_hist" -> """
      WITH e AS (SELECT value, json_extract(props, '$.k')::BIGINT AS k
                 FROM events)
      SELECT (k // 10)::BIGINT AS k_bucket, count(*) AS n,
        round(sum(value::DECIMAL(18,6))::DOUBLE / count(*) + 5e-9, 4) AS avg_value
      FROM e WHERE k IS NOT NULL
      GROUP BY k_bucket ORDER BY k_bucket""",

    "q_props_top_values" -> """
      WITH e AS (SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
                 FROM events),
      f AS (SELECT event_type, k, count(*) AS n FROM e
            WHERE k IS NOT NULL GROUP BY event_type, k)
      SELECT event_type, k, n,
        row_number() OVER (PARTITION BY event_type ORDER BY n DESC, k) AS rnk
      FROM f QUALIFY rnk <= 3 ORDER BY event_type, rnk""",

    // last-touch attribution: the oracle is the O(pairs) range join +
    // rank-1 (same semantics, different physical plan than the Spark
    // single-shuffle running-last)
    "q_attribution" -> """
      WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
      j AS (SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts, p.value,
              c.event_id AS click_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
              row_number() OVER (PARTITION BY p.event_id
                ORDER BY c.ts DESC, c.event_id DESC) AS rk
            FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      SELECT user_id, purchase_id, purchase_ts, round(value + 5e-9, 4) AS value,
        CASE WHEN gap_us <= 1800000000 THEN click_id END AS attributed_click_id,
        CASE WHEN gap_us <= 1800000000 THEN gap_us END AS gap_us
      FROM j WHERE rk = 1 ORDER BY purchase_id""",

    // the stream-stream attribution join run as batch: every
    // (purchase, preceding click ≤ 30 min, same user) candidate pair —
    // q_attribution's last-touch argmax selects from exactly this set
    "q_stream_attribution" -> """
      WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, c.event_id AS c_event, p.event_id AS p_event,
        c.ts AS c_ts, p.ts AS p_ts, p.value AS p_value
      FROM p JOIN c ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      ORDER BY p_event, c_event""",

    // tolerance-band gate for the sketch path: the oracle computes the
    // EXACT anchors and expects the accuracy verdicts to be literally
    // true — sketch values themselves are engine-specific (Spark HLL++
    // vs DuckDB HLL) and can never hash-match, so the CONTRACT (within
    // 3·rsd of exact; approx median inside the exact p45..p55 band) is
    // what is cross-engine-gated
    "q_profile_approx" -> """
      SELECT event_type, count(*) AS n_events,
        count(DISTINCT user_id) AS n_users_exact,
        TRUE AS users_within_3rsd,
        TRUE AS median_within_band
      FROM events GROUP BY event_type ORDER BY event_type""",

    // per-column profile; numeric min/max (ts as unix micros)
    "q_profile_events" -> """
      SELECT 'event_id' AS column_name, count(event_id) AS n_nonnull,
        count(*) - count(event_id) AS n_null, count(DISTINCT event_id) AS n_distinct,
        min(event_id)::DOUBLE AS min_val, max(event_id)::DOUBLE AS max_val FROM events
      UNION ALL
      SELECT 'ts', count(ts), count(*) - count(ts), count(DISTINCT ts),
        min(epoch_us(ts))::DOUBLE, max(epoch_us(ts))::DOUBLE FROM events
      UNION ALL
      SELECT 'user_id', count(user_id), count(*) - count(user_id), count(DISTINCT user_id),
        min(user_id)::DOUBLE, max(user_id)::DOUBLE FROM events
      UNION ALL
      SELECT 'event_type', count(event_type), count(*) - count(event_type),
        count(DISTINCT event_type), NULL::DOUBLE, NULL::DOUBLE FROM events
      UNION ALL
      SELECT 'value', count(value), count(*) - count(value), count(DISTINCT value),
        min(value), max(value) FROM events
      UNION ALL
      SELECT 'props', count(props), count(*) - count(props), count(DISTINCT props),
        NULL::DOUBLE, NULL::DOUBLE FROM events
      ORDER BY column_name""",

    // per-format rollup of the header-parsed media metadata (same
    // construction-formula prediction as q_multimodal_meta)
    "q_multimodal_stats" -> """
      WITH t AS (SELECT doc_id, strlen(text)::BIGINT AS len FROM documents),
      m AS (SELECT
              CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS fmt,
              (CASE WHEN doc_id % 2 = 0 THEN 44 + len ELSE 54 + len END)::BIGINT AS byte_len,
              (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 16 + (doc_id % 32) END)::BIGINT AS width,
              (CASE WHEN doc_id % 2 = 0 THEN 0
                    ELSE 1 + (len // (3 * (16 + (doc_id % 32)))) END)::BIGINT AS height,
              (CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 3) ELSE 0 END)::BIGINT AS sample_rate,
              (CASE WHEN doc_id % 2 = 0 THEN (len * 1000) //
                  (8000 * (1 + doc_id % 3) * (1 + ((doc_id // 2) % 2)) * 2)
                ELSE 0 END)::BIGINT AS duration_ms
            FROM t)
      SELECT fmt, count(*) AS n_docs, sum(byte_len)::BIGINT AS total_bytes,
        round(sum(width)::DOUBLE / count(*) + 5e-9, 4) AS avg_width,
        round(sum(height)::DOUBLE / count(*) + 5e-9, 4) AS avg_height,
        sum(duration_ms)::BIGINT AS total_duration_ms,
        round(sum(sample_rate)::DOUBLE / count(*) + 5e-9, 4) AS avg_sample_rate
      FROM m GROUP BY fmt ORDER BY fmt""",

    // TPC-H Q5 shape: customer and supplier share the nation
    "q_local_supplier" -> """
      SELECT n_name,
        round(sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount)
          AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
        count(*) AS n_items
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""",

    // TPC-H Q18 shape: the heavy side collapses before any join
    "q_large_orders" -> """
      WITH big AS (
        SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS qty_exact
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 250)
      SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        round(qty_exact, 2)::DOUBLE AS sum_qty
      FROM big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",

    // TPC-H Q17 shape: correlated avg-quantity subquery, decorrelated.
    // The 0.5*avg threshold is cross-multiplied (2*qty*cnt < sum) so the
    // boundary never touches decimal-division rounding.
    "q_small_qty_orders" -> """
      WITH li AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23'),
      avgq AS (
        SELECT l_partkey AS a_partkey,
          sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty_sum,
          count(*)::BIGINT AS cnt
        FROM li GROUP BY 1)
      SELECT l_partkey, count(*)::BIGINT AS n_small,
        round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)::DOUBLE AS small_revenue,
        round(any_value(qty_sum)::DOUBLE / any_value(cnt)::DOUBLE + 5e-9, 4) AS avg_qty
      FROM li JOIN avgq ON l_partkey = a_partkey
      WHERE CAST(l_quantity AS BIGINT) * 2 * cnt < qty_sum
      GROUP BY l_partkey ORDER BY l_partkey""",

    // TPC-H Q11 shape: global-total scalar subquery as a single-row
    // cross join; exact-DECIMAL threshold (rev*10000 > tot*2 ⟺ 0.02%)
    "q_revenue_share" -> """
      WITH pr AS (
        SELECT l_partkey,
          sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))) AS rev_exact
        FROM lineitem GROUP BY 1),
      t AS (SELECT sum(rev_exact) AS tot_exact FROM pr)
      SELECT l_partkey, round(rev_exact, 2)::DOUBLE AS revenue,
        round(rev_exact::DOUBLE / tot_exact::DOUBLE * 100 + 5e-9, 4) AS pct_of_total
      FROM pr, t WHERE rev_exact::DOUBLE / tot_exact::DOUBLE > (2::DOUBLE / 10000::DOUBLE)
      ORDER BY l_partkey""",

    // TPC-H Q14 shape: conditional-aggregate promo share per ship month
    "q_promo_share" -> """
      SELECT date_trunc('month', l_shipdate) AS ship_month,
        round(sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END), 2)::DOUBLE AS promo_revenue,
        round(sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS total_revenue,
        round(sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END)::DOUBLE
          / sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6)))::DOUBLE
          * 100 + 5e-9, 4) AS promo_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY 1""",

    // TPC-H Q15 shape: per-supplier revenue view + scalar max; ties at
    // the exact-DECIMAL maximum are real rows
    "q_top_supplier" -> """
      WITH ps AS (
        SELECT l_suppkey,
          sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))) AS rev_exact
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1),
      m AS (SELECT max(rev_exact) AS max_exact FROM ps)
      SELECT s_suppkey, s_name, round(rev_exact, 2)::DOUBLE AS total_revenue
      FROM ps
      JOIN supplier ON l_suppkey = s_suppkey
      CROSS JOIN m
      WHERE rev_exact = max_exact
      ORDER BY s_suppkey""",

    // TPC-H Q10 shape: top-20 customers by returned revenue in a quarter
    "q_returned_losses" -> """
      WITH r AS (
        SELECT c_custkey, c_name, n_name,
          sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,6))) AS rev_exact,
          count(*)::BIGINT AS n_returns
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY rev_exact DESC, c_custkey LIMIT 20)
      SELECT c_custkey, c_name, n_name,
        round(rev_exact, 2)::DOUBLE AS returned_revenue, n_returns
      FROM r ORDER BY returned_revenue DESC, c_custkey""",

    // TPC-H Q4 shape: EXISTS → semi join (stated as IN — DuckDB plans a
    // semi join; the set comparison is what matters)
    "q_priority_returns" -> """
      SELECT o_orderpriority, count(*)::BIGINT AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
      GROUP BY 1 ORDER BY 1""",

    // TPC-H Q22 shape: scalar-avg threshold + NOT EXISTS anti join
    // against date-filtered orders (lapsed customers)
    "q_idle_customers" -> """
      WITH t AS (
        SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS bal_sum,
               count(*)::BIGINT AS bal_n
        FROM customer WHERE c_acctbal > 0)
      SELECT n_name, count(*)::BIGINT AS n_custs,
        round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)::DOUBLE AS total_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      CROSS JOIN t
      WHERE CAST(c_acctbal AS DECIMAL(18,6))::DOUBLE > bal_sum::DOUBLE / bal_n::DOUBLE
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY 1 ORDER BY 1""",

    // TPC-H Q13 shape: outer-join order counts per customer (zeros
    // preserved), rolled into a distribution; the ON-clause predicate
    // is right-side-only so it matches the engine's pre-filtered join
    "q_order_count_dist" -> """
      SELECT c_count, count(*)::BIGINT AS custdist
      FROM (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
            FROM customer c LEFT JOIN orders o
              ON o.o_custkey = c.c_custkey
             AND o.o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY 1)
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",

    // TPC-H Q19 shape: OR-of-conjunctions across both join sides;
    // per-brand rollup keeps the output deterministic and >1 row
    "q_disjunctive_revenue" -> """
      SELECT p_brand, count(*)::BIGINT AS n_lines,
        round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
      GROUP BY 1 ORDER BY 1""",

    // join-key skew profile: top-10 heavy hitters with exact ppm
    // shares + the global per-key-count distribution on every row
    "q_skew_profile" -> """
      WITH c AS (SELECT user_id, count(*)::BIGINT AS cnt
                 FROM events GROUP BY 1),
      s AS (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_rows,
              max(cnt)::BIGINT AS max_cnt,
              quantile_cont(cnt, 0.5) AS p50_raw,
              quantile_cont(cnt, 0.99) AS p99_raw
            FROM c)
      SELECT user_id, cnt, (cnt * 1000000) // n_rows AS share_ppm,
        n_keys, n_rows, max_cnt,
        round(p50_raw + 5e-9, 4) AS p50_cnt,
        round(p99_raw + 5e-9, 4) AS p99_cnt,
        round(max_cnt::DOUBLE / p50_raw + 5e-9, 4) AS skew_ratio
      FROM c CROSS JOIN s
      ORDER BY cnt DESC, user_id LIMIT 10""",

    // Z-order locality report: exact integer quantize + 16-term bit
    // interleave, per-cell envelopes (oracle mirrors the arithmetic)
    "q_zorder_layout" -> {
      val terms = (0 until 8).flatMap { i =>
        Seq(s"(((sx >> $i) & 1) << ${2 * i})",
          s"(((sy >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""
      WITH b AS (SELECT p_partkey, p_size::BIGINT AS sz,
                   CAST(round(p_retailprice * 10) AS BIGINT) AS pr
                 FROM part),
      st AS (SELECT min(sz) AS sz_min, max(sz) AS sz_max,
               min(pr) AS pr_min, max(pr) AS pr_max FROM b),
      q AS (SELECT sz, pr,
              ((sz - sz_min) * 255) // greatest(sz_max - sz_min, 1) AS sx,
              ((pr - pr_min) * 255) // greatest(pr_max - pr_min, 1) AS sy
            FROM b CROSS JOIN st),
      z AS (SELECT sz, pr, $terms AS zval FROM q)
      SELECT zval // 256 AS cell, count(*)::BIGINT AS n_parts,
        min(zval) AS z_lo, max(zval) AS z_hi,
        min(sz) AS size_lo, max(sz) AS size_hi,
        min(pr)::DOUBLE / 10.0 AS price_lo,
        max(pr)::DOUBLE / 10.0 AS price_hi
      FROM z GROUP BY 1 ORDER BY 1"""
    },

    // Hilbert layout: same quantized grid, the order-8 curve via 8
    // unrolled reflect+swap rounds (every intermediate stays in
    // [0,255] so integer // and % agree across engines)
    "q_hilbert_layout" -> {
      // fresh x/y/d names per round: DuckDB's lateral column aliases
      // would otherwise rebind same-named references mid-SELECT.
      // Nesting is textual: first round emitted = OUTERMOST select, so
      // emit bit 0 (producing d0) first and bit 7 (reading q's x8) last.
      val rounds = (0 to 7).map { bit =>
        val s = 1L << bit
        val l = bit + 1; val m = bit
        s"""(SELECT sz, pr,
              CASE WHEN (y$l // $s) % 2 = 1 THEN x$l
                   WHEN (x$l // $s) % 2 = 1 THEN 255 - y$l ELSE y$l END AS x$m,
              CASE WHEN (y$l // $s) % 2 = 1 THEN y$l
                   WHEN (x$l // $s) % 2 = 1 THEN 255 - x$l ELSE x$l END AS y$m,
              d$l + $s * $s * (3 * ((x$l // $s) % 2)
                + ((y$l // $s) % 2) * (1 - 2 * ((x$l // $s) % 2))) AS d$m
            FROM"""
      }
      val opens = rounds.mkString(" ")
      val closes = ")" * 8
      s"""
      WITH b AS (SELECT p_partkey, p_size::BIGINT AS sz,
                   CAST(round(p_retailprice * 10) AS BIGINT) AS pr
                 FROM part),
      st AS (SELECT min(sz) AS sz_min, max(sz) AS sz_max,
               min(pr) AS pr_min, max(pr) AS pr_max FROM b),
      q AS (SELECT sz, pr,
              ((sz - sz_min) * 255) // greatest(sz_max - sz_min, 1) AS x8,
              ((pr - pr_min) * 255) // greatest(pr_max - pr_min, 1) AS y8,
              CAST(0 AS BIGINT) AS d8
            FROM b CROSS JOIN st)
      SELECT d0 // 256 AS cell, count(*)::BIGINT AS n_parts,
        min(d0) AS h_lo, max(d0) AS h_hi,
        min(sz) AS size_lo, max(sz) AS size_hi,
        min(pr)::DOUBLE / 10.0 AS price_lo,
        max(pr)::DOUBLE / 10.0 AS price_hi
      FROM $opens q$closes
      GROUP BY 1 ORDER BY 1"""
    },

    // approx-distinct contract: exact anchors + a verdict the engine
    // must prove from its own HLL sketch (estimates are engine-specific
    // so the estimate itself is never compared)
    "q_distinct_approx" -> """
      SELECT event_type, count(*)::BIGINT AS n,
        count(DISTINCT user_id)::BIGINT AS d_exact,
        TRUE AS approx_in_band
      FROM events GROUP BY 1 ORDER BY 1""",

    // prune simulation: Z-cells as files, per-dimension predicate
    // verdicts off the cell envelopes (integer tenths for price)
    "q_prune_sim" -> {
      val terms = (0 until 8).flatMap { i =>
        Seq(s"(((sx >> $i) & 1) << ${2 * i})",
          s"(((sy >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""
      WITH b AS (SELECT p_partkey, p_size::BIGINT AS sz,
                   CAST(round(p_retailprice * 10) AS BIGINT) AS pr
                 FROM part),
      st AS (SELECT min(sz) AS sz_min, max(sz) AS sz_max,
               min(pr) AS pr_min, max(pr) AS pr_max FROM b),
      q AS (SELECT sz, pr,
              ((sz - sz_min) * 255) // greatest(sz_max - sz_min, 1) AS sx,
              ((pr - pr_min) * 255) // greatest(pr_max - pr_min, 1) AS sy
            FROM b CROSS JOIN st),
      z AS (SELECT sz, pr, $terms AS zval FROM q),
      cells AS (SELECT zval // 256 AS cell, count(*)::BIGINT AS n_rows,
                  min(sz) AS s_lo, max(sz) AS s_hi,
                  min(pr) AS p_lo, max(pr) AS p_hi
                FROM z GROUP BY 1),
      tot AS (SELECT sum(n_rows)::BIGINT AS tot_rows FROM cells),
      u AS (SELECT 'size' AS dim,
              CASE WHEN s_hi < 10 OR s_lo > 20 THEN 'pruned'
                   WHEN s_lo >= 10 AND s_hi <= 20 THEN 'full'
                   ELSE 'scan' END AS verdict, n_rows
            FROM cells
            UNION ALL
            SELECT 'price' AS dim,
              CASE WHEN p_hi < 12000 OR p_lo > 14000 THEN 'pruned'
                   WHEN p_lo >= 12000 AND p_hi <= 14000 THEN 'full'
                   ELSE 'scan' END AS verdict, n_rows
            FROM cells)
      SELECT dim, verdict, count(*)::BIGINT AS n_cells,
        sum(n_rows)::BIGINT AS n_rows,
        (sum(n_rows)::BIGINT * 1000000) // tot_rows AS rows_ppm
      FROM u CROSS JOIN tot
      GROUP BY dim, verdict, tot_rows ORDER BY dim, verdict"""
    },

    // layout comparison: both orders from one quantized CTE, per-pair
    // consecutive-cell envelope gaps (the Hilbert-vs-Morton seam claim)
    "q_layout_compare" -> {
      val zterms = (0 until 8).flatMap { i =>
        Seq(s"(((sx >> $i) & 1) << ${2 * i})",
          s"(((sy >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      // Hilbert rounds carrying the ORIGINAL (sx, sy) untouched;
      // bit-0 round first = outermost (see q_hilbert_layout)
      val rounds = (0 to 7).map { bit =>
        val s = 1L << bit
        val l = bit + 1; val m = bit
        s"""(SELECT sx, sy,
              CASE WHEN (y$l // $s) % 2 = 1 THEN x$l
                   WHEN (x$l // $s) % 2 = 1 THEN 255 - y$l ELSE y$l END AS x$m,
              CASE WHEN (y$l // $s) % 2 = 1 THEN y$l
                   WHEN (x$l // $s) % 2 = 1 THEN 255 - x$l ELSE x$l END AS y$m,
              d$l + $s * $s * (3 * ((x$l // $s) % 2)
                + ((y$l // $s) % 2) * (1 - 2 * ((x$l // $s) % 2))) AS d$m
            FROM"""
      }
      val opens = rounds.mkString(" ")
      val closes = ")" * 8
      s"""
      WITH b AS (SELECT p_size::BIGINT AS sz,
                   CAST(round(p_retailprice * 10) AS BIGINT) AS pr
                 FROM part),
      st AS (SELECT min(sz) AS sz_min, max(sz) AS sz_max,
               min(pr) AS pr_min, max(pr) AS pr_max FROM b),
      qz AS (SELECT ((sz - sz_min) * 255) // greatest(sz_max - sz_min, 1) AS sx,
               ((pr - pr_min) * 255) // greatest(pr_max - pr_min, 1) AS sy
             FROM b CROSS JOIN st),
      q AS (SELECT sx, sy, sx AS x8, sy AS y8, CAST(0 AS BIGINT) AS d8 FROM qz),
      h AS (SELECT sx, sy, d0 FROM $opens q$closes),
      u AS (SELECT 'zorder' AS layout, ($zterms) // 256 AS cell, sx, sy FROM qz
            UNION ALL
            SELECT 'hilbert' AS layout, d0 // 256 AS cell, sx, sy FROM h),
      cells AS (SELECT layout, cell, min(sx) AS x_lo, max(sx) AS x_hi,
                  min(sy) AS y_lo, max(sy) AS y_hi
                FROM u GROUP BY 1, 2),
      g AS (SELECT layout, x_lo, x_hi, y_lo, y_hi,
              lead(x_lo) OVER (PARTITION BY layout ORDER BY cell) AS nx_lo,
              lead(x_hi) OVER (PARTITION BY layout ORDER BY cell) AS nx_hi,
              lead(y_lo) OVER (PARTITION BY layout ORDER BY cell) AS ny_lo,
              lead(y_hi) OVER (PARTITION BY layout ORDER BY cell) AS ny_hi
            FROM cells),
      gg AS (SELECT layout,
               greatest(0, nx_lo - x_hi - 1, x_lo - nx_hi - 1)
                 + greatest(0, ny_lo - y_hi - 1, y_lo - ny_hi - 1) AS gap
             FROM g WHERE nx_lo IS NOT NULL)
      SELECT layout, count(*)::BIGINT AS n_pairs,
        sum(CASE WHEN gap = 0 THEN 1 ELSE 0 END)::BIGINT AS zero_gap_pairs,
        (sum(CASE WHEN gap = 0 THEN 1 ELSE 0 END)::BIGINT * 1000000) // count(*)
          AS zero_gap_ppm,
        sum(gap)::BIGINT AS sum_gap, max(gap)::BIGINT AS max_gap
      FROM gg GROUP BY 1 ORDER BY 1"""
    },

    // compaction plan: per-month declared-estimator byte totals,
    // ceil-div file counts at the 4 KB test-scale target
    "q_compaction_plan" -> """
      WITH per AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
               count(*)::BIGINT AS n_rows,
               sum(32 + length(o_orderstatus) + length(o_orderpriority))::BIGINT
                 AS est_bytes
             FROM orders GROUP BY 1),
      tot AS (SELECT sum(est_bytes)::BIGINT AS tot_bytes FROM per),
      f AS (SELECT ym, n_rows, est_bytes,
              (est_bytes + 4095) // 4096 AS n_files, tot_bytes
            FROM per CROSS JOIN tot)
      SELECT ym, n_rows, est_bytes, n_files,
        (n_rows + n_files - 1) // n_files AS rows_per_file,
        (est_bytes * 1000000) // tot_bytes AS share_ppm,
        est_bytes * 4 < 4096 AS merge_candidate
      FROM f ORDER BY ym""",

    // integer-tf keyword search; top-k selected on (score DESC, doc_id)
    // BM25: identical expression shape term-by-term (idf, then
    // tf·(k1+1)/denominator, summed in fixed hash+join+scan order);
    // the ranking key is the 4dp-rounded score, never the raw double
    "q_bm25" -> """
      WITH t AS (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS lw
             FROM documents),
      f AS (SELECT doc_id, len(lw)::BIGINT AS dl,
              len(list_filter(lw, w -> w = 'hash'))::BIGINT AS tf_hash,
              len(list_filter(lw, w -> w = 'join'))::BIGINT AS tf_join,
              len(list_filter(lw, w -> w = 'scan'))::BIGINT AS tf_scan
            FROM t),
      s AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
              sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END)::BIGINT AS df_hash,
              sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)::BIGINT AS df_join,
              sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END)::BIGINT AS df_scan
            FROM f),
      sc AS (SELECT f.doc_id, f.dl, f.tf_hash, f.tf_join, f.tf_scan,
               ln((s.n_docs::DOUBLE - s.df_hash::DOUBLE + 0.5) / (s.df_hash::DOUBLE + 0.5) + 1.0)
                 * (f.tf_hash::DOUBLE * (1.2 + 1.0))
                 / (f.tf_hash::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * f.dl::DOUBLE
                     / (s.sum_dl::DOUBLE / s.n_docs::DOUBLE)))
               + ln((s.n_docs::DOUBLE - s.df_join::DOUBLE + 0.5) / (s.df_join::DOUBLE + 0.5) + 1.0)
                 * (f.tf_join::DOUBLE * (1.2 + 1.0))
                 / (f.tf_join::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * f.dl::DOUBLE
                     / (s.sum_dl::DOUBLE / s.n_docs::DOUBLE)))
               + ln((s.n_docs::DOUBLE - s.df_scan::DOUBLE + 0.5) / (s.df_scan::DOUBLE + 0.5) + 1.0)
                 * (f.tf_scan::DOUBLE * (1.2 + 1.0))
                 / (f.tf_scan::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * f.dl::DOUBLE
                     / (s.sum_dl::DOUBLE / s.n_docs::DOUBLE))) AS score
             FROM f, s
             WHERE f.tf_hash + f.tf_join + f.tf_scan > 0)
      SELECT doc_id, dl, round(score + 5e-9, 4) AS score, tf_hash, tf_join, tf_scan
      FROM sc ORDER BY round(score + 5e-9, 4) DESC, doc_id LIMIT 20""",

    "q_keyword_search" -> """
      WITH t AS (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS lw
             FROM documents),
      f AS (SELECT doc_id,
              len(list_filter(lw, w -> w = 'hash'))::BIGINT AS tf_hash,
              len(list_filter(lw, w -> w = 'join'))::BIGINT AS tf_join,
              len(list_filter(lw, w -> w = 'scan'))::BIGINT AS tf_scan
            FROM t)
      SELECT doc_id, tf_hash + tf_join + tf_scan AS score,
        (tf_hash > 0 AND tf_join > 0 AND tf_scan > 0) AS all_terms,
        tf_hash, tf_join, tf_scan
      FROM f WHERE tf_hash + tf_join + tf_scan > 0
      ORDER BY score DESC, doc_id LIMIT 20"""
  )

  /** Multi-table LSH oracle: mirrors Similarity.{corpusBuckets,
    * queryProbes} — identical ±1 sign constants, identical fold order
    * (list_reduce from a prepended 0.0 ≡ LshPlanes.project's loop),
    * identical (|proj|, bit) margin ranking for the probe flips. */
  /** Shared multi-table LSH corpus CTEs: p1 (projection lists), p2
    * (per-table buckets), bk (one row per vector per table). */
  private def lshBkCtes: String = {
    import graft.operators.Similarity._
    def signList(t: Int, j: Int) = (0 until Dim)
      .map(d => if (graft.functions.LshPlanes.sign(t, j, d) > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
    def ptExpr(t: Int) = (0 until LshBits)
      .map(j => dotSql("v", signList(t, j))).mkString("[", ", ", "]")
    val ptCols = (0 until LshTables)
      .map(t => s"${ptExpr(t)} AS pt_$t").mkString(", ")
    def qbExpr(t: Int) = "CAST(" + (0 until LshBits).map { j =>
      s"(CASE WHEN pt_$t[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ") + " AS BIGINT)"
    val qbCols = (0 until LshTables)
      .map(t => s"${qbExpr(t)} AS qb_$t").mkString(", ")
    val bkUnion = (0 until LshTables)
      .map(t => s"SELECT vec_id, v, nrm, $t AS t, qb_$t AS bucket FROM p2")
      .mkString(" UNION ALL ")
    s"""
      p1 AS (SELECT vec_id, v, nrm, $ptCols FROM nv),
      p2 AS (SELECT *, $qbCols FROM p1),
      bk AS ($bkUnion)"""
  }

  /** CTEs `q0`, `q`, `c` — the LSH query probes and their DISTINCT
    * candidate set with exact cosine (shared by the LSH top-k oracles
    * and the graph-ANN entry beam). Expects $vecCtes,$lshBkCtes before. */
  private def lshEntryCtes(probed: Boolean): String = {
    import graft.operators.Similarity._
    def probesExpr(t: Int) =
      if (!probed) s"[qb_$t]"
      else {
        val srt = s"list_sort(list_transform(range(1, ${LshBits + 1}), " +
          s"j -> {'a': abs(pt_$t[j]), 'j': j - 1}))"
        val singles = s"list_transform(($srt)[1:$ProbeSingles], " +
          s"s -> xor(qb_$t, (1::BIGINT << s.j)))"
        val pairs = (for {
          i <- 0 until ProbePairBits; k <- i + 1 until ProbePairBits
        } yield s"xor(xor(qb_$t, (1::BIGINT << ($srt)[${i + 1}].j)), " +
          s"(1::BIGINT << ($srt)[${k + 1}].j))").mkString("[", ", ", "]")
        s"[qb_$t] || $singles || $pairs"
      }
    val qUnion = (0 until LshTables)
      .map(t => s"SELECT q_id, qv, qn, $t AS t, unnest(${probesExpr(t)}) AS probe FROM q0")
      .mkString(" UNION ALL ")
    s"""
      q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, ${(0 until LshTables).map(t => s"pt_$t, qb_$t").mkString(", ")}
             FROM p2 WHERE vec_id < $QueryCount),
      q AS ($qUnion),
      c AS (SELECT DISTINCT q.q_id, bk.vec_id AS nn_id,
              ${dotSql("bk.v", "q.qv")} / (q.qn * bk.nrm) AS cos
            FROM bk JOIN q ON bk.t = q.t AND bk.bucket = q.probe AND bk.vec_id <> q.q_id
            WHERE bk.nrm > 0 AND q.qn > 0)"""
  }

  /** Graph-ANN CTE chain, ending in `b<GraphRounds>(q_id, nn_id, cos)` —
    * the beam after the final expansion round. Expects
    * $vecCtes,$lshBkCtes earlier in the WITH; includes the multiprobe
    * entry CTEs (q0/q/c). Shared by q_ann_graph and the recall report. */
  private def graphAnnCtes: String = {
    import graft.operators.Similarity._
    def round(i: Int, prev: String) = s"""
      x$i AS (SELECT DISTINCT b.q_id, g.dst AS nn_id
              FROM $prev b JOIN g ON b.nn_id = g.src WHERE g.dst <> b.q_id),
      c$i AS (SELECT x.q_id, x.nn_id,
                ${dotSql("nv.v", "qq.qv")} / (qq.qn * nv.nrm) AS cos
              FROM x$i x JOIN nv ON x.nn_id = nv.vec_id
                JOIN qq ON x.q_id = qq.q_id
              WHERE nv.nrm > 0 AND qq.qn > 0),
      u$i AS (SELECT q_id, nn_id, max(cos) AS cos FROM
                (SELECT * FROM $prev UNION ALL SELECT * FROM c$i)
              GROUP BY 1, 2),
      b$i AS (SELECT q_id, nn_id, cos FROM u$i
              QUALIFY row_number() OVER (PARTITION BY q_id
                ORDER BY cos DESC, nn_id) <= $GraphBeam)"""
    val rounds = (1 to GraphRounds)
      .map(i => round(i, if (i == 1) "b0" else s"b${i - 1}")).mkString(",")
    s"""${lshEntryCtes(probed = true)},
      b0 AS (SELECT q_id, nn_id, cos FROM c
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, nn_id) <= $GraphBeam),
      sz AS (SELECT t, bucket, count(*) AS c FROM bk GROUP BY 1, 2),
      bkc AS (SELECT bk.vec_id, bk.v, bk.nrm, bk.t, bk.bucket
              FROM bk JOIN sz ON bk.t = sz.t AND bk.bucket = sz.bucket
              WHERE sz.c <= $NeardupMaxBucket),
      pr AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
               ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS ecos
             FROM bkc a JOIN bkc b
               ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
             WHERE a.nrm > 0 AND b.nrm > 0),
      g AS (SELECT src, dst FROM pr
            QUALIFY row_number() OVER (PARTITION BY src
              ORDER BY ecos DESC, dst) <= $GraphDegree),
      qq AS (SELECT q_id, qv, qn FROM q0),$rounds"""
  }

  private def lshOracleSql(probed: Boolean): String = {
    s"""
      WITH $vecCtes,$lshBkCtes,${lshEntryCtes(probed)},
      r AS (SELECT q_id, nn_id, cos,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk FROM c)
      SELECT q_id, nn_id, round(cos + 5e-9, 4) + 0.0 AS cos, rk
      FROM r WHERE rk <= 3 ORDER BY q_id, rk"""
  }

  private val vectorOps: Map[String, String] = Map(
    "q_ann_ivf" -> {
      import graft.operators.Similarity.{IvfProbes, QueryCount}
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      a AS (SELECT nv.vec_id, nv.v, nv.nrm, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, v, nrm, cent_id AS cell FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cent_id AS qcell
            FROM a WHERE vec_id < $QueryCount
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) <= $IvfProbes),
      c2 AS (SELECT q.q_id, cell.vec_id AS nn_id, cell.cell,
               ${dotSql("cell.v", "q.qv")} / (q.qn * cell.nrm) AS cos
             FROM cell JOIN q ON cell.cell = q.qcell AND cell.vec_id <> q.q_id
             WHERE cell.nrm > 0 AND q.qn > 0),
      r AS (SELECT q_id, nn_id, cell, cos,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk FROM c2)
      SELECT q_id, nn_id, cell, round(cos + 5e-9, 4) + 0.0 AS cos, rk
      FROM r WHERE rk <= 3 ORDER BY q_id, rk"""
    },

    // Lloyd-refined IVF: the md5-sampled centroids pushed through two
    // k-means iterations (assignment by (d2, cent_id); per-dimension
    // means rounded to 6dp, the determinism device that also absorbs
    // the engines' avg() summation-order drift), then the same
    // nprobe/cosine probe as q_ann_ivf.
    "q_ann_ivf_lloyd" -> {
      import graft.operators.Similarity.{IvfProbes, QueryCount}
      def d2Sql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform($a, (x, i) -> (x - $b[i]) * (x - $b[i]))), (p, s) -> p + s)"
      val iters = (1 to 2).map { k =>
        s"""
      a$k AS (SELECT nv.vec_id, nv.v, c.cent_id, ${d2Sql("nv.v", "c.cv")} AS d2
              FROM nv, c${k - 1} c),
      s$k AS (SELECT vec_id, v, cent_id FROM a$k
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      x$k AS (SELECT cent_id, unnest(range(0, len(v))) AS d, unnest(v) AS x FROM s$k),
      m$k AS (SELECT cent_id, d, round(avg(x), 6) AS m FROM x$k GROUP BY 1, 2),
      c$k AS (SELECT cent_id, list(m ORDER BY d) AS cv FROM m$k GROUP BY cent_id)"""
      }.mkString(",")
      s"""
      WITH $vecCtes,${ivfCentCtes("c0")},$iters,
      a AS (SELECT nv.vec_id, nv.v, nv.nrm, c.cent_id, ${d2Sql("nv.v", "c.cv")} AS d2
            FROM nv, c2 c),
      cell AS (SELECT vec_id, v, nrm, cent_id AS cell FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cent_id AS qcell
            FROM a WHERE vec_id < $QueryCount
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) <= $IvfProbes),
      cc AS (SELECT q.q_id, cell.vec_id AS nn_id, cell.cell,
               ${dotSql("cell.v", "q.qv")} / (q.qn * cell.nrm) AS cos
             FROM cell JOIN q ON cell.cell = q.qcell AND cell.vec_id <> q.q_id
             WHERE cell.nrm > 0 AND q.qn > 0),
      r AS (SELECT q_id, nn_id, cell, cos,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk FROM cc)
      SELECT q_id, nn_id, cell, round(cos + 5e-9, 4) + 0.0 AS cos, rk
      FROM r WHERE rk <= 3 ORDER BY q_id, rk"""
    },

    "q_embed_neardup" -> s"""
      WITH $vecCtes,
      p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
            FROM nv a JOIN nv b ON b.vec_id - a.vec_id BETWEEN 1 AND 10
            WHERE a.nrm > 0 AND b.nrm > 0)
      SELECT vec_a, vec_b, round(cos + 5e-9, 4) AS cos
      FROM p WHERE cos >= 0.25 ORDER BY vec_a, vec_b""",

    // SemDeDup: the q_ann_ivf assignment CTEs verbatim, then the
    // md5-rank membership cap and the within-cell pair walk; the
    // per-victim winner replays Spark's max_by((dup_of,cos),(cos,-b))
    // as a (cos DESC, vec_b ASC) row_number
    "q_semdedup" -> s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      a AS (SELECT nv.vec_id, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, cent_id AS cell FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      m AS (SELECT c.vec_id, c.cell, nv.v, nv.nrm
            FROM cell c JOIN nv USING (vec_id)
            QUALIFY row_number() OVER (PARTITION BY cell
              ORDER BY md5(c.vec_id::VARCHAR), c.vec_id) <= 64),
      p AS (SELECT x.vec_id AS vec_a, x.cell, y.vec_id AS dup_of,
              ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS cos
            FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id > y.vec_id
            WHERE x.nrm > 0 AND y.nrm > 0),
      r AS (SELECT vec_a AS vec_id, cell, dup_of, cos FROM p WHERE cos >= 0.2
            QUALIFY row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, dup_of) = 1)
      SELECT vec_id, cell, dup_of, round(cos + 5e-9, 4) AS cos
      FROM r ORDER BY vec_id""",

    // IVF probe-budget tuning contract: one shared assignment (the
    // q_ann_ivf CTEs), candidates tagged with their cell's probe rank,
    // the nprobe grid sliced from that one frame, recall vs the brute
    // ceiling; all ratios are exact integer // divisions and the chosen
    // flag replays Spark's min(struct(-eff, nprobe)) argmax via scalar
    // subqueries (the q_lsh_tuning device)
    "q_ivf_tuning" -> {
      import graft.operators.Similarity.{IvfTuningGrid, QueryCount}
      val gridVals = IvfTuningGrid.mkString(", ")
      val maxNp = IvfTuningGrid.max
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      a AS (SELECT nv.vec_id, nv.v, nv.nrm, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, v, nrm, cent_id AS cell FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cent_id AS qcell,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id)::BIGINT AS prk
            FROM a WHERE vec_id < $QueryCount
            QUALIFY prk <= $maxNp),
      cand AS (SELECT q.q_id, cell.vec_id AS nn_id, q.prk,
                 ${dotSql("cell.v", "q.qv")} / (q.qn * cell.nrm) AS cos
               FROM cell JOIN q ON cell.cell = q.qcell AND cell.vec_id <> q.q_id
               WHERE cell.nrm > 0 AND q.qn > 0),
      q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < $QueryCount),
      bc AS (SELECT q0.q_id, nv.vec_id AS nn_id,
               ${dotSql("nv.v", "q0.qv")} / (q0.qn * nv.nrm) AS cos
             FROM nv, q0 WHERE nv.vec_id <> q0.q_id AND nv.nrm > 0 AND q0.qn > 0),
      br AS (SELECT q_id, nn_id FROM bc
             QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) <= 5),
      nb AS (SELECT count(*)::BIGINT AS n_brute FROM br),
      grid AS (SELECT unnest([$gridVals])::BIGINT AS nprobe),
      cg AS (SELECT g.nprobe, c.q_id, c.nn_id, c.prk, c.cos
             FROM cand c, grid g WHERE c.prk <= g.nprobe),
      tk AS (SELECT nprobe, q_id, nn_id FROM cg
             QUALIFY row_number() OVER (PARTITION BY nprobe, q_id
               ORDER BY cos DESC, nn_id) <= 5),
      h AS (SELECT tk.nprobe, count(*)::BIGINT AS hits
            FROM tk JOIN br USING (q_id, nn_id) GROUP BY 1),
      cr AS (SELECT nprobe, count(*)::BIGINT AS cand_rows FROM cg GROUP BY 1),
      sc AS (SELECT g.nprobe, ivfkk.k::BIGINT AS n_cells,
               (g.nprobe * 1000000) // ivfkk.k::BIGINT AS cells_ppm,
               coalesce(cr.cand_rows, 0)::BIGINT AS cand_rows,
               nb.n_brute,
               coalesce(h.hits, 0)::BIGINT AS hits,
               (coalesce(h.hits, 0)::BIGINT * 1000000) // nb.n_brute AS recall_ppm,
               CASE WHEN coalesce(cr.cand_rows, 0) = 0 THEN 0::BIGINT
                 ELSE (coalesce(h.hits, 0)::BIGINT * 1000000)
                   // coalesce(cr.cand_rows, 0)::BIGINT END AS eff_ppm
             FROM grid g
             LEFT JOIN cr ON g.nprobe = cr.nprobe
             LEFT JOIN h ON g.nprobe = h.nprobe
             CROSS JOIN ivfkk CROSS JOIN nb)
      SELECT nprobe, n_cells, cells_ppm, cand_rows, n_brute, hits,
        recall_ppm, eff_ppm,
        (eff_ppm = (SELECT max(eff_ppm) FROM sc)
          AND nprobe = (SELECT min(nprobe) FROM sc
                        WHERE eff_ppm = (SELECT max(eff_ppm) FROM sc))) AS chosen
      FROM sc ORDER BY nprobe"""
    },

    "q_ann_bruteforce" -> {
      import graft.operators.Similarity.QueryCount
      s"""
      WITH $vecCtes,
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < $QueryCount),
      c AS (SELECT q.q_id, nv.vec_id AS nn_id,
              ${dotSql("nv.v", "q.qv")} / (q.qn * nv.nrm) AS cos
            FROM nv, q WHERE nv.vec_id <> q.q_id AND nv.nrm > 0 AND q.qn > 0),
      r AS (SELECT q_id, nn_id, cos,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk FROM c)
      SELECT q_id, nn_id, round(cos + 5e-9, 4) + 0.0 AS cos, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    },

    // kNN majority vote over the brute top-k: argmax replays Spark's
    // max_by((label,votes),(votes,-label)) as (votes DESC, label ASC)
    "q_knn_classify" -> {
      import graft.operators.Similarity.QueryCount
      s"""
      WITH $vecCtes,
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < $QueryCount),
      c AS (SELECT q.q_id, nv.vec_id AS nn_id,
              ${dotSql("nv.v", "q.qv")} / (q.qn * nv.nrm) AS cos
            FROM nv, q WHERE nv.vec_id <> q.q_id AND nv.nrm > 0 AND q.qn > 0),
      r AS (SELECT q_id, nn_id,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk FROM c),
      v AS (SELECT r.q_id, e2.label::BIGINT AS nn_label, count(*)::BIGINT AS votes
            FROM r JOIN embeddings e2 ON e2.vec_id = r.nn_id
            WHERE r.rk <= 5 GROUP BY 1, 2),
      p AS (SELECT q_id, nn_label AS pred_label, votes,
              sum(votes) OVER (PARTITION BY q_id)::BIGINT AS n_neighbors,
              row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, nn_label) AS pr
            FROM v)
      SELECT p.q_id, e3.label::BIGINT AS own_label, p.pred_label, p.votes,
        p.n_neighbors, (e3.label::BIGINT = p.pred_label) AS correct
      FROM p JOIN embeddings e3 ON e3.vec_id = p.q_id
      WHERE p.pr = 1 ORDER BY p.q_id"""
    },

    "q_ann_lsh" -> lshOracleSql(probed = false),

    "q_ann_lsh_multiprobe" -> lshOracleSql(probed = true),

    // graph ANN: bounded-degree kNN graph from the capped LSH pair join,
    // beam search unrolled to GraphRounds fixed expansion rounds (each
    // round: expand beam through out-edges, score new ids exactly,
    // re-rank to the beam width) — the engine's fixed-round plan replays
    // as a linear CTE chain (graphAnnCtes, shared with the recall report)
    "q_ann_graph" -> {
      import graft.operators.Similarity.GraphRounds
      s"""
      WITH $vecCtes,$lshBkCtes,$graphAnnCtes,
      r AS (SELECT q_id, nn_id, cos,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk
            FROM b$GraphRounds)
      SELECT q_id, nn_id, round(cos + 5e-9, 4) + 0.0 AS cos, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    },

    // content-driven near-dup: pairs sharing any LSH table bucket (the
    // scale path the id-band variant approximates), with the same
    // bucket-size cap as the dedup family
    "q_embed_neardup_lsh" -> {
      import graft.operators.Similarity.{NeardupMaxBucket, NeardupThreshold}
      s"""
      WITH $vecCtes,$lshBkCtes,
      sz AS (SELECT t, bucket, count(*) AS c FROM bk GROUP BY 1, 2),
      bkc AS (SELECT bk.vec_id, bk.v, bk.nrm, bk.t, bk.bucket
              FROM bk JOIN sz ON bk.t = sz.t AND bk.bucket = sz.bucket
              WHERE sz.c <= $NeardupMaxBucket),
      c AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
              ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
            FROM bkc a JOIN bkc b
              ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE a.nrm > 0 AND b.nrm > 0)
      SELECT vec_a, vec_b, round(cos + 5e-9, 4) AS cos
      FROM c WHERE cos >= $NeardupThreshold
      ORDER BY vec_a, vec_b"""
    },

    // int8 scalar quantization: floor(x·127/maxabs + 0.5) sidesteps the
    // engines' differing round-half rules; folds are sequential
    // list_reduce (≡ Spark's aggregate) so every double is bit-equal.
    "q_embed_quantize" -> s"""
      WITH
      e AS (SELECT vec_id, list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      mx AS (SELECT vec_id, v,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(v, x -> abs(x))), (p, s) -> greatest(p, s)) AS maxabs
             FROM e),
      qq AS (SELECT vec_id, v, maxabs,
               CASE WHEN maxabs > 0
                 THEN list_transform(v, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT))
                 ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
             FROM mx)
      SELECT vec_id, floor(maxabs * 1000000 + 0.5) / 1000000 AS maxabs,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(q, (c, i) -> c * i)), (p, s) -> p + s) AS code_sum,
        len(list_filter(q, c -> abs(c) = 127)) AS n_sat,
        len(list_filter(q, c -> c = 0)) AS n_zero,
        CASE WHEN maxabs > 0 THEN
          floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(v, (x, i) ->
              (x - q[i] * maxabs / 127.0) * (x - q[i] * maxabs / 127.0))),
            (p, s) -> p + s) * 1000000 + 0.5) / 1000000
        ELSE 0.0 END AS recon_err
      FROM qq ORDER BY vec_id""",

    // Product quantization: codebook = sub-vectors of the first PqKs
    // corpus vectors in md5 order (the annIvf sampling device);
    // assignment = min over (d2, code_id); the packed word and the error
    // fold both run over ORDER BY m lists (≡ Spark's sort_array fold).
    "q_pq_codes" -> {
      import graft.operators.Similarity.{PqKs, PqM, PqSubDim}
      s"""
      WITH
      e AS (SELECT vec_id, list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      samp AS (SELECT v AS cv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      cents AS (SELECT m, code_id,
                  list_slice(cv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
                FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM e, ms),
      d AS (SELECT vec_id, sub.m, code_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(sv, (x, i) -> (x - csub[i]) * (x - csub[i]))),
                (p, s) -> p + s) AS d2
            FROM sub JOIN cents ON sub.m = cents.m),
      best AS (SELECT vec_id, m, code_id AS code, d2 FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      agg AS (SELECT vec_id, list(code ORDER BY m) AS codes, list(d2 ORDER BY m) AS d2s
              FROM best GROUP BY vec_id)
      SELECT vec_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(codes, (c, i) -> c << (4 * (i - 1)))), (p, s) -> p + s) AS pq_code,
        floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), d2s), (p, s) -> p + s)
          * 1000000 + 0.5) / 1000000 AS recon_err
      FROM agg ORDER BY vec_id"""
    },

    // PQ asymmetric-distance (ADC) top-k: queries build an O(|Q|·M·Ks)
    // codeword distance table; corpus vectors participate only through
    // their nibble codes. ADC folds over ORDER BY m for a fixed order.
    "q_ann_pq" -> {
      import graft.operators.Similarity.{PqKs, PqM, PqSubDim, QueryCount}
      s"""
      WITH
      e AS (SELECT vec_id, list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      samp AS (SELECT v AS cv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      cents AS (SELECT m, code_id,
                  list_slice(cv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
                FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM e, ms),
      d AS (SELECT vec_id, sub.m, code_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(sv, (x, i) -> (x - csub[i]) * (x - csub[i]))),
                (p, s) -> p + s) AS d2
            FROM sub JOIN cents ON sub.m = cents.m),
      best AS (SELECT vec_id, m, code_id AS code FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      dt AS (SELECT vec_id AS q_id, m, code_id, d2 AS qd2 FROM d WHERE vec_id < $QueryCount),
      j AS (SELECT dt.q_id, b.vec_id AS nn_id, b.m, dt.qd2
            FROM best b JOIN dt ON b.m = dt.m AND b.code = dt.code_id
            WHERE b.vec_id <> dt.q_id),
      a AS (SELECT q_id, nn_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(qd2 ORDER BY m)),
                (p, s) -> p + s) AS adc
            FROM j GROUP BY q_id, nn_id),
      r AS (SELECT q_id, nn_id, adc,
              row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS rk FROM a)
      SELECT q_id, nn_id, floor(adc * 1000000 + 0.5) / 1000000 AS adc, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    },

    // IVF+PQ composed: the adaptive-K coarse quantizer ROUTES queries to
    // their nprobe cells (q_ann_ivf's assignment CTEs), PQ/ADC RANKS the
    // candidates within the probed cells (q_ann_pq's code/dtable CTEs) —
    // candidates join codes on id, never raw vectors. ADC folds over
    // ORDER BY m for a fixed summation order.
    "q_ann_ivfpq" -> {
      import graft.operators.Similarity.{IvfProbes, PqKs, PqM, PqSubDim, QueryCount}
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      av AS (SELECT nv.vec_id, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, cent_id AS cell FROM av
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      q AS (SELECT vec_id AS q_id, cent_id AS qcell FROM av WHERE vec_id < $QueryCount
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) <= $IvfProbes),
      samp AS (SELECT v AS cv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      pqc AS (SELECT m, code_id,
                list_slice(cv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
              FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM e, ms),
      d AS (SELECT vec_id, sub.m, code_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(sv, (x, i) -> (x - csub[i]) * (x - csub[i]))),
                (p, s) -> p + s) AS d2
            FROM sub JOIN pqc ON sub.m = pqc.m),
      best AS (SELECT vec_id, m, code_id AS code FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      dt AS (SELECT vec_id AS q_id, m, code_id, d2 AS qd2 FROM d WHERE vec_id < $QueryCount),
      cand AS (SELECT q.q_id, cell.vec_id AS nn_id, cell.cell
               FROM cell JOIN q ON cell.cell = q.qcell AND cell.vec_id <> q.q_id),
      j AS (SELECT cand.q_id, cand.nn_id, cand.cell, b.m, dt.qd2
            FROM cand JOIN best b ON b.vec_id = cand.nn_id
            JOIN dt ON dt.q_id = cand.q_id AND b.m = dt.m AND b.code = dt.code_id),
      a2 AS (SELECT q_id, nn_id, any_value(cell) AS cell,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(qd2 ORDER BY m)),
                (p, s) -> p + s) AS adc
            FROM j GROUP BY q_id, nn_id),
      r AS (SELECT q_id, nn_id, cell, adc,
              row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS rk FROM a2)
      SELECT q_id, nn_id, cell, floor(adc * 1000000 + 0.5) / 1000000 AS adc, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    },

    // IVF+PQ with EXACT RE-RANKING: the q_ann_ivfpq chain ranks a
    // 32-deep ADC shortlist per query, then ONLY those ids rejoin the
    // raw vectors for the exact cosine that decides the final top-k —
    // the compressed index shortlists, the refine decides
    "q_ann_ivf_refine" -> {
      import graft.operators.Similarity.{IvfProbes, PqKs, PqM, PqSubDim,
        QueryCount, RefineShortlist}
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      av AS (SELECT nv.vec_id, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, cent_id AS cell FROM av
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      q AS (SELECT vec_id AS q_id, cent_id AS qcell FROM av WHERE vec_id < $QueryCount
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) <= $IvfProbes),
      samp AS (SELECT v AS cv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      pqc AS (SELECT m, code_id,
                list_slice(cv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
              FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM e, ms),
      d AS (SELECT vec_id, sub.m, code_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(sv, (x, i) -> (x - csub[i]) * (x - csub[i]))),
                (p, s) -> p + s) AS d2
            FROM sub JOIN pqc ON sub.m = pqc.m),
      best AS (SELECT vec_id, m, code_id AS code FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      dt AS (SELECT vec_id AS q_id, m, code_id, d2 AS qd2 FROM d WHERE vec_id < $QueryCount),
      cand AS (SELECT q.q_id, cell.vec_id AS nn_id
               FROM cell JOIN q ON cell.cell = q.qcell AND cell.vec_id <> q.q_id),
      j AS (SELECT cand.q_id, cand.nn_id, b.m, dt.qd2
            FROM cand JOIN best b ON b.vec_id = cand.nn_id
            JOIN dt ON dt.q_id = cand.q_id AND b.m = dt.m AND b.code = dt.code_id),
      a2 AS (SELECT q_id, nn_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(qd2 ORDER BY m)),
                (p, s) -> p + s) AS adc
            FROM j GROUP BY q_id, nn_id),
      sl AS (SELECT q_id, nn_id,
               row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS ark
             FROM a2 QUALIFY ark <= $RefineShortlist),
      x AS (SELECT sl.q_id, sl.nn_id, sl.ark,
              ${dotSql("b.v", "a.v")} / (a.nrm * b.nrm) AS cos
            FROM sl JOIN nv b ON b.vec_id = sl.nn_id
                    JOIN nv a ON a.vec_id = sl.q_id
            WHERE a.nrm > 0 AND b.nrm > 0),
      r AS (SELECT q_id, nn_id, cos, ark,
              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk FROM x)
      SELECT q_id, nn_id, round(cos + 5e-9, 4) + 0.0 AS cos, ark::BIGINT AS ark, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    },

    // ANN recall report: exact brute top-k as the ceiling, ADC-only and
    // exact-re-ranked hit counts per query — integer intersections, the
    // recall ratios divide the same integers in both engines
    "q_ann_recall_report" -> {
      import graft.operators.Similarity.{GraphRounds, IvfProbes, PqKs, PqM,
        PqSubDim, QueryCount, RefineShortlist}
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      av AS (SELECT nv.vec_id, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, cent_id AS cell FROM av
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      qpr AS (SELECT vec_id AS q_id, cent_id AS qcell FROM av WHERE vec_id < $QueryCount
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) <= $IvfProbes),
      samp AS (SELECT v AS cv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      pqc AS (SELECT m, code_id,
                list_slice(cv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
              FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM e, ms),
      d AS (SELECT vec_id, sub.m, code_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(sv, (x, i) -> (x - csub[i]) * (x - csub[i]))),
                (p, s) -> p + s) AS d2
            FROM sub JOIN pqc ON sub.m = pqc.m),
      best AS (SELECT vec_id, m, code_id AS code FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      dt AS (SELECT vec_id AS q_id, m, code_id, d2 AS qd2 FROM d WHERE vec_id < $QueryCount),
      cand AS (SELECT qpr.q_id, cell.vec_id AS nn_id
               FROM cell JOIN qpr ON cell.cell = qpr.qcell AND cell.vec_id <> qpr.q_id),
      j AS (SELECT cand.q_id, cand.nn_id, b.m, dt.qd2
            FROM cand JOIN best b ON b.vec_id = cand.nn_id
            JOIN dt ON dt.q_id = cand.q_id AND b.m = dt.m AND b.code = dt.code_id),
      a2 AS (SELECT q_id, nn_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(qd2 ORDER BY m)),
                (p, s) -> p + s) AS adc
            FROM j GROUP BY q_id, nn_id),
      adc5 AS (SELECT q_id, nn_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS rk
               FROM a2 QUALIFY rk <= 5),
      sl AS (SELECT q_id, nn_id,
               row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS ark
             FROM a2 QUALIFY ark <= $RefineShortlist),
      x AS (SELECT sl.q_id, sl.nn_id,
              ${dotSql("b.v", "a.v")} / (a.nrm * b.nrm) AS cos
            FROM sl JOIN nv b ON b.vec_id = sl.nn_id
                    JOIN nv a ON a.vec_id = sl.q_id
            WHERE a.nrm > 0 AND b.nrm > 0),
      ref5 AS (SELECT q_id, nn_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk
               FROM x QUALIFY rk <= 5),
      bqr AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < $QueryCount),
      bcand AS (SELECT bqr.q_id, nv.vec_id AS nn_id,
                  ${dotSql("nv.v", "bqr.qv")} / (bqr.qn * nv.nrm) AS cos
                FROM nv, bqr WHERE nv.vec_id <> bqr.q_id AND nv.nrm > 0 AND bqr.qn > 0),
      bru AS (SELECT q_id, nn_id,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk
              FROM bcand QUALIFY rk <= 5),
      nb AS (SELECT q_id, count(*)::BIGINT AS n_brute FROM bru GROUP BY q_id),
      ha AS (SELECT bru.q_id, count(*)::BIGINT AS h_adc
             FROM bru JOIN adc5 ON adc5.q_id = bru.q_id AND adc5.nn_id = bru.nn_id
             GROUP BY bru.q_id),
      hr AS (SELECT bru.q_id, count(*)::BIGINT AS h_ref
             FROM bru JOIN ref5 ON ref5.q_id = bru.q_id AND ref5.nn_id = bru.nn_id
             GROUP BY bru.q_id),
      $lshBkCtes,$graphAnnCtes,
      gr5 AS (SELECT q_id, nn_id,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rk
              FROM b$GraphRounds QUALIFY rk <= 5),
      hg AS (SELECT bru.q_id, count(*)::BIGINT AS h_graph
             FROM bru JOIN gr5 ON gr5.q_id = bru.q_id AND gr5.nn_id = bru.nn_id
             GROUP BY bru.q_id)
      SELECT nb.q_id, nb.n_brute,
        coalesce(ha.h_adc, 0)::BIGINT AS hits_adc,
        coalesce(hr.h_ref, 0)::BIGINT AS hits_refined,
        coalesce(hg.h_graph, 0)::BIGINT AS hits_graph,
        round(coalesce(ha.h_adc, 0)::DOUBLE / nb.n_brute::DOUBLE + 5e-9, 4) AS recall_adc,
        round(coalesce(hr.h_ref, 0)::DOUBLE / nb.n_brute::DOUBLE + 5e-9, 4) AS recall_refined,
        round(coalesce(hg.h_graph, 0)::DOUBLE / nb.n_brute::DOUBLE + 5e-9, 4) AS recall_graph
      FROM nb LEFT JOIN ha ON ha.q_id = nb.q_id
              LEFT JOIN hr ON hr.q_id = nb.q_id
              LEFT JOIN hg ON hg.q_id = nb.q_id
      ORDER BY nb.q_id"""
    },

    // k-means-TRAINED PQ codebook (2 Lloyd iterations per subspace,
    // unrolled like q_ann_ivf_lloyd's; per-dim round(avg, 6) mirrors the
    // native vec_mean6 aggregate and absorbs both engines' avg order),
    // then the q_ann_pq ADC search against the trained codewords
    "q_ann_pq_t" -> {
      import graft.operators.Similarity.{PqKs, PqM, PqSubDim, QueryCount}
      def d2Sql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform($a, (x, i) -> (x - $b[i]) * (x - $b[i]))), (p, s) -> p + s)"
      val iters = (1 to 2).map { k =>
        s"""
      a$k AS (SELECT sub.vec_id, sub.m, sub.sv, c.code_id, ${d2Sql("sub.sv", "c.csub")} AS d2
              FROM sub JOIN pqc${k - 1} c ON sub.m = c.m),
      s$k AS (SELECT vec_id, m, sv, code_id FROM a$k
              QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      x$k AS (SELECT m, code_id, unnest(range(0, len(sv))) AS d, unnest(sv) AS x FROM s$k),
      v$k AS (SELECT m, code_id, d, round(avg(x), 6) AS mv FROM x$k GROUP BY 1, 2, 3),
      pqc$k AS (SELECT m, code_id, list(mv ORDER BY d) AS csub FROM v$k GROUP BY m, code_id)"""
      }.mkString(",")
      s"""
      WITH
      e AS (SELECT vec_id, list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      samp AS (SELECT v AS cv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      pqc0 AS (SELECT m, code_id,
                 list_slice(cv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
               FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM e, ms),$iters,
      d AS (SELECT sub.vec_id, sub.m, c.code_id, ${d2Sql("sub.sv", "c.csub")} AS d2
            FROM sub JOIN pqc2 c ON sub.m = c.m),
      best AS (SELECT vec_id, m, code_id AS code FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      dt AS (SELECT vec_id AS q_id, m, code_id, d2 AS qd2 FROM d WHERE vec_id < $QueryCount),
      j AS (SELECT dt.q_id, b.vec_id AS nn_id, b.m, dt.qd2
            FROM best b JOIN dt ON b.m = dt.m AND b.code = dt.code_id
            WHERE b.vec_id <> dt.q_id),
      a AS (SELECT q_id, nn_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(qd2 ORDER BY m)),
                (p, s) -> p + s) AS adc
            FROM j GROUP BY q_id, nn_id),
      r AS (SELECT q_id, nn_id, adc,
              row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS rk FROM a)
      SELECT q_id, nn_id, floor(adc * 1000000 + 0.5) / 1000000 AS adc, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    },

    // Residual IVF+PQ (IVFADC proper): the codebook trains on residuals
    // r = x - centroid(cell), queries build one distance table per
    // PROBED cell against their own residual q - centroid. Residual
    // subtraction is exact per-element; everything else mirrors
    // q_ann_ivfpq with the residual frames substituted.
    "q_ann_ivfpq_res" -> {
      import graft.operators.Similarity.{IvfProbes, PqKs, PqM, PqSubDim, QueryCount}
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      av AS (SELECT nv.vec_id, nv.v, c.cent_id, c.cv,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      -- MATERIALIZED (the q_graph_cc device): cellv carries one
      -- 64-double residual list per corpus vector and is referenced by
      -- samp/sub/cand — re-inlining re-runs the K-way distance scan per
      -- reference and exhausted temp disk at 100x bench scale
      cellv AS MATERIALIZED (SELECT vec_id, cent_id AS cell,
                  list_transform(v, (x, i) -> x - cv[i]) AS r
                FROM av
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      samp AS (SELECT r AS scv,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code_id
               FROM cellv ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqKs),
      ms AS (SELECT unnest(range($PqM)) AS m),
      pqc AS (SELECT m, code_id,
                list_slice(scv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS csub
              FROM samp, ms),
      sub AS (SELECT vec_id, m,
                list_slice(r, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
              FROM cellv, ms),
      d AS (SELECT vec_id, sub.m, code_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(sv, (x, i) -> (x - csub[i]) * (x - csub[i]))),
                (p, s) -> p + s) AS d2
            FROM sub JOIN pqc ON sub.m = pqc.m),
      best AS (SELECT vec_id, m, code_id AS code FROM d
               QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) = 1),
      qprobe AS (SELECT vec_id AS q_id, cent_id AS qcell,
                   list_transform(v, (x, i) -> x - cv[i]) AS qr
                 FROM av WHERE vec_id < $QueryCount
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) <= $IvfProbes),
      dtq AS (SELECT q.q_id, q.qcell, ms.m, pqc.code_id,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(list_slice(q.qr, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim),
                    (x, i) -> (x - pqc.csub[i]) * (x - pqc.csub[i]))),
                  (p, s) -> p + s) AS qd2
              FROM qprobe q, ms JOIN pqc ON ms.m = pqc.m),
      cand AS (SELECT q.q_id, cellv.vec_id AS nn_id, cellv.cell
               FROM cellv JOIN qprobe q ON cellv.cell = q.qcell AND cellv.vec_id <> q.q_id),
      j AS (SELECT cand.q_id, cand.nn_id, cand.cell, b.m, dt.qd2
            FROM cand JOIN best b ON b.vec_id = cand.nn_id
            JOIN dtq dt ON dt.q_id = cand.q_id AND dt.qcell = cand.cell
              AND b.m = dt.m AND b.code = dt.code_id),
      a2 AS (SELECT q_id, nn_id, any_value(cell) AS cell,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(qd2 ORDER BY m)),
                (p, s) -> p + s) AS adc
            FROM j GROUP BY q_id, nn_id),
      r AS (SELECT q_id, nn_id, cell, adc,
              row_number() OVER (PARTITION BY q_id ORDER BY adc, nn_id) AS rk FROM a2)
      SELECT q_id, nn_id, cell, floor(adc * 1000000 + 0.5) / 1000000 AS adc, rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""
    }
  )

  /** Second-wave indicators (IndicatorsExt) + temporal warehouse ops
    * (Temporal). Devices mirrored from the Scala side: Aroon's BIGINT
    * position encoding, CCI's seeded frame-list fold, the exact EMA
    * recursion folds for Keltner/Heikin-Ashi, TWAP's integer cents×µs
    * sums, and the incremental-merge recompute oracle. */
  private val extOps: Map[String, String] = Map(
    // rolling argmax/argmin positions via one windowed BIGINT max:
    // cents*10^10 + rn (latest bar wins ties) — exact integer math
    "q_aroon" -> s"""
      WITH $barsCte, $rnCte,
      k AS (SELECT symbol, bar_ts, "close", rn,
              (max(CAST(floor(high * 100 + 0.5) AS BIGINT) * 10000000000 + rn)
                ${wf("ROWS BETWEEN 24 PRECEDING AND CURRENT ROW")}) % 10000000000 AS hi_pos,
              (max((100000000 - CAST(floor(low * 100 + 0.5) AS BIGINT)) * 10000000000 + rn)
                ${wf("ROWS BETWEEN 24 PRECEDING AND CURRENT ROW")}) % 10000000000 AS lo_pos
            FROM b)
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 25 THEN round(100.0::DOUBLE * (25 - (rn - hi_pos)) / 25 + 5e-9, 4) END AS aroon_up,
        CASE WHEN rn >= 25 THEN round(100.0::DOUBLE * (25 - (rn - lo_pos)) / 25 + 5e-9, 4) END AS aroon_down,
        CASE WHEN rn >= 25 THEN round(100.0::DOUBLE * (hi_pos - lo_pos) / 25 + 5e-9, 4) + 0.0 END AS aroon_osc
      FROM k ORDER BY symbol, bar_ts""",

    // MAD depends on the CURRENT row's frame mean (window-of-window):
    // both engines fold the same 20-element frame list with a 0.0 seed
    "q_cci" -> s"""
      WITH $barsCte, $rnCte,
      t AS (SELECT symbol, bar_ts, "close", rn,
              CAST(high + low + "close" AS DECIMAL(18,6)) AS tp3 FROM b),
      m AS (SELECT symbol, bar_ts, "close", rn, tp3,
              sum(tp3) ${wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")}::DOUBLE / 60::DOUBLE AS sma_tp,
              list(tp3::DOUBLE) ${wf("ROWS BETWEEN 19 PRECEDING AND CURRENT ROW")} AS tp_lst
            FROM t),
      d AS (SELECT symbol, bar_ts, "close", rn, tp3, sma_tp,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), tp_lst),
                (acc, x) -> acc + abs(x / 3::DOUBLE - sma_tp)) / 20 AS mad
            FROM m)
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 20 AND mad <> 0 THEN
          round((tp3::DOUBLE / 3::DOUBLE - sma_tp) / (0.015::DOUBLE * mad) + 5e-9, 4) + 0.0
        END AS cci
      FROM d ORDER BY symbol, bar_ts""",

    "q_cmf" -> s"""
      WITH $barsCte, $rnCte,
      f AS (SELECT symbol, bar_ts, "close", rn, volume,
              (CASE WHEN high > low
                 THEN (("close" - low) - (high - "close")) / (high - low)
                 ELSE 0.0::DOUBLE END) * volume::DOUBLE AS mfv
            FROM b)
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 21 THEN
          round(sum(mfv) ${wf("ROWS BETWEEN 20 PRECEDING AND CURRENT ROW")}
            / (sum(volume) ${wf("ROWS BETWEEN 20 PRECEDING AND CURRENT ROW")})::DOUBLE + 5e-9, 4) + 0.0
        END AS cmf
      FROM f ORDER BY symbol, bar_ts""",

    "q_ultimate_osc" -> s"""
      WITH $barsCte, $rnCte,
      t AS (SELECT symbol, bar_ts, "close", high, low, rn,
              lag("close", 1) ${wf("")} AS pc FROM b),
      f AS (SELECT symbol, bar_ts, "close", rn,
              CASE WHEN pc IS NULL THEN NULL ELSE "close" - least(low, pc) END AS bp,
              CASE WHEN pc IS NULL THEN NULL ELSE greatest(high, pc) - least(low, pc) END AS tr
            FROM t),
      s AS (SELECT symbol, bar_ts, "close", rn,
              sum(bp) ${wf("ROWS BETWEEN 6 PRECEDING AND CURRENT ROW")} AS b7,
              sum(tr) ${wf("ROWS BETWEEN 6 PRECEDING AND CURRENT ROW")} AS t7,
              sum(bp) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} AS b14,
              sum(tr) ${wf("ROWS BETWEEN 13 PRECEDING AND CURRENT ROW")} AS t14,
              sum(bp) ${wf("ROWS BETWEEN 27 PRECEDING AND CURRENT ROW")} AS b28,
              sum(tr) ${wf("ROWS BETWEEN 27 PRECEDING AND CURRENT ROW")} AS t28
            FROM f),
      a AS (SELECT symbol, bar_ts, "close", rn,
              CASE WHEN t7 > 0 THEN b7 / t7 END AS a7,
              CASE WHEN t14 > 0 THEN b14 / t14 END AS a14,
              CASE WHEN t28 > 0 THEN b28 / t28 END AS a28
            FROM s)
      SELECT symbol, bar_ts, "close",
        CASE WHEN rn >= 29 THEN
          round(100.0::DOUBLE * (4.0::DOUBLE * a7 + 2.0::DOUBLE * a14 + a28) / 7.0::DOUBLE + 5e-9, 4)
        END AS uo
      FROM a ORDER BY symbol, bar_ts""",

    // EMA20 midline = the exact recursion (list fold seeds on the first
    // element, matching the per-symbol Ema.fold's e_1 = x_1)
    "q_keltner" -> s"""
      WITH $barsCte, $rnCte,
      tp AS (SELECT symbol, bar_ts, "close", high, low, rn,
               (high + low + "close") / 3::DOUBLE AS tp FROM b),
      -- trailing 1000-row truncation (SURVEY §5 EMA-oracle rule):
      -- (19/21)^999 ~ 1e-44, invisible at 4dp; bounds DuckDB's per-row
      -- list to 1000 cells (the unbounded form OOM'd at 127 GB at sf1.0)
      w1 AS (SELECT symbol, bar_ts, "close", high, low, rn,
               list(tp) ${wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")} AS lst FROM tp),
      e AS (SELECT symbol, bar_ts, "close", high, low, rn,
              list_reduce(lst, (acc, x) -> x * (2::DOUBLE / 21::DOUBLE) + acc * (19::DOUBLE / 21::DOUBLE)) AS mid,
              lag("close", 1) ${wf("")} AS pc
            FROM w1),
      tr AS (SELECT symbol, bar_ts, "close", rn, mid,
               CASE WHEN pc IS NULL THEN NULL
                    ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr
             FROM e),
      a AS (SELECT symbol, bar_ts, "close", rn, mid,
              CASE WHEN rn >= 11 THEN avg(tr) ${wf("ROWS BETWEEN 9 PRECEDING AND CURRENT ROW")} END AS atr10
            FROM tr)
      SELECT symbol, bar_ts, "close",
        round(mid + 5e-9, 4) AS kc_mid,
        CASE WHEN rn >= 11 THEN round(mid + 2.0::DOUBLE * atr10 + 5e-9, 4) END AS kc_upper,
        CASE WHEN rn >= 11 THEN round(mid - 2.0::DOUBLE * atr10 + 5e-9, 4) END AS kc_lower
      FROM a ORDER BY symbol, bar_ts""",

    // ha_open recursion = EMA(α=0.5) over the LAGGED ha_close series,
    // seeded (o_1+c_1)/2 — the same fold device as q_macd
    "q_heikin_ashi" -> s"""
      WITH $barsCte, $rnCte,
      h1 AS (SELECT symbol, bar_ts, "open", high, low, "close", rn,
               ("open" + high + low + "close") / 4::DOUBLE AS hc FROM b),
      h2 AS (SELECT symbol, bar_ts, high, low, hc,
               CASE WHEN rn = 1 THEN ("open" + "close") / 2::DOUBLE
                    ELSE lag(hc, 1) ${wf("")} END AS x
             FROM h1),
      h3 AS (SELECT symbol, bar_ts, high, low, hc,
               list(x) ${wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")} AS lst FROM h2),
      h4 AS (SELECT symbol, bar_ts, high, low, hc,
               list_reduce(lst, (acc, x) -> x * 0.5::DOUBLE + acc * 0.5::DOUBLE) AS ha_open FROM h3)
      SELECT symbol, bar_ts,
        round(ha_open + 5e-9, 4) AS ha_open,
        round(greatest(high, ha_open, hc) + 5e-9, 4) AS ha_high,
        round(least(low, ha_open, hc) + 5e-9, 4) AS ha_low,
        round(hc + 5e-9, 4) AS ha_close
      FROM h4 ORDER BY symbol, bar_ts""",

    // exact integer cents × µs — the one int→double conversion before
    // the edge division is IEEE-exact-rounded identically in both engines
    "q_twap" -> s"""
      WITH t AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day, ts, event_id,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS pc
        FROM events),
      d AS (
        SELECT symbol, day, pc,
          epoch_us(lead(ts, 1) OVER (PARTITION BY symbol, day ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
        FROM t)
      SELECT symbol, day,
        count(*) AS n_ticks,
        CAST(sum(dur_us) AS BIGINT) AS dur_total,
        CASE WHEN sum(dur_us) > 0 THEN
          round(sum(pc * dur_us)::DOUBLE / sum(dur_us)::DOUBLE / 100::DOUBLE + 5e-9, 4)
        END AS twap
      FROM d GROUP BY symbol, day ORDER BY symbol, day""",

    "q_scd2" -> s"""
      WITH c AS (
        SELECT user_id, ts, event_id, event_type,
          lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
      ch AS (SELECT user_id, ts, event_id, event_type FROM c
             WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        event_type,
        ts AS valid_from,
        lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM ch ORDER BY user_id, version""",

    // sliding exact COUNT DISTINCT: the Spark side fans distinct
    // (user, day) rows out to their ≤7 report days; the oracle states
    // the same set directly as a range predicate
    "q_active_users" -> s"""
      WITH au AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      days AS (SELECT DISTINCT day FROM au)
      SELECT d.day,
        (SELECT count(DISTINCT a.user_id) FROM au a WHERE a.day = d.day) AS dau,
        (SELECT count(DISTINCT a.user_id) FROM au a
          WHERE a.day BETWEEN d.day - 6 AND d.day) AS wau7
      FROM days d ORDER BY d.day""",

    // the oracle RECOMPUTES from raw rows what the Spark side assembles
    // by merging base/delta partial aggregates — the hash match is the
    // proof that merge(partial, partial) ≡ recompute(full)
    "q_incremental_merge" -> s"""
      SELECT event_type, CAST(ts AS DATE) AS day,
        count(*) AS n_rows,
        sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total,
        min(value) AS vmin, max(value) AS vmax,
        round(sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*)::DOUBLE + 5e-9, 4) AS vavg
      FROM events GROUP BY 1, 2 ORDER BY event_type, day""",

    // incremental DISTINCT via HLL partials: sketch internals are
    // engine-specific, so the oracle computes the exact anchors (full/
    // base/delta distinct via the same data-derived cutoff) and expects
    // the accuracy verdicts literally TRUE (the q_profile_approx device)
    "q_incremental_distinct" -> """
      WITH mx AS (SELECT max(CAST(ts AS DATE)) - 7 AS cut FROM events),
      t AS (SELECT event_type, user_id, CAST(ts AS DATE) AS day, cut
            FROM events, mx)
      SELECT event_type,
        count(DISTINCT user_id)::BIGINT AS n_exact,
        count(DISTINCT CASE WHEN day < cut THEN user_id END)::BIGINT AS n_base_exact,
        count(DISTINCT CASE WHEN day >= cut THEN user_id END)::BIGINT AS n_delta_exact,
        TRUE AS merged_within_3rsd,
        TRUE AS recomputed_within_3rsd
      FROM t GROUP BY event_type ORDER BY event_type""",

    // CDC changelog apply: last writer wins per key in (ts, event_id)
    // order, 'error' = DELETE tombstone (key absent when last); the
    // oracle states it as rank-1-latest + tombstone filter
    "q_cdc_apply" -> """
      WITH c AS (SELECT user_id, count(*)::BIGINT AS n_ops,
          sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_deletes
        FROM events GROUP BY user_id),
      l AS (SELECT user_id, event_type, value, ts FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) = 1)
      SELECT l.user_id, l.value, l.ts AS updated_at, c.n_ops, c.n_deletes
      FROM l JOIN c ON c.user_id = l.user_id
      WHERE l.event_type <> 'error'
      ORDER BY l.user_id""",

    // incremental TOP-K: selecting the k best rows is exactly mergeable
    // (monotone — a union's top-k row is in its own side's top-k), so
    // the Spark side merges base/delta row_number partials while the
    // oracle recomputes the top-k from raw rows in one window; the hash
    // match is the merge ≡ recompute proof, exact (no contract needed)
    "q_incremental_topk" -> """
      WITH r AS (SELECT event_type, event_id, value,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value DESC, event_id) AS rk
        FROM events WHERE value IS NOT NULL)
      SELECT event_type, event_id, value, rk::BIGINT AS rk
      FROM r WHERE rk <= 10 ORDER BY event_type, rk""",

    // daily per-user dimension snapshot: collapse to (user, day) first,
    // dense day grid, forward-fill — the oracle states the same set via
    // rank-1 latest-event rows and IGNORE NULLS last_value
    // SCD2 snapshot diff: DuckDB's arg_max has no struct ordering, so
    // each as-of state is the family's QUALIFY row_number argmax
    "q_snapshot_diff" -> """
      WITH a AS (SELECT user_id, event_type AS state_a FROM events
            WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
            QUALIFY row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) = 1),
      b AS (SELECT user_id, event_type AS state_b FROM events
            WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
            QUALIFY row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) = 1),
      u AS (SELECT DISTINCT user_id FROM events)
      SELECT u.user_id, a.state_a, b.state_b,
        CASE WHEN a.state_a IS NULL AND b.state_b IS NULL THEN 'none'
             WHEN a.state_a IS NULL THEN 'added'
             WHEN a.state_a = b.state_b THEN 'same'
             ELSE 'changed' END AS change
      FROM u LEFT JOIN a USING (user_id) LEFT JOIN b USING (user_id)
      ORDER BY u.user_id""",

    "q_dim_snapshot" -> """
      WITH pd AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
          ORDER BY ts DESC, event_id DESC) = 1),
      b AS (SELECT user_id, min(day) AS d0 FROM pd GROUP BY 1),
      mx AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
      grid AS (SELECT user_id,
                 unnest(generate_series(d0::TIMESTAMP, dmax::TIMESTAMP,
                   INTERVAL 1 DAY))::DATE AS snap_date
               FROM b, mx)
      SELECT g.user_id, g.snap_date,
        last_value(pd.event_type IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.snap_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state
      FROM grid g LEFT JOIN pd ON pd.user_id = g.user_id AND pd.day = g.snap_date
      ORDER BY g.user_id, g.snap_date""",

    // embedding-cluster × metadata rollup: the q_ann_ivf assignment CTE
    // joined to documents on the shared id space
    "q_cluster_sources" -> {
      s"""
      WITH $vecCtes,${ivfCentCtes("cents")},
      a AS (SELECT nv.vec_id, c.cent_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(nv.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                (p, s) -> p + s) AS d2
            FROM nv, cents c),
      cell AS (SELECT vec_id, cent_id AS cell FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1)
      SELECT cell.cell, d.source, count(*)::BIGINT AS n_docs,
        sum(d.n_chars)::BIGINT AS total_chars,
        round(sum(d.n_chars)::DOUBLE / count(*)::DOUBLE + 5e-9, 4) AS avg_chars,
        count(DISTINCT d.lang)::BIGINT AS n_langs
      FROM cell JOIN documents d ON cell.vec_id = d.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // ADX(14): Wilder rma(α=1/14) = ewm(adjust=False) seeded at the
    // first value — the same list_reduce fold device as q_macd, run over
    // TR/+DM/−DM and then once more over DX. β is written literally as
    // (1 - 1/14) to match the Spark side's `1.0 - alpha` double.
    "q_adx" -> {
      val A = "(1::DOUBLE / 14::DOUBLE)"
      val B = "(1::DOUBLE - 1::DOUBLE / 14::DOUBLE)"
      // truncated fold window (§5): (13/14)^999 ≈ 4e-33, 4dp-invisible
      val run = wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")
      s"""
      WITH $barsCte,
      l AS (SELECT symbol, bar_ts, high, low,
              lag("close", 1) ${wf("")} AS p_close,
              lag(high, 1) ${wf("")} AS p_high,
              lag(low, 1) ${wf("")} AS p_low
            FROM bars),
      d AS (SELECT symbol, bar_ts,
              CASE WHEN p_close IS NULL THEN high - low
                   ELSE greatest(high - low, abs(high - p_close), abs(low - p_close)) END AS tr,
              CASE WHEN p_high IS NULL THEN 0.0::DOUBLE
                   WHEN (high - p_high) > (p_low - low) AND (high - p_high) > 0 THEN high - p_high
                   ELSE 0.0::DOUBLE END AS pdm,
              CASE WHEN p_low IS NULL THEN 0.0::DOUBLE
                   WHEN (p_low - low) > (high - p_high) AND (p_low - low) > 0 THEN p_low - low
                   ELSE 0.0::DOUBLE END AS mdm
            FROM l),
      -- one window-list column per CTE: DuckDB materializes every row's
      -- running list inside a window operator, so k list columns in one
      -- CTE cost k× the peak memory — at 10× scale three at once OOMed
      s1 AS (SELECT symbol, bar_ts,
               list_reduce(list(tr) $run, (acc, x) -> x * $A + acc * $B) AS str
             FROM d),
      s2 AS (SELECT symbol, bar_ts,
               list_reduce(list(pdm) $run, (acc, x) -> x * $A + acc * $B) AS spdm
             FROM d),
      s3 AS (SELECT symbol, bar_ts,
               list_reduce(list(mdm) $run, (acc, x) -> x * $A + acc * $B) AS smdm
             FROM d),
      sm AS (SELECT s1.symbol, s1.bar_ts, s1.str, s2.spdm, s3.smdm
             FROM s1
             JOIN s2 ON s1.symbol = s2.symbol AND s1.bar_ts = s2.bar_ts
             JOIN s3 ON s1.symbol = s3.symbol AND s1.bar_ts = s3.bar_ts),
      di AS (SELECT symbol, bar_ts,
               CASE WHEN str > 0 THEN 100.0::DOUBLE * spdm / str ELSE 0.0::DOUBLE END AS di_plus,
               CASE WHEN str > 0 THEN 100.0::DOUBLE * smdm / str ELSE 0.0::DOUBLE END AS di_minus
             FROM sm),
      x AS (SELECT symbol, bar_ts, di_plus, di_minus,
              CASE WHEN di_plus + di_minus > 0
                THEN 100.0::DOUBLE * abs(di_plus - di_minus) / (di_plus + di_minus)
                ELSE 0.0::DOUBLE END AS dx
            FROM di),
      a AS (SELECT symbol, bar_ts, di_plus, di_minus, dx,
              list_reduce(list(dx) $run, (acc, x) -> x * $A + acc * $B) AS adx
            FROM x)
      SELECT symbol, bar_ts,
        round(di_plus + 5e-9, 4) + 0.0 AS di_plus,
        round(di_minus + 5e-9, 4) + 0.0 AS di_minus,
        round(dx + 5e-9, 4) + 0.0 AS dx,
        round(adx + 5e-9, 4) + 0.0 AS adx
      FROM a ORDER BY symbol, bar_ts"""
    },

    // TRIX(15): three chained EMA folds, then a 1-bar ROC
    "q_trix" -> {
      val A = "(2::DOUBLE / 16::DOUBLE)"
      val B = "(1::DOUBLE - 2::DOUBLE / 16::DOUBLE)"
      // each of the three chained folds truncates independently (§5):
      // 0.875^999 ≈ 1e-58 absolute on a ~100-magnitude series
      val run = wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")
      s"""
      WITH $barsCte,
      w1 AS (SELECT symbol, bar_ts, list("close") $run AS l1 FROM bars),
      e1 AS (SELECT symbol, bar_ts, list_reduce(l1, (acc, x) -> x * $A + acc * $B) AS v FROM w1),
      w2 AS (SELECT symbol, bar_ts, list(v) $run AS l2 FROM e1),
      e2 AS (SELECT symbol, bar_ts, list_reduce(l2, (acc, x) -> x * $A + acc * $B) AS v FROM w2),
      w3 AS (SELECT symbol, bar_ts, list(v) $run AS l3 FROM e2),
      e3 AS (SELECT symbol, bar_ts, list_reduce(l3, (acc, x) -> x * $A + acc * $B) AS v FROM w3),
      r AS (SELECT symbol, bar_ts, v, lag(v, 1) ${wf("")} AS pv FROM e3)
      SELECT symbol, bar_ts, round(v + 5e-9, 4) + 0.0 AS ema3,
        round(100.0::DOUBLE * (v - pv) / pv + 5e-9, 4) + 0.0 AS trix
      FROM r ORDER BY symbol, bar_ts"""
    },

    // Chaikin A/D line (6dp-DECIMAL running sum — order-independent in
    // both engines) + oscillator (EMA3 − EMA10 folds over the line)
    "q_ad_line" -> {
      val run = wf("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
      // the RUNNING SUM must stay unbounded (sums do not decay); only
      // the EMA fold lists truncate (§5): slowest decay 9/11 → ~1e-87
      val foldw = wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")
      s"""
      WITH $barsCte,
      f AS (SELECT symbol, bar_ts,
              round((CASE WHEN high = low THEN 0.0::DOUBLE
                     ELSE (("close" - low) - (high - "close")) / (high - low) END)
                * volume::DOUBLE + 5e-9, 6)::DECIMAL(28,6) AS mfv6
            FROM bars),
      a AS (SELECT symbol, bar_ts, sum(mfv6) $run AS ad_exact FROM f),
      w1 AS (SELECT symbol, bar_ts, ad_exact, list(ad_exact::DOUBLE) $foldw AS lst FROM a),
      o AS (SELECT symbol, bar_ts, ad_exact,
              list_reduce(lst, (acc, x) ->
                x * (2::DOUBLE / 4::DOUBLE) + acc * (1::DOUBLE - 2::DOUBLE / 4::DOUBLE)) AS e3,
              list_reduce(lst, (acc, x) ->
                x * (2::DOUBLE / 11::DOUBLE) + acc * (1::DOUBLE - 2::DOUBLE / 11::DOUBLE)) AS e10
            FROM w1)
      SELECT symbol, bar_ts, round(ad_exact, 4)::DOUBLE AS ad,
        round(e3 - e10 + 5e-9, 4) + 0.0 AS chaikin_osc
      FROM o ORDER BY symbol, bar_ts"""
    },

    // Ichimoku: bounded-window midpoints + 26-bar shifts; nulls until
    // each window fills, like the SMA family
    "q_ichimoku" -> {
      def mid(n: Int) = {
        val fr = wf(s"ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW")
        s"CASE WHEN rn >= $n THEN (max(high) $fr + min(low) $fr) / (2::DOUBLE) END"
      }
      s"""
      WITH $barsCte, $rnCte,
      k AS (SELECT symbol, bar_ts, "close", rn,
              ${mid(9)} AS tenkan,
              ${mid(26)} AS kijun,
              ${mid(52)} AS sb_raw
            FROM b)
      SELECT symbol, bar_ts,
        round(tenkan + 5e-9, 4) AS tenkan,
        round(kijun + 5e-9, 4) AS kijun,
        round(lag((tenkan + kijun) / (2::DOUBLE), 26) ${wf("")} + 5e-9, 4) AS senkou_a,
        round(lag(sb_raw, 26) ${wf("")} + 5e-9, 4) AS senkou_b,
        round(lead("close", 26) ${wf("")} + 5e-9, 4) AS chikou
      FROM k ORDER BY symbol, bar_ts"""
    },

    // integer fixed-point PageRank over the transition graph: floor
    // division + integer sums make the iterative fixpoint hash-exact
    // cross-engine (float PageRank never is — engine-dependent sum
    // order); three unrolled iterations
    "q_pagerank" -> """
      WITH w1 AS (SELECT user_id, event_type,
              lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events),
      edges AS (SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
                FROM w1 WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      wout AS (SELECT prev_type, sum(n)::BIGINT AS w FROM edges GROUP BY 1),
      e AS (SELECT edges.prev_type, next_type, n, w
            FROM edges JOIN wout USING (prev_type)),
      nodes AS (SELECT DISTINCT event_type AS node FROM events),
      r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes),
      c1 AS (SELECT next_type AS node, sum((r * n) // w)::BIGINT AS cin
             FROM e JOIN r0 ON r0.node = e.prev_type GROUP BY 1),
      r1 AS (SELECT nodes.node,
               (150000 + (85 * coalesce(cin, 0)) // 100)::BIGINT AS r
             FROM nodes LEFT JOIN c1 USING (node)),
      c2 AS (SELECT next_type AS node, sum((r * n) // w)::BIGINT AS cin
             FROM e JOIN r1 ON r1.node = e.prev_type GROUP BY 1),
      r2 AS (SELECT nodes.node,
               (150000 + (85 * coalesce(cin, 0)) // 100)::BIGINT AS r
             FROM nodes LEFT JOIN c2 USING (node)),
      c3 AS (SELECT next_type AS node, sum((r * n) // w)::BIGINT AS cin
             FROM e JOIN r2 ON r2.node = e.prev_type GROUP BY 1),
      r3 AS (SELECT nodes.node,
               (150000 + (85 * coalesce(cin, 0)) // 100)::BIGINT AS r
             FROM nodes LEFT JOIN c3 USING (node))
      SELECT node AS event_type, r AS rank_micro,
        round(r::DOUBLE / 1000000.0 + 5e-9, 4) AS pagerank
      FROM r3 ORDER BY event_type""",

    // Roll effective spread: exact integer cent deltas, exact HUGEINT
    // moment sums (≡ Spark DECIMAL(38,0)), one double covariance + sqrt
    // at the edge; cov >= 0 reports NULL spread + flag
    "q_roll_spread" -> s"""
      WITH $barsCte,
      l AS (SELECT symbol, bar_ts,
              CAST(floor("close" * 100 + 0.5) AS BIGINT) AS c
            FROM bars),
      d1 AS (SELECT symbol, bar_ts,
               c - lag(c) OVER (PARTITION BY symbol ORDER BY bar_ts) AS d
             FROM l),
      d2 AS (SELECT symbol, d,
               lag(d) OVER (PARTITION BY symbol ORDER BY bar_ts) AS dp
             FROM d1),
      p AS (SELECT symbol, d, dp FROM d2
            WHERE d IS NOT NULL AND dp IS NOT NULL),
      st AS (SELECT symbol, count(*)::BIGINT AS n,
               sum(d) AS sd, sum(dp) AS sdp, sum(d * dp) AS sddp
             FROM p GROUP BY 1),
      cv AS (SELECT symbol, n,
               (n::DOUBLE * sddp::DOUBLE - sd::DOUBLE * sdp::DOUBLE)
                 / (n::DOUBLE * (n::DOUBLE - 1.0::DOUBLE)) AS cov
             FROM st WHERE n >= 2)
      SELECT symbol, n,
        round(cov / 10000.0 + 5e-9, 4) + 0.0 AS autocov,
        CASE WHEN cov < 0
          THEN round(2.0::DOUBLE * sqrt(-cov) / 100.0 + 5e-9, 4) END AS roll_spread,
        (cov >= 0) AS no_bounce
      FROM cv ORDER BY symbol""",

    // winsorized stats over the bounded-domain cents histogram:
    // nearest-rank p05/p95 (all-integer ranks), clamped sums folded on
    // the histogram — one double division at the edge
    "q_winsorize" -> s"""
      WITH $barsCte,
      hist AS (SELECT symbol, CAST(floor("close" * 100 + 0.5) AS BIGINT) AS cent,
                 count(*) AS cnt
               FROM bars GROUP BY 1, 2),
      t AS (SELECT symbol, sum(cnt)::BIGINT AS n FROM hist GROUP BY 1),
      c AS (SELECT h.symbol, h.cent, h.cnt, t.n,
              sum(h.cnt) OVER (PARTITION BY h.symbol ORDER BY h.cent
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
            FROM hist h JOIN t ON h.symbol = t.symbol),
      q AS (SELECT symbol, n,
              min(CASE WHEN cum >= (n + 19) // 20 THEN cent END) AS lo,
              min(CASE WHEN cum >= n - n // 20 THEN cent END) AS hi
            FROM c GROUP BY 1, 2),
      s AS (SELECT h.symbol, q.n, q.lo, q.hi,
              sum(h.cnt * least(greatest(h.cent, q.lo), q.hi))::HUGEINT AS sum_cl,
              sum(CASE WHEN h.cent < q.lo THEN h.cnt ELSE 0 END)::BIGINT AS n_low,
              sum(CASE WHEN h.cent > q.hi THEN h.cnt ELSE 0 END)::BIGINT AS n_high
            FROM hist h JOIN q ON h.symbol = q.symbol
            GROUP BY 1, 2, 3, 4)
      SELECT symbol, n,
        lo::DOUBLE / 100.0 AS p05,
        hi::DOUBLE / 100.0 AS p95,
        n_low, n_high,
        round(sum_cl::DOUBLE / (n * 100.0) + 5e-9, 4) AS winsor_mean
      FROM s ORDER BY symbol""",

    // EWMA control chart: EMA(λ=0.2) vs steady-state μ ± 3σ√(λ/(2−λ))
    // bands from the q_zscore_anomaly exact-moment device; the fold
    // window is truncated to 1000 rows (0.8^999 ≈ 1e-97, invisible at
    // 4dp — the q_keltner/q_holt device) so the list cells stay O(rows)
    // at every scale factor; the out_of_control flag compares the
    // 4dp-rounded-with-nudge values on BOTH sides so a last-ulp cross-
    // engine difference at the band edge cannot flip it
    "q_ewma_chart" -> s"""
      WITH $barsCte,
      w1 AS (
        SELECT symbol, bar_ts, "close",
          list("close") ${wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")} AS lst
        FROM bars),
      e AS (
        SELECT symbol, bar_ts, "close",
          list_reduce(lst, (acc, x) -> x * 0.2::DOUBLE + acc * 0.8::DOUBLE) AS ewma
        FROM w1),
      st AS (SELECT symbol AS s_symbol, count(*) AS n,
               sum(CAST("close" AS DECIMAL(9,2))) AS sx,
               sum(CAST("close" AS DECIMAL(9,2)) * CAST("close" AS DECIMAL(9,2))) AS sx2
             FROM bars GROUP BY 1),
      j AS (SELECT e.symbol, e.bar_ts, e."close", e.ewma,
              sx::DOUBLE / n::DOUBLE AS mean,
              3.0::DOUBLE * sqrt((n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                / (n::DOUBLE * (n::DOUBLE - 1.0::DOUBLE)))
                * sqrt(0.2::DOUBLE / (2.0::DOUBLE - 0.2::DOUBLE)) AS width,
              (n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                / (n::DOUBLE * (n::DOUBLE - 1.0::DOUBLE)) AS v
            FROM e JOIN st ON e.symbol = st.s_symbol WHERE st.n >= 2)
      SELECT symbol, bar_ts, "close"::DOUBLE AS "close",
        round(ewma + 5e-9, 4) AS ewma,
        round(mean + 5e-9, 4) AS center,
        round(mean + width + 5e-9, 4) AS ucl,
        round(mean - width + 5e-9, 4) AS lcl,
        (round(ewma + 5e-9, 4) > round(mean + width + 5e-9, 4)
          OR round(ewma + 5e-9, 4) < round(mean - width + 5e-9, 4)) AS out_of_control
      FROM j WHERE v > 0 ORDER BY symbol, bar_ts""",

    // Holt level/trend smoothing: the coupled 2-state recursion folded
    // as a list_reduce whose accumulator AND elements are [l, b] pairs
    // (this DuckDB has no 3-arg init form — lifting each close to
    // [x, 0.0] makes the types uniform and the first element IS the
    // init state [x₀, 0]); the lambda writes the IDENTICAL float ops
    // as IndicatorsExt.holt's step (l' recomputed verbatim in b's line
    // — same expression, same double)
    "q_holt" -> s"""
      WITH $barsCte,
      -- trailing 1000-row truncation (SURVEY §5 EMA-oracle rule): Holt's
      -- transition has spectral radius sqrt(0.7) ~ 0.837, 0.837^999 ~
      -- 1e-77 — truncation invisible at 4dp; bounds the per-row list
      -- (the unbounded list-of-lists form OOM'd at 130 GB at sf1.0)
      w1 AS (
        SELECT symbol, bar_ts,
          list("close"::DOUBLE) ${wf("ROWS BETWEEN 999 PRECEDING AND CURRENT ROW")} AS lst
        FROM bars),
      h AS (
        SELECT symbol, bar_ts,
          list_reduce(
            list_prepend([lst[1], 0.0::DOUBLE],
                         list_transform(lst[2:], v -> [v, 0.0::DOUBLE])),
            (acc, e) -> [0.3::DOUBLE * e[1] + 0.7::DOUBLE * (acc[1] + acc[2]),
                         0.2::DOUBLE * (0.3::DOUBLE * e[1] + 0.7::DOUBLE * (acc[1] + acc[2]) - acc[1])
                           + 0.8::DOUBLE * acc[2]]) AS st
        FROM w1)
      SELECT symbol, bar_ts,
        round(st[1] + 5e-9, 4) + 0.0 AS level,
        round(st[2] + 5e-9, 4) + 0.0 AS trend,
        round(st[1] + st[2] + 5e-9, 4) + 0.0 AS forecast
      FROM h ORDER BY symbol, bar_ts""",

    // CUSUM via the prefix-sum closed form (S⁺ = P − min(0, runmin P);
    // S⁻ = max(0, runmax P) − P): deviations carried as the exact
    // integer n·cents − Σcents (HUGEINT here ≡ Spark DECIMAL(38,0)),
    // one double division at the edge; alarm = all-integer 20·S > Σc
    "q_cusum" -> s"""
      WITH $barsCte,
      st AS (SELECT symbol AS s_symbol, count(*) AS n,
               sum(CAST(floor("close" * 100 + 0.5) AS BIGINT)) AS sc
             FROM bars GROUP BY 1),
      d AS (SELECT b.symbol, b.bar_ts, b."close", st.n, st.sc,
              st.n::HUGEINT * CAST(floor(b."close" * 100 + 0.5) AS BIGINT)
                - st.sc AS dev
            FROM bars b JOIN st ON b.symbol = st.s_symbol),
      p AS (SELECT symbol, bar_ts, "close", n, sc,
              sum(dev) OVER wrun AS pref
            FROM d
            WINDOW wrun AS (PARTITION BY symbol ORDER BY bar_ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s AS (SELECT symbol, bar_ts, "close", n, sc, pref,
              min(pref) OVER wrun AS mn, max(pref) OVER wrun AS mx
            FROM p
            WINDOW wrun AS (PARTITION BY symbol ORDER BY bar_ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT symbol, bar_ts, "close",
        round(CAST(pref - least(0::HUGEINT, mn) AS DOUBLE) / (n * 100.0) + 5e-9, 4) AS cusum_pos,
        round(CAST(greatest(0::HUGEINT, mx) - pref AS DOUBLE) / (n * 100.0) + 5e-9, 4) AS cusum_neg,
        (20::HUGEINT * (pref - least(0::HUGEINT, mn)) > sc) AS alarm_pos,
        (20::HUGEINT * (greatest(0::HUGEINT, mx) - pref) > sc) AS alarm_neg
      FROM s ORDER BY symbol, bar_ts"""
  )

  val all: Map[String, String] = core ++ textOps ++ vectorOps ++ extOps
}
