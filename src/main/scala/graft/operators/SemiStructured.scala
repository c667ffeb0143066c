package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Semi-structured (JSON) column processing over the events table.
  *
  * The reference's entire ingest path is JSON-shaped: it parses the
  * Alpha Vantage "Time Series (5min)" payload into typed rows before
  * anything else runs (reference src/ingestion/stocks_pipeline.py:136-181)
  * and republishes records as JSON strings (:80). The engine therefore
  * needs first-class JSON extraction, not a preprocessing shell script —
  * here expressed over the `events.props` JSON column.
  *
  * Scale notes: `from_json` with an explicit schema parses each value
  * exactly once into a typed struct (no repeated `get_json_object` scans
  * of the same string), keeps the projection prunable (only `props` and
  * the selected columns are read from parquet), and the downstream
  * aggregates are ordinary map-side-partial hash aggregates. Nothing here
  * widens beyond (event_type × k) cardinality, so the shuffle payload at
  * 100 TB is keys, not documents.
  */
object SemiStructured {

  /** Typed extraction: props → k. One `from_json` per row; malformed or
    * missing keys become NULL (PERMISSIVE), same as the oracle's
    * json_extract. */
  private val PropsSchema =
    org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")

  /** Shared by the streaming feed pipeline (StreamPipelines) so the
    * props payload shape lives in exactly one place. */
  private[graft] def withK(events: DataFrame): DataFrame =
    events.withColumn("k", from_json(col("props"), PropsSchema).getField("k"))

  /** Per-event typed projection of the JSON payload. */
  def propsExtract(events: DataFrame): DataFrame =
    withK(events)
      .select(col("event_id"), col("event_type"), col("k"))
      .orderBy(col("event_id"))

  /** Per-type profile of the extracted key: cardinality, range, mean,
    * and the exact-decimal value sum (rounding parity per SURVEY.md §5). */
  def propsAgg(events: DataFrame): DataFrame =
    withK(events)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("k")).as("n_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        // sum in DECIMAL(38,0): DuckDB widens a BIGINT sum to HUGEINT, so
        // an ANSI long-sum overflow here would be an asymmetric failure
        // at corpus scale; the decimal→double cast is the same nearest
        // double as long→double for every exactly-representable sum.
        r4(sum(col("k").cast("decimal(38,0)")).cast("double") / count(col("k"))).as("avg_k"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"))
      .orderBy(col("event_type"))

  /** Decile histogram of k with the mean event value per bucket.
    * Bucketing must FLOOR (DuckDB `k // 10` floors; Spark `div`
    * truncates toward zero — they diverge on negative k, which the
    * feed's schema admits), so the bucket is computed as exact integer
    * floor division: no double round-trip, correct for all of BIGINT. */
  def propsHist(events: DataFrame): DataFrame =
    withK(events)
      .filter(col("k").isNotNull)
      .groupBy(expr("k div 10 - CASE WHEN k % 10 < 0 THEN 1 ELSE 0 END").as("k_bucket"))
      .agg(
        count(lit(1)).as("n"),
        r4(sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("avg_value"))
      .orderBy(col("k_bucket"))

  /** Top-3 most frequent k per event_type. Rank over the (type, k)
    * aggregate — group-limit pushdown (WindowGroupLimit) bounds the sort
    * to 3 rows per partition key, so the window never materializes the
    * full frequency table per task. Ties break deterministically on k. */
  def propsTopValues(events: DataFrame): DataFrame = {
    val freq = withK(events)
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("k").asc)
    // cast: DuckDB row_number is BIGINT, Spark's is INT (SURVEY.md §5)
    freq.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("event_type"), col("rnk"))
  }
}
