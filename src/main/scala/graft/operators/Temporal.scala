package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Time-dimension warehouse operators over the raw tick stream: TWAP,
  * SCD Type-2 interval builds, rolling active-user counts, and the
  * algebraic partial-aggregate merge behind incremental materialized
  * views. These extend the reference's ingestion/loader surface
  * (reference src/ingestion/stocks_pipeline.py:89-121 incremental fetch,
  * src/loader/bigquery_loader.py:47-276 dual-table loader) with the
  * patterns a 100 TB warehouse needs around it.
  *
  * Parity devices (SURVEY.md §5): TWAP's time-weighted sums run in exact
  * integer cents×micros (int64→double conversion is IEEE-exact and
  * identical in both engines; sums are carried as DECIMAL(38,0) so the
  * Spark side can never hit an ANSI long overflow); all distinct counts
  * are exact integers; the incremental merge keeps DECIMAL partials end
  * to end with one double division at the output edge.
  */
object Temporal {

  /** Daily time-weighted average price per symbol: each tick's price is
    * weighted by the microseconds until the next tick of the same
    * (symbol, day); the day's last tick carries no weight (no next tick
    * to span to). All weights/products are exact integers — price cents ×
    * duration µs ≤ 10^8 cents · 8.64×10^10 µs per GROUP, so the one
    * int→double conversion before the edge division is exact-rounded
    * identically in both engines.
    *
    * Scale: one (symbol, day) window for the lead + a partial-aggregatable
    * groupBy on the same keys — key cardinality symbols × days, no skew,
    * and the aggregation reuses the window's partitioning. */
  def twap(events: DataFrame): DataFrame = {
    val day = to_date(col("ts"))
    val wd = Window.partitionBy(col("symbol"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val cents = floor(col("value") * lit(100) + lit(0.5)).cast("long")
    events
      .select(col("event_type").as("symbol"), day.as("day"), col("ts"),
        col("event_id"), cents.as("pc"))
      .select(col("symbol"), col("day"), col("pc"),
        (unix_micros(lead(col("ts"), 1).over(wd)) - unix_micros(col("ts"))).as("dur_us"))
      .groupBy(col("symbol"), col("day"))
      .agg(
        count(lit(1)).as("n_ticks"),
        sum(col("dur_us")).as("dur_total"),
        sum((col("pc") * col("dur_us")).cast("decimal(38,0)")).as("pv"))
      .select(col("symbol"), col("day"), col("n_ticks"), col("dur_total"),
        when(col("dur_total") > 0,
          r4(col("pv").cast("double") / col("dur_total").cast("double") / lit(100.0))).as("twap"))
      .orderBy(col("symbol"), col("day"))
  }

  /** SCD Type-2 dimension build from the event stream: one validity
    * interval per consecutive run of the same `event_type` per user
    * (`valid_from` = first event of the run, `valid_to` = start of the
    * next run, open interval + `is_current` on the last). The classic
    * change-data-capture shape the reference's dual raw/processed loader
    * implies but never materializes.
    *
    * Scale: both windows partition by user_id (high cardinality — one
    * exchange, no skew); the change-point filter collapses the stream
    * before the second window's lead/rank. */
  def scd2(events: DataFrame): DataFrame = {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(wu)
    val changes = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (prev.isNull || prev =!= col("event_type")).as("is_chg"))
      .filter(col("is_chg"))
    val wc = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .select(col("user_id"),
        row_number().over(wc).cast("long").as("version"),
        col("event_type"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(wc).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("version"))
  }

  /** Rolling engagement: exact DAU and trailing-7-day distinct users per
    * observed day. The input collapses to distinct (user, day) rows
    * map-side FIRST (≪ raw events), then each row fans out to the ≤7
    * report days it supports — the bounded-explode formulation of a
    * sliding COUNT DISTINCT, which no engine's window frame can do
    * exactly without quadratic rescans.
    *
    * Scale: explode factor is exactly 7 on already-collapsed rows;
    * both distinct aggregations are partial-aggregatable Expand plans;
    * report days join back to observed days so silent calendar gaps
    * never fabricate rows. */
  def activeUsers(events: DataFrame): DataFrame = {
    val au = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = au.select(col("day")).distinct()
    val dau = au.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = au
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
      .join(days, "day")
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau7"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau7"))
      .orderBy(col("day"))
  }

  /** Partial-aggregate state per (event_type, day): the mergeable shape
    * (count, DECIMAL sum, min, max) an incremental materialized view
    * stores. */
  private def partials(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))

  /** Incremental materialized-view maintenance, proven by construction:
    * the stream splits at `max(day) − 7 days` into a BASE snapshot and a
    * DELTA batch, each reduced to mergeable partial aggregates
    * independently, then merged by a second-stage aggregation (counts and
    * sums add, min/max fold) — the oracle recomputes the same result from
    * the raw rows in one pass, so the hash match IS the proof that
    * merge(partial(base), partial(delta)) ≡ recompute(full). At 100 TB
    * the base partials are the stored MV; only the delta ever rescans.
    *
    * The split day derives from the data (no wall clock), broadcast as a
    * one-row join — deterministic at every scale factor. */
  def incrementalMerge(events: DataFrame): DataFrame = {
    val cutoff = events.agg(date_add(max(to_date(col("ts"))), -7).as("cut"))
    val tagged = events.crossJoin(broadcast(cutoff))
    val base = tagged.filter(to_date(col("ts")) < col("cut"))
    val delta = tagged.filter(to_date(col("ts")) >= col("cut"))
    partials(base).unionByName(partials(delta))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n_rows"),
        sum(col("s")).as("total"),
        min(col("mn")).as("vmin"),
        max(col("mx")).as("vmax"))
      .select(col("event_type"), col("day"), col("n_rows"),
        // output-edge decimal normalization: the merged sum is
        // DECIMAL(38,2) (Spark widens 18,2→28,2→38,2 across the two
        // aggregation stages) and wide decimals canonicalize
        // asymmetrically downstream (Decimal("150.00") vs float "150.0");
        // every numeric total in the tree leaves as double (the
        // q_large_orders device). The cast is exact for |total| < 2^53/100.
        col("total").cast("double").as("total"),
        col("vmin"), col("vmax"),
        r4(col("total").cast("double") / col("n_rows")).as("vavg"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Incremental DISTINCT maintenance — the sketch-typed sibling of
    * [[incrementalMerge]]: a COUNT DISTINCT is not algebraically
    * mergeable from exact partials (the same user appears in base and
    * delta), but its HLL sketch IS — union of sketches ≡ sketch of
    * union up to estimator mode. The stream splits at the same
    * data-derived cutoff into BASE and DELTA, each reduced to one HLL
    * partial per event_type (the stored-MV shape: at 100 TB the base
    * sketch is kilobytes and only the delta rescans), then merged by
    * `hll_union_agg`.
    *
    * Oracle contract (the q_profile_approx device — sketch internals
    * are engine-specific, so the gated surface is the accuracy
    * CONTRACT): exact anchors (full/base/delta distinct counts via the
    * same cutoff) plus boolean verdicts that BOTH the merged estimate
    * and a from-scratch recompute estimate land within 3·rsd of exact
    * (rsd = 1.04/√2¹² for Spark's default lgConfigK=12). The merged
    * and recomputed estimates may differ by a few ulps of the
    * estimator (union runs in HLL_8 mode), which is why the contract
    * bounds each against exact rather than demanding bit equality. */
  def incrementalDistinct(events: DataFrame): DataFrame = {
    val rsd3 = 3.0 * 1.04 / math.sqrt((1 << 12).toDouble)
    val cutoff = events.agg(date_add(max(to_date(col("ts"))), -7).as("cut"))
    val tagged = events.crossJoin(broadcast(cutoff))
    val base = tagged.filter(to_date(col("ts")) < col("cut"))
    val delta = tagged.filter(to_date(col("ts")) >= col("cut"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = partial(base).unionByName(partial(delta))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m_est"))
    val rec = tagged.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        countDistinct(when(to_date(col("ts")) < col("cut"), col("user_id")))
          .as("n_base_exact"),
        countDistinct(when(to_date(col("ts")) >= col("cut"), col("user_id")))
          .as("n_delta_exact"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("r_est"))
    merged.join(rec, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_base_exact"),
        col("n_delta_exact"),
        (abs(col("m_est") - col("n_exact")) <= lit(rsd3) * col("n_exact"))
          .as("merged_within_3rsd"),
        (abs(col("r_est") - col("n_exact")) <= lit(rsd3) * col("n_exact"))
          .as("recomputed_within_3rsd"))
      .orderBy(col("event_type"))
  }

  /** Incremental TOP-K maintenance — the third mergeable shape after
    * [[incrementalMerge]] (algebraic partials) and
    * [[incrementalDistinct]] (sketch partials): selecting the k best
    * ROWS is exactly mergeable because it is monotone — any row in the
    * top-k of a union is in the top-k of its own side, so
    * topk(merge(topk(base), topk(delta))) ≡ topk(full) with NO
    * approximation. Exercised here across a BASE/DELTA split at the
    * same data-derived cutoff as the siblings: each side reduces to ≤k
    * (value desc, event_id asc) rows per event_type by a
    * `row_number() <= k` filter, which Spark plans as a map-side
    * partial `WindowGroupLimit` (only k rows per group per mapper cross
    * the wire), the stored-MV-plus-delta merge is the same filter over
    * ≤2k rows per group, and the oracle recomputes the same top-k from
    * the raw rows in one window — the hash match IS the merge≡recompute
    * proof. At 100 TB the base partial is the stored MV (k rows per
    * group); only the delta ever rescans. */
  def incrementalTopk(events: DataFrame, k: Int = 10): DataFrame = {
    val cutoff = events.agg(date_add(max(to_date(col("ts"))), -7).as("cut"))
    val tagged = events.crossJoin(broadcast(cutoff))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    def topk(df: DataFrame): DataFrame =
      df.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
    // nulls are dropped explicitly here and in the oracle: a null value
    // sorts last under value DESC, so it would rank only in a group with
    // fewer than k non-null values
    def partial(df: DataFrame): DataFrame =
      topk(df.filter(col("value").isNotNull)
        .select(col("event_type"), col("value"), col("event_id")))
        .drop("rk")
    val base = partial(tagged.filter(to_date(col("ts")) < col("cut")))
    val delta = partial(tagged.filter(to_date(col("ts")) >= col("cut")))
    topk(base.unionByName(delta))
      .select(col("event_type"), col("event_id"), col("value"), col("rk"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** CDC changelog apply — the MERGE step a warehouse runs over a
    * change stream: the event stream is read as an ordered per-key
    * changelog ((ts, event_id) order; 'error' rows are DELETE
    * tombstones, everything else UPSERTs its value) and reduced to the
    * final table state: last writer wins per user, a key whose last op
    * is a tombstone is absent from the result. The per-key audit
    * counts (total ops, deletes seen) ride along.
    *
    * Scale shape: ONE partial-aggregatable groupBy — `max_by` over the
    * (ts, event_id) struct is a map-side-combining latest-row reduce,
    * so no per-key window sort ever materializes the changelog
    * ([[Relational.dedupLatest]] keeps the rank-1 window formulation;
    * this is the aggregate formulation that replaces it when only the
    * final state is needed — at 100 TB the difference is a full sort
    * vs a combiner). */
  def cdcApply(events: DataFrame): DataFrame =
    cdcPartial(events)
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.value").as("value"),
        col("last.ts").as("updated_at"), col("n_ops"), col("n_deletes"))
      .orderBy(col("user_id"))

  /** Per-user CDC partial of [[cdcApply]] and of each micro-batch of
    * `StreamPipelines.cdcMergeBatch`: op and delete counts, and `last`,
    * the (ts, event_id, event_type, value) row of greatest (ts, event_id),
    * so `greatest` over two partials' `last` keeps the same last writer. */
  def cdcPartial(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ops"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_deletes"),
        max_by(struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))

  /** SCD2 snapshot DIFF — "what changed between two as-of dates", the
    * audit a warehouse runs after a backfill: per user, the dimension
    * state (last event_type at-or-before the cutoff, (ts, event_id)
    * deterministic order) at t1 and at t2, classified added / changed /
    * same (a state never disappears — last() persists — so 'removed'
    * cannot occur and 'none' marks users whose first event postdates
    * both cutoffs). ONE aggregate pass: both as-of states are filtered
    * `max_by`s in the same map-side-combinable groupBy — never two
    * grid materializations diffed (the naive [[dimSnapshot]]-twice
    * plan pays O(users·days) rows for a users-sized answer). */
  def snapshotDiff(events: DataFrame,
      t1: String = "2024-01-10 00:00:00",
      t2: String = "2024-01-20 00:00:00"): DataFrame = {
    val d = events.groupBy(col("user_id"))
      .agg(
        expr(s"max_by(event_type, struct(ts, event_id)) FILTER (WHERE ts <= TIMESTAMP '$t1')")
          .as("state_a"),
        expr(s"max_by(event_type, struct(ts, event_id)) FILTER (WHERE ts <= TIMESTAMP '$t2')")
          .as("state_b"))
    d.select(col("user_id"), col("state_a"), col("state_b"),
        when(col("state_a").isNull && col("state_b").isNull, "none")
          .when(col("state_a").isNull, "added")
          .when(col("state_a") === col("state_b"), "same")
          .otherwise("changed").as("change"))
      .orderBy(col("user_id"))
  }

  /** Daily dimension snapshot — the warehouse "as-of end of day D" view
    * of per-user state: for every user and every day from the user's
    * first active day through the global max day, the latest event_type
    * at or before that day's end. The per-pair formulation (every
    * snapshot day probing every earlier event) is O(days × events);
    * this plan is O(events + users·days): the stream collapses to ONE
    * row per (user, day) first (map-side `max_by` on the deterministic
    * (ts, event_id) order), the dense day grid explodes from per-user
    * bounds (global max day is a one-row broadcast), and state rolls
    * forward with a running `last(ignoreNulls)` — per-user partitions
    * bounded by the calendar length, never by event volume. */
  def dimSnapshot(events: DataFrame): DataFrame = {
    val perDay = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max_by(col("event_type"),
        struct(col("ts"), col("event_id"))).as("last_type"))
    val maxDay = events.agg(max(to_date(col("ts"))).as("dmax"))
    val grid = perDay.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("dmax"))).as("snap_date"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("snap_date"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid.join(perDay,
        grid("user_id") === perDay("user_id") &&
          grid("snap_date") === perDay("day"), "left")
      .select(grid("user_id"), col("snap_date"), col("last_type"))
      .select(col("user_id"), col("snap_date"),
        last(col("last_type"), ignoreNulls = true).over(w).as("state"))
      .orderBy(col("user_id"), col("snap_date"))
  }
}
