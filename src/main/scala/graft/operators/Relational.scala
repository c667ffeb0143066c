package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Relational core: the BigQuery-SQL surface of the reference re-expressed
  * declaratively (ingest guards, dedup, time-range loads) plus the
  * general aggregate/join/window capabilities any engine user needs.
  */
object Relational {

  /** TPC-H Q1-style filtered group aggregate on lineitem.
    * Fully declarative: the shipdate filter reaches the parquet scan
    * (PushedFilters) and aggregation is map-side partial. */
  def q1(lineitem: DataFrame): DataFrame = {
    // Exact-decimal money math: double sums of 1e5+ rows drift across
    // engines by more than the 2dp rounding grid; DECIMAL(18,6) sums are
    // bit-reproducible everywhere (SURVEY.md §5).
    val qty = col("l_quantity").cast("decimal(18,6)")
    val price = col("l_extendedprice").cast("decimal(18,6)")
    val discF = (lit(1) - col("l_discount").cast("decimal(18,6)"))
    val taxF = (lit(1) + col("l_tax").cast("decimal(18,6)"))
    val discPrice = (price * discF).cast("decimal(18,6)")
    val n = count(lit(1))
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(qty), 2).cast("double").as("sum_qty"),
        round(sum(price), 2).cast("double").as("sum_base_price"),
        round(sum(discPrice), 2).cast("double").as("sum_disc_price"),
        round(sum((discPrice * taxF).cast("decimal(18,6)")), 2).cast("double").as("sum_charge"),
        r4(sum(qty).cast("double") / n).as("avg_qty"),
        r4(sum(price).cast("double") / n).as("avg_price"),
        r4(sum(col("l_discount").cast("decimal(18,6)")).cast("double") / n).as("avg_disc"),
        n.as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Shared orders⋈customer⋈nation⋈region join (dims broadcast; AQE may
    * also broadcast customer when it fits). */
  private def revenueJoin(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))

  /** Revenue per region/nation: multiway join with broadcast dimensions. */
  def joinAgg(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    revenueJoin(orders, customer, nation, region)
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").as("revenue"),
        r4(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("avg_order"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))

  /** Top-k orders per customer via window rank (deterministic tie-break
    * on orderkey). Spark plans the `rk <= k` filter as a map-side
    * partial `WindowGroupLimit`, so only k rows per customer per mapper
    * cross the shuffle. */
  def topkPerGroup(orders: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= k)
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Exact dedup keeping the first row per (symbol, timestamp) —
    * `ROW_NUMBER() OVER (PARTITION BY symbol, timestamp)` = 1 with a
    * deterministic event_id tie-break
    * (reference src/preprocessing/dedup_pipeline.py:33-52).
    * Shuffles only on the dedup key; at scale this is the standard
    * keep-first shuffle dedup with partial `min` pre-aggregation
    * available when no payload column is needed. */
  def dedupLatest(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("ts")).orderBy(col("event_id"))
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("event_type"), col("ts"))
  }

  /** Per-symbol MAX(timestamp) ingest watermark
    * (reference src/ingestion/stocks_pipeline.py:89-107). */
  def latestTs(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(max(col("ts")).as("latest_ts"), count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Fetch-freshness guard (reference src/ingestion/stocks_pipeline.py:109-121
    * `should_fetch_data`: skip the upstream fetch when the stored
    * watermark is younger than the staleness threshold). Per symbol:
    * the [[latestTs]] watermark, its age in whole minutes at `asOf`,
    * and the fetch decision (age ≥ `staleMinutes`; a symbol with no
    * stored rows never reaches the aggregate and is fetched by the
    * caller's anti-join). Metadata-scale: at 100 TB the guard reads the
    * partial-aggregated max, never shuffling raw events. */
  def fetchGuard(events: DataFrame, asOf: String = "2024-01-31 00:00:00",
      staleMinutes: Int = 30): DataFrame =
    events.groupBy(col("event_type").as("symbol"))
      .agg(max(col("ts")).as("latest_ts"))
      .withColumn("age_min",
        expr(s"(unix_micros(timestamp'$asOf') - unix_micros(latest_ts)) div 60000000"))
      .withColumn("should_fetch", col("age_min") >= staleMinutes)
      .orderBy(col("symbol"))

  /** Time-range scan + ordered projection (reference app/dashboard.py:32-48
    * `WHERE timestamp >= now − N days ORDER BY timestamp`). The predicate
    * is pushed to the parquet scan. */
  def timeFilter(events: DataFrame): DataFrame =
    events
      .filter(col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Validation/cleaning: JSON property extraction, type casts, null/range
    * filters (reference src/preprocessing/data_preprocessor.py:47-59 cleans
    * string-typed numerics; our props field plays the raw payload). */
  def validateClean(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"),
        // from_json with an explicit schema: one schema-driven parse per
        // row (get_json_object builds a fresh Jackson parser + path per
        // call — visibly hot in jstack at sf0.1)
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k long"))
          .getField("k").as("k"))
      .filter(col("value").isNotNull && col("value") >= 0 &&
        col("k").isNotNull && col("k") >= 0)
      .orderBy(col("event_id"))

  /** Region/nation revenue with ROLLUP subtotals and a grand total;
    * subtotal rows surface as 'ALL' so both engines order identically. */
  def rollupRevenue(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    revenueJoin(orders, customer, nation, region)
      .rollup(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping(col("r_name")).cast("long").as("g_region"),
        grouping(col("n_name")).cast("long").as("g_nation"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("revenue"), col("n_orders"), col("g_region"), col("g_nation"))
      .orderBy(col("r_name"), col("n_name"))

  /** Incremental-ingest guard: keep only rows not already present in the
    * existing table, by (symbol, ts) — a left-anti join, the declarative
    * form of the reference's per-record duplicate check before insert
    * (reference src/loader/bigquery_loader.py:118-130 `check_duplicate`,
    * src/ingestion/stocks_pipeline.py:146-155 new-point filter). At scale
    * this is one shuffle on the key with the existing side reduced to its
    * key columns. */
  def incrementalIngest(incoming: DataFrame, existing: DataFrame): DataFrame =
    incoming.join(
      existing.select(col("event_type"), col("ts")),
      Seq("event_type", "ts"), "left_anti")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Exact distinct-count per symbol (distinct-aggregate shuffle; the
    * sketch-based approx variant is spec-tested since approximate results
    * are engine-specific). */
  def countDistinct_(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Sketch-based approximate distinct/quantiles — the constant-memory
    * path when exact distinct state would not fit: HyperLogLog++ for
    * cardinality and the Greenwald-Khanna quantile sketch, both
    * mergeable (map-side partial → one small shuffle), which is what
    * makes them the 100 TB shape. Accuracy is spec-asserted against the
    * exact operators; not oracle-gated (sketch internals are
    * engine-specific by nature). */
  def statsApprox(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("median_value_approx"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Oracle-gated tolerance band for [[statsApprox]] (q_profile_approx).
    * Sketch INTERNALS are engine-specific — Spark's HLL++ and DuckDB's
    * HLL will not agree bit-for-bit, so the raw approx values can never
    * hash-match an oracle. What CAN be cross-engine-gated is the
    * accuracy CONTRACT: this query emits exact anchors (n_events, exact
    * distinct) plus boolean verdicts — HLL estimate within 3·rsd of the
    * exact distinct, approx median inside the exact p45..p55 band — and
    * the oracle computes the same exact anchors with the verdicts as
    * literal TRUE. A sketch drifting out of tolerance on either engine
    * breaks the hash match. The exact columns exist to measure the
    * sketch at test scale; the 100 TB production path is the approx
    * side alone (see [[statsApprox]]).
    *
    * The exact distinct count is its own aggregate, broadcast-joined
    * (null-safe) to the one plain aggregate of the other columns: beside
    * them it would trigger Spark's single-distinct rewrite, which pushes
    * every other aggregate down to (event_type, user_id) groups, each
    * holding its own 10,000-accuracy percentile_approx sketch. */
  def profileApprox(events: DataFrame, rsd: Double = 0.05): DataFrame = {
    val users = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    val stats = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd).as("_nu_approx"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("_med_approx"),
        expr("percentile(value, 0.45)").as("_p45"),
        expr("percentile(value, 0.55)").as("_p55"))
    stats.join(broadcast(users), stats("event_type") <=> users("event_type"))
      .select(stats("event_type"), col("n_events"), col("n_users_exact"),
        (abs(col("_nu_approx") - col("n_users_exact")) <=
          lit(3 * rsd) * col("n_users_exact")).as("users_within_3rsd"),
        (col("_med_approx") >= col("_p45") && col("_med_approx") <= col("_p55"))
          .as("median_within_band"))
      .orderBy(col("event_type"))
  }

  /** Events enriched with per-symbol aggregate stats via the
    * [[Skew.saltedJoin]] — the oracle-gated proof that salting is
    * result-transparent. `events` is maximally skewed on the join key
    * (5 symbols across the whole table), exactly the shape where a
    * plain shuffle join sends 1/5 of 100 TB to single reducers; the
    * salt spreads each symbol over 8 reducers while the tiny stats side
    * replicates 8×. The oracle is the PLAIN join — identical output is
    * the correctness claim. */
  def saltedSymbolJoin(events: DataFrame): DataFrame = {
    val stats = events.groupBy(col("event_type"))
      .agg(r4(sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("sym_avg"),
        count(lit(1)).as("sym_n"))
    Skew.saltedJoin(events, stats, "event_type", "event_id")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        col("sym_avg"), col("sym_n"),
        r4(col("value") - col("sym_avg")).as("dev"))
      .orderBy(col("event_id"))
  }

  /** Sequential-pattern funnel per user: first view, first click AFTER
    * that view, first purchase AFTER that click — the classic ordered
    * conversion funnel. Implemented as three stacked running-min windows
    * over ONE user_id exchange: each row carries the earliest view seen
    * so far, a click qualifies when strictly later than it, a purchase
    * when strictly later than the earliest qualifying click so far; the
    * per-user firsts then fall out of a same-key aggregate that reuses
    * the window's partitioning (no second exchange, only the output
    * sort). A self-join formulation would shuffle events three times;
    * this shape scans once and scales with the user-hash exchange. */
  def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val viewSoFar = min(when(col("event_type") === "view", col("ts"))).over(w)
    val withView = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), viewSoFar.as("first_view_sofar"))
    val clickQ = when(col("event_type") === "click" &&
      col("first_view_sofar").isNotNull && col("ts") > col("first_view_sofar"), col("ts"))
    val withClick = withView.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), col("first_view_sofar"),
      min(clickQ).over(w).as("first_click_sofar"))
    val purchaseQ = when(col("event_type") === "purchase" &&
      col("first_click_sofar").isNotNull && col("ts") > col("first_click_sofar"), col("ts"))
    withClick
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(clickQ).as("t_click"),
        min(purchaseQ).as("t_purchase"))
      .withColumn("stage",
        when(col("t_purchase").isNotNull, "purchase")
          .when(col("t_click").isNotNull, "click")
          .when(col("t_view").isNotNull, "view")
          .otherwise("none"))
      .orderBy(col("user_id"))
  }

  /** Gap-based sessionization (30-min inactivity gap) per user over the
    * event stream — the batch equivalent of the streaming stateful
    * session operator. Single shuffle on user_id. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMicros = gapMinutes * 60L * 1000000L
    val prev = lag(unix_micros(col("ts")), 1).over(w)
    val isNew = when(prev.isNull || unix_micros(col("ts")) - prev > gapMicros, 1)
      .otherwise(0)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), isNew.as("is_new"))
      .select(col("user_id"), col("ts"), col("value"),
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("session_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), r4(sum(col("value"))).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** TPC-H Q3-shape shipping priority: segment-filtered customers ⋈
    * open orders ⋈ not-yet-shipped lineitems, revenue per order, top 10.
    * All three filters reach their parquet scans (PushedFilters);
    * revenue sums in exact DECIMAL; the top-10 is a TakeOrdered over
    * the EXACT decimal revenue (no global sort shuffle, rounding only
    * at the output edge). Customer is small relative to orders — hint
    * it broadcast so only lineitem⋈orders shuffles on orderkey. */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, segment: String = "BUILDING",
      cutoff: String = "1998-06-01 00:00:00"): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    customer.filter(col("c_mktsegment") === segment)
      .join(orders.filter(col("o_orderdate") < cut),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_shipdate") > cut),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(rev).as("rev_exact"))
      .orderBy(col("rev_exact").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"),
        round(col("rev_exact"), 2).cast("double").as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
  }

  /** TPC-H Q5 shape — local supplier volume: revenue per nation where
    * the customer and the supplier share a nation (the co-location
    * predicate rides the supplier join), one region, one date window.
    * nation/region/supplier broadcast (all dictionary-sized next to
    * lineitem); orders' date filter reaches its scan, so the only big
    * shuffle is lineitem⋈orders on orderkey. */
  def localSupplierVolume(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
      region: DataFrame, regionName: String = "ASIA",
      from: String = "1996-01-01 00:00:00",
      until: String = "1998-01-01 00:00:00"): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    customer
      .join(orders.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q8 shape — national market share: one nation's suppliers'
    * revenue share per year inside one region's market for one part
    * type. Every dimension (part filtered to the type, supplier,
    * customer-side nation, region) BROADCASTS next to lineitem; the
    * orders date filter reaches its scan, so the only corpus-scale
    * shuffle is lineitem⋈orders on orderkey — the same skeleton as Q5,
    * with the share computed from two exact DECIMAL sums in one
    * aggregate (a conditional numerator, never a second pass). The
    * share itself is the lone double: one division of the two exact
    * sums, 4dp+nudge rounded. */
  def marketShare(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame, partType: String = "PROMO",
      regionName: String = "EUROPE", supplierNation: String = "NATION_2",
      from: String = "1996-01-01 00:00:00",
      until: String = "1999-01-01 00:00:00"): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    val sn = nation.select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    lineitem
      .join(broadcast(part.filter(col("p_type") === partType)),
        col("l_partkey") === col("p_partkey"))
      .join(orders.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === supplierNation, rev)
          .otherwise(lit(0).cast("decimal(18,6)"))).as("nation_rev"),
        sum(rev).as("total_rev"))
      .select(col("o_year"),
        round(col("nation_rev"), 2).cast("double").as("nation_revenue"),
        round(col("total_rev"), 2).cast("double").as("total_revenue"),
        r4(col("nation_rev").cast("double") / col("total_rev").cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q7 shape — volume shipping between two nations: revenue per
    * (supplier nation, customer nation, ship year) where the supplier
    * sits in one of the two nations and the customer in the other.
    * Supplier is SEMI-REDUCED to the two nations BEFORE touching
    * lineitem (a broadcast join that prunes the fact stream early);
    * the pair predicate then only has to drop the A→A / B→B
    * combinations after the customer side resolves. The two corpus
    * shuffles are lineitem⋈orders and ⋈customer on their keys; both
    * nation roles and the filtered supplier broadcast. Exact DECIMAL
    * revenue, year from l_shipdate. */
  def nationVolume(supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, customer: DataFrame, nation: DataFrame,
      nationA: String = "NATION_2", nationB: String = "NATION_8"): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    val sn = nation.select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    val cn = nation.select(col("n_nationkey").as("cn_key"),
      col("n_name").as("cust_nation"))
    val supp2 = supplier
      .join(broadcast(sn.filter(col("supp_nation").isin(nationA, nationB))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    lineitem
      .join(broadcast(supp2), col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn.filter(col("cust_nation").isin(nationA, nationB))),
        col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q18 shape — large-volume orders: orders whose line quantities
    * sum past a threshold, with their customers. The heavy side
    * collapses FIRST (map-side partial sum per orderkey, exact
    * DECIMAL), so only qualifying order ids join back; top-20 selected
    * on (o_totalprice DESC, o_orderkey) via TakeOrdered. */
  def largeOrderCustomers(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, minQty: Int = 250, k: Int = 20): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qty_exact"))
      .filter(col("qty_exact") > minQty)
    big.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        round(col("qty_exact"), 2).cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Approximate-quantile CONTRACT query — the production path for
    * percentiles at 100 TB (exact `percentile` sorts every group;
    * `percentile_approx` is a bounded-memory KLL/GK-style mergeable
    * sketch) gated the q_profile_approx way: the output carries EXACT
    * anchors (n, exact p50 — dyadic interpolation, bit-exact
    * cross-engine) plus a boolean VERDICT the oracle expects literally
    * TRUE — the approx median's exact rank interval [count(<x),
    * count(<=x)] must intersect the accuracy band [0.49n, 0.51n]
    * (percentile_approx(accuracy=100) guarantees ≤1/100 rank error),
    * checked by integer cross-multiplication so no float touches the
    * boundary. Two narrow shuffles: the per-group sketch+anchors, then
    * the rank recount against the broadcast approx values. */
  def quantilesApproxContract(lineitem: DataFrame): DataFrame = {
    val g = lineitem.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.5D)").as("p50_exact_raw"),
        expr("percentile_approx(l_quantity, 0.5D, 100)").as("p50_approx"))
    val ranks = lineitem
      .join(broadcast(g.select(col("l_returnflag"), col("p50_approx"))),
        Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("l_quantity") < col("p50_approx"), 1L).otherwise(0L)).as("rank_lo"),
        sum(when(col("l_quantity") <= col("p50_approx"), 1L).otherwise(0L)).as("rank_hi"))
    g.join(ranks, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"),
        r4(col("p50_exact_raw")).as("p50_exact"),
        (col("rank_lo") * 100 <= col("n") * 51 &&
          col("rank_hi") * 100 >= col("n") * 49).as("approx_in_band"))
      .orderBy(col("l_returnflag"))
  }

  /** Approximate-distinct CONTRACT — C37's twin for cardinality: at
    * 100 TB `count(DISTINCT key)` is a full key shuffle per group,
    * while HyperLogLog++ (`approx_count_distinct`) is one mergeable
    * ~KB sketch per group, combinable map-side like any sum. The
    * sketch is engine-specific (Spark's HLL++ and DuckDB's HLL give
    * different estimates), so the gated output carries EXACT anchors
    * (n, d_exact) plus a VERDICT the engine must prove from its own
    * sketch: the estimate sits within 3σ of the requested 5% rsd
    * (|est − exact|·100 ≤ exact·15, integer cross-multiplication — no
    * float touches the boundary). The oracle pins the anchors and
    * expects the verdict literally TRUE. One hash aggregate; the
    * exact-distinct recount is the correctness ceiling the production
    * query drops. */
  def distinctApproxContract(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("d_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("d_approx"))
      .select(col("event_type"), col("n"), col("d_exact"),
        (abs(col("d_approx") - col("d_exact")) * lit(100L) <=
          col("d_exact") * lit(15L)).as("approx_in_band"))
      .orderBy(col("event_type"))

  /** GROUPING SETS aggregate — the shape ROLLUP/CUBE can't express:
    * ((returnflag, linestatus), (returnflag), (linestatus)) with
    * GROUPING markers distinguishing the levels. Partial-aggregatable
    * like any hash aggregate; each set's output is dictionary-sized. */
  def groupingSetsQty(lineitem: DataFrame): DataFrame = {
    val qty = col("l_quantity").cast("decimal(18,6)")
    lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        count(lit(1)).as("n"),
        round(sum(qty), 2).cast("double").as("sum_qty"))
      // coalesce sentinel in the sort keys: within a grouping level a
      // DATA null would otherwise be indistinguishable from a subtotal
      // null and sort differently across engines (Spark NULLS FIRST,
      // DuckDB NULLS LAST). '~' sorts after every flag value.
      .orderBy(col("g_rf"), col("g_ls"),
        coalesce(col("l_returnflag"), lit("~")),
        coalesce(col("l_linestatus"), lit("~")))
  }

  /** 2-D skyline (Pareto frontier) of parts: minimize retail price,
    * maximize size. Physical algorithm: collapse to the max size per
    * distinct price (one partial-aggregatable shuffle), then a
    * SEGMENTED running-max sweep over the price-sorted distinct points
    * — a point survives iff its size beats every strictly-cheaper
    * point's — and a semi-join back to parts. The sweep is the
    * two-level carry device of [[ntileByRank]]: distinct
    * prices range-partition into ordered segments, each segment runs
    * its local exclusive prefix-max in parallel, and the carry-in (max
    * over all earlier SEGMENTS) comes from a broadcast
    * partitions-sized table — no window ever spans the whole price
    * domain in one partition, so the sweep survives a non-dictionary
    * price domain. The dominance definition itself (no other part
    * with price ≤ AND size ≥, strict in one) is spec-proven equal on
    * a naive cross-join; the oracle mirrors the two-step algorithm. */
  def skylineParts(part: DataFrame): DataFrame = {
    val nParts = part.sparkSession.sessionState.conf.numShufflePartitions
    // persisted for the same reason as ntileByRank's ranged frame: the
    // nondeterministic _pid blocks exchange reuse across its three
    // readers (local sweep, per-segment maxes, the maxes copy in the
    // carry self-join), and all readers must agree on partition ids
    val perPrice = Scope.persist(
      part.groupBy(col("p_retailprice").as("sky_price"))
        .agg(max(col("p_size")).as("sky_size"))
        .repartitionByRange(nParts, col("sky_price").asc)
        .withColumn("_pid", spark_partition_id().cast("long")))
    // carry-in per segment: max sky_size over all EARLIER segments — a
    // broadcast self-join of the partitions-sized per-segment maxes
    // (≤ parts² rows; no unpartitioned WindowExec), broadcast back.
    val segMax = perPrice.groupBy(col("_pid")).agg(max(col("sky_size")).as("_sm"))
    val carry = segMax
      .crossJoin(broadcast(
        segMax.select(col("_pid").as("_qid"), col("_sm").as("_qm"))))
      .groupBy(col("_pid"))
      // max(when) with no otherwise: NULL when no earlier segment
      .agg(max(when(col("_qid") < col("_pid"), col("_qm"))).as("_carry"))
    val wLocal = Window.partitionBy(col("_pid")).orderBy(col("sky_price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .join(broadcast(carry), Seq("_pid"))
      .withColumn("_local", max(col("sky_size")).over(wLocal))
      // greatest() skips NULLs (first row of a segment / first segment)
      .withColumn("best_cheaper", greatest(col("_carry"), col("_local")))
      .filter(col("best_cheaper").isNull || col("best_cheaper") < col("sky_size"))
      .select(col("sky_price"), col("sky_size"))
    part.join(broadcast(frontier),
        col("p_retailprice") === col("sky_price") &&
          col("p_size") === col("sky_size"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
        col("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** Last-touch attribution: each purchase attributed to the same
    * user's most recent click at-or-before it, voided when the gap
    * exceeds the window. Same single-shuffle tagged-union running-last
    * device as [[AsofJoin]] — never a per-pair range join — and the
    * window cap is a post-filter (the most recent click is the ONLY
    * candidate: if it is outside the window every earlier click is
    * too). Ties: a click at the purchase's exact timestamp counts;
    * among same-timestamp clicks the largest event_id wins. Gap is
    * exact integer microseconds. */
  def attribution(events: DataFrame, windowMin: Int = 30): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("is_click"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("value"))
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("is_click"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click").desc,
        coalesce(col("click_id"), col("purchase_id")))
      .rowsBetween(Window.unboundedPreceding, 0)
    val winUs = windowMin * 60L * 1000000L
    clicks.unionByName(buys)
      .withColumn("last_click_id",
        last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_us",
        last(when(col("is_click") === 1, unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .filter(col("is_click") === 0)
      .withColumn("gap_us", unix_micros(col("ts")) - col("last_click_us"))
      .select(col("user_id"), col("purchase_id"),
        col("ts").as("purchase_ts"),
        r4(col("value")).as("value"),
        when(col("gap_us") <= winUs, col("last_click_id"))
          .as("attributed_click_id"),
        when(col("gap_us") <= winUs, col("gap_us")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  /** Column-profiling report over the event stream: per column the
    * non-null/null/exact-distinct counts plus numeric min/max (unix
    * micros for the timestamp; NULL for free-text columns). One
    * aggregate pass; the exact multi-column distinct expands each row
    * once per column map-side (Spark's Expand), which is the honest
    * cost of an exact profile — a 100 TB profile would swap in
    * approx_count_distinct per column, one flag away. */
  def profileEvents(events: DataFrame): DataFrame = {
    val numeric: Map[String, Column] = Map(
      "event_id" -> col("event_id").cast("double"),
      "user_id" -> col("user_id").cast("double"),
      "value" -> col("value"),
      "ts" -> unix_micros(col("ts")).cast("double"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = cols.flatMap { c =>
      val mn = numeric.get(c).map(min).getOrElse(lit(null).cast("double"))
      val mx = numeric.get(c).map(max).getOrElse(lit(null).cast("double"))
      Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"),
        mn.as(s"mn_$c"), mx.as(s"mx_$c"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', nn_$c, n_total - nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    events
      .agg(count(lit(1)).as("n_total"), aggs: _*)
      .select(expr(s"stack(${cols.length}, $stackArgs) AS " +
        "(column_name, n_nonnull, n_null, n_distinct, min_val, max_val)"))
      .orderBy(col("column_name"))
  }

  /** Exact distributed `ntile(buckets) OVER (ORDER BY key, tieBreak)`
    * WITHOUT a single-partition window — the 100 TB shape for global
    * quantile scoring: a global order over users has no per-key bound
    * (unlike a symbol's bars). Device (two-level carry): range-partition
    * on the order key so partition ids are ordered ranges, rank locally
    * per partition, add the broadcast
    * cumulative row-count of earlier partitions (prefix offsets come
    * from a broadcast self-join of the partitions-sized counts table —
    * ≤ parts² rows, NO window of any kind, which is what the
    * zero-global-window PlanShapeSpec contract relies on), then map
    * the exact global rank to its bucket with ntile's
    * front-loaded ceil/floor rule. Bit-identical to the window form for
    * any total order — callers must pass a tie-breaking key. */
  private def ntileByRank(df: DataFrame, key: Column, tieBreak: Column,
      buckets: Int, out: String): DataFrame = {
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    // The ranged frame MUST be persisted: it is read three times (local
    // rank, per-partition counts, the counts copy inside the meta
    // self-join), and because spark_partition_id() is nondeterministic
    // those references can never collapse via exchange reuse — without
    // the cache each chained ntile pass would re-execute its
    // predecessors 3×, an exponential plan blowup. One shared
    // materialization also guarantees every reader sees the SAME
    // partition ids. (Released by the caller's Scope.)
    val ranged = Scope.persist(
      df.repartitionByRange(nParts, key.asc, tieBreak.asc)
        .withColumn("_pid", spark_partition_id().cast("long")))
    val wLocal = Window.partitionBy(col("_pid")).orderBy(key.asc, tieBreak.asc)
    val counts = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_pn"))
    // prefix offsets + grand total WITHOUT any window: a broadcast
    // self-join of the partitions-sized counts (≤ parts² ≈ 1k rows) —
    // the plan contains NO unpartitioned WindowExec at all.
    val meta = counts
      .crossJoin(broadcast(
        counts.select(col("_pid").as("_qid"), col("_pn").as("_qn"))))
      .groupBy(col("_pid"))
      .agg(sum(when(col("_qid") < col("_pid"), col("_qn")).otherwise(0L)).as("_off"),
        sum(col("_qn")).as("_n"))
    // ntile's exact bucket rule (all-integer `div` arithmetic): with
    // q = N div b and rem = N mod b, the first rem buckets hold q+1
    // rows. greatest(q,1) only guards the dead branch (when q = 0
    // every rank is ≤ thr).
    val bucket = expr(
      s"""CASE WHEN _rank <= (_n div $buckets + 1) * (_n % $buckets)
         |  THEN (_rank - 1) div (_n div $buckets + 1) + 1
         |  ELSE _n % $buckets
         |    + (_rank - 1 - (_n div $buckets + 1) * (_n % $buckets))
         |      div greatest(_n div $buckets, 1) + 1
         |END""".stripMargin)
    ranged
      .withColumn("_lrank", row_number().over(wLocal).cast("long"))
      .join(broadcast(meta), Seq("_pid"))
      .withColumn("_rank", col("_off") + col("_lrank"))
      .withColumn(out, bucket.cast("long"))
      .drop("_pid", "_lrank", "_off", "_n", "_rank")
  }

  /** RFM (recency/frequency/monetary) segmentation over purchases:
    * per-user stats then quartile scores with exact ntile(4) semantics
    * under a deterministic (metric, user_id) order — segment = "RFM"
    * digit string. Stats collapse map-side per user first; each score
    * runs through [[ntileByRank]] (range exchange + local rank +
    * broadcast offsets), so no global single-partition window touches
    * the users-sized aggregate — the plan that survives billions of
    * users. The stats subtree is persisted (lazily) once: three
    * range-partition passes (each with its own sampling job) would
    * otherwise re-aggregate the raw events four times. Monetary sums
    * in exact DECIMAL. */
  def rfmSegments(events: DataFrame): DataFrame = {
    // persisted (lazily): the first ntile pass reads stats twice (the
    // range sampler + the exchange itself)
    val stats = Scope.persist(
      events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        // coalesce: a user whose purchase values are all NULL must sort
        // as 0, not as NULL — Spark orders NULLS FIRST and DuckDB NULLS
        // LAST, so a NULL here would silently shift every ntile bucket
        coalesce(sum(col("value").cast("decimal(18,6)")),
          lit(0).cast("decimal(18,6)")).as("m_exact")))
    val scored = Seq(
      ("last_us", "r_score"), ("frequency", "f_score"), ("m_exact", "m_score"))
      .foldLeft(stats) { case (df, (metric, score)) =>
        ntileByRank(df, col(metric), col("user_id"), 4, score)
      }
    scored
      .select(col("user_id"), col("last_us"), col("frequency"),
        round(col("m_exact"), 2).cast("double").as("monetary"),
        col("r_score"), col("f_score"), col("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy(col("user_id"))
  }

  /** Event-type transition matrix: counts of consecutive (prev → next)
    * event types per user order (ts, event_id), plus the per-prev-type
    * transition fraction (exact integer ratio) — the Markov view of
    * the event stream. One user-hash exchange feeds the lag; the
    * dictionary²-sized counts aggregate map-side. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wp = Window.partitionBy(col("prev_type"))
    events
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(wp))
      .select(col("prev_type"), col("next_type"), col("n"),
        r4(col("n").cast("double") / col("n_from").cast("double")).as("frac"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** PageRank over the event-type transition graph — the centrality
    * view completing the graph family (components D6/D7, triangles
    * D14): which event types sit at the center of user flows. THREE
    * unrolled iterations of INTEGER fixed-point PageRank (rank in
    * micro-units, seed 10⁶; update `r' = 150000 + (85·Σ_u (r_u·n_uv
    * div W_u)) div 100` — floor division and integer sums are exact
    * and order-free in both engines, so an ITERATIVE fixpoint becomes
    * hash-checkable cross-engine, which float PageRank never is:
    * float contributions sum in engine-dependent order). The edge
    * list is dictionary²-sized (one lag window over the user
    * exchange, then map-side count collapse); each iteration is a
    * broadcast join + tiny aggregate — at 100 TB the edge build
    * dominates and the iterations stay metadata-scale. */
  def pagerankTransitions(events: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(wU).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wout = edges.groupBy(col("prev_type")).agg(sum(col("n")).as("w"))
    val e = edges.join(broadcast(wout), Seq("prev_type"))
    val nodes = events.select(col("event_type").as("node")).distinct()
    def iterate(r: DataFrame): DataFrame = {
      val contrib = e
        .join(broadcast(r.select(col("node").as("prev_type"), col("r"))),
          Seq("prev_type"))
        .select(col("next_type").as("node"),
          expr("(r * n) div w").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cin"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(cin, 0)) div 100")).as("r"))
    }
    val r3 = iterate(iterate(iterate(
      nodes.select(col("node"), lit(1000000L).as("r")))))
    r3.select(col("node").as("event_type"), col("r").as("rank_micro"),
        r4(col("r").cast("double") / lit(1000000.0))
          .as("pagerank"))
      .orderBy(col("event_type"))
  }

  /** Cohort retention matrix: users grouped by their first active day,
    * distinct-user counts per (cohort, day offset), and the retention
    * fraction — the standard product-analytics view over the event
    * stream. The per-(user, day) distinct collapses first (map-side
    * partial before one user-hash exchange), so each later aggregate
    * handles at most users × active-days narrow rows; the cohort-size
    * side is dates-sized and broadcasts. Retention is an exact integer
    * ratio. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohorts = days.groupBy(col("user_id")).agg(min(col("d")).as("cohort_date"))
    val sizes = cohorts.groupBy(col("cohort_date")).agg(count(lit(1)).as("cohort_size"))
    days.join(cohorts, Seq("user_id"))
      .select(col("cohort_date"), datediff(col("d"), col("cohort_date")).cast("long").as("day_offset"))
      .groupBy(col("cohort_date"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(sizes), Seq("cohort_date"))
      .select(col("cohort_date"), col("day_offset"), col("n_users"), col("cohort_size"),
        r4(col("n_users").cast("double") / col("cohort_size").cast("double")).as("retention_pct"))
      .orderBy(col("cohort_date"), col("day_offset"))
  }

  // ---- correlated-subquery decorrelation shapes (TPC-H Q17/Q11/Q14/Q15/Q10)

  /** TPC-H Q17 shape — small-quantity order revenue: per part of one
    * brand, the lineitems whose quantity falls below half that part's
    * average quantity. The classic correlated scalar subquery
    * (`l_quantity < 0.5 * (SELECT avg(qty) WHERE same part)`) is
    * DECORRELATED by hand the way Catalyst would: semi-reduce lineitem
    * to the brand's parts FIRST (the filtered part side is
    * dictionary-sized and broadcasts), compute each surviving part's
    * average once (map-side partial agg), and rejoin — the per-part
    * average is computed over exactly the rows that need it, never over
    * the full table. Quantities are integral in TPC-H, so the DECIMAL
    * average and the 0.5 threshold are order-independent and the
    * boundary comparison is engine-deterministic. */
  def smallQtyOrders(lineitem: DataFrame, part: DataFrame,
      brand: String = "Brand#23"): DataFrame = {
    val bparts = part.filter(col("p_brand") === brand).select(col("p_partkey"))
    val li = lineitem.join(broadcast(bparts), col("l_partkey") === col("p_partkey"))
    // The threshold `qty < 0.5 * (sum/cnt)` is cross-multiplied to
    // `2*qty*cnt < sum` — all-integer DECIMAL operands, so the boundary
    // never depends on either engine's decimal-division rounding rules.
    val avgq = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty_sum"),
        count(lit(1)).as("cnt"))
    li.join(broadcast(avgq), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity").cast("long") * lit(2L) * col("cnt") <
        col("qty_sum"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_small"),
        round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
          .cast("double").as("small_revenue"),
        r4(first(col("qty_sum")).cast("double") / first(col("cnt")).cast("double")).as("avg_qty"))
      .orderBy(col("l_partkey"))
  }

  /** TPC-H Q11 shape — revenue-share screen: parts whose discounted
    * revenue exceeds a fixed fraction of TOTAL revenue. The scalar
    * subquery (`HAVING sum(rev) > f * (SELECT sum(rev) FROM ...)`)
    * decorrelates into one global aggregate broadcast as a single-row
    * cross join against the per-part aggregate — both sides partial-
    * aggregate map-side, and the exact-DECIMAL threshold comparison is
    * engine-deterministic (no double drift at the cut). */
  def revenueShareParts(lineitem: DataFrame,
      shareBp: Int = 2): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    val perPart = lineitem.groupBy(col("l_partkey"))
      .agg(sum(rev).as("rev_exact"))
    val total = perPart.agg(sum(col("rev_exact")).as("tot_exact"))
    // shareBp is basis points ×10⁻¹: 2 → 0.02% of total revenue. The
    // threshold compares DOUBLE casts of the two exact decimals — both
    // engines round the identical exact values to the identical doubles,
    // so the cut is reproducible (decimal×decimal here would blow past
    // precision 38 and fall into engine-specific widening instead).
    perPart.crossJoin(broadcast(total))
      .filter(col("rev_exact").cast("double") / col("tot_exact").cast("double")
        > lit(shareBp.toDouble / 10000.0))
      .select(col("l_partkey"),
        round(col("rev_exact"), 2).cast("double").as("revenue"),
        r4((col("rev_exact").cast("double") / col("tot_exact").cast("double"))
          * 100).as("pct_of_total"))
      .orderBy(col("l_partkey"))
  }

  /** TPC-H Q14 shape — promo revenue share per ship month: a
    * conditional aggregate ratio over the lineitem⋈part join, reported
    * as a monthly time series instead of Q14's single month. Only
    * (partkey, type) survives projection pruning on the part side; both
    * sums are exact DECIMAL so the share divides two order-independent
    * operands. */
  def promoShare(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    lineitem
      .join(part.select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,6)")))
          .as("promo_exact"),
        sum(rev).as("total_exact"))
      .select(col("ship_month"),
        round(col("promo_exact"), 2).cast("double").as("promo_revenue"),
        round(col("total_exact"), 2).cast("double").as("total_revenue"),
        r4(col("promo_exact").cast("double") / col("total_exact").cast("double")
          * 100).as("promo_pct"))
      .orderBy(col("ship_month"))
  }

  /** TPC-H Q15 shape — top supplier(s): revenue per supplier over one
    * ship quarter, returning every supplier tied at the maximum. The
    * view + scalar-max subquery decorrelates into a per-supplier
    * aggregate, a single-row max broadcast back over it (exact DECIMAL
    * equality — ties are real rows, not an ORDER BY razor), and a
    * broadcast supplier-name join. */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
      from: String = "1996-01-01 00:00:00",
      until: String = "1996-04-01 00:00:00"): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    val perSupp = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("rev_exact"))
    val best = perSupp.agg(max(col("rev_exact")).as("max_exact"))
    perSupp.crossJoin(broadcast(best))
      .filter(col("rev_exact") === col("max_exact"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_exact"), 2).cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q4 shape — order-priority check: orders in one quarter with
    * at least ONE returned lineitem, counted per priority. The EXISTS
    * correlated subquery decorrelates to a LEFT SEMI join: lineitem is
    * pre-filtered and projected to bare orderkeys, the semi join
    * deduplicates matches by construction (no distinct needed), and the
    * priority rollup is dictionary-sized. */
  def priorityReturns(orders: DataFrame, lineitem: DataFrame,
      from: String = "1996-07-01 00:00:00",
      until: String = "1996-10-01 00:00:00"): DataFrame = {
    val o = orders.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
      col("o_orderdate") < lit(until).cast("timestamp"))
    val returned = lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q22 shape — lapsed high-balance customers: customers whose
    * balance exceeds the average positive balance AND who placed no
    * order after a cutoff, rolled up per nation. Two decorrelations in
    * one query: the scalar avg subquery becomes a one-row broadcast
    * (threshold compares DOUBLE casts of exact DECIMAL aggregates —
    * balances are 2dp, so sums are exact and the cut is reproducible),
    * and NOT EXISTS becomes a LEFT ANTI join against date-filtered bare
    * custkeys (the filter reaches the orders scan). */
  def idleCustomers(customer: DataFrame, orders: DataFrame,
      nation: DataFrame, since: String = "2000-01-01 00:00:00"): DataFrame = {
    val bal = col("c_acctbal").cast("decimal(18,6)")
    val avgBal = customer.filter(col("c_acctbal") > lit(0.0))
      .agg(sum(bal).as("bal_sum"), count(lit(1)).as("bal_n"))
    val rich = customer.crossJoin(broadcast(avgBal))
      .filter(bal.cast("double") >
        col("bal_sum").cast("double") / col("bal_n").cast("double"))
    val recent = orders
      .filter(col("o_orderdate") >= lit(since).cast("timestamp"))
      .select(col("o_custkey"))
    rich.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(bal), 2).cast("double").as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q10 shape — returned-item losses: top-k customers by revenue
    * of lineitems returned against one order quarter. Both date and
    * returnflag filters reach their scans; nation broadcasts; the top-k
    * is a TakeOrdered on (exact revenue DESC, custkey) — no global
    * sort. */
  def returnedLosses(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame,
      from: String = "1996-10-01 00:00:00",
      until: String = "1997-01-01 00:00:00", k: Int = 20): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(rev).as("rev_exact"), count(lit(1)).as("n_returns"))
      .orderBy(col("rev_exact").desc, col("c_custkey"))
      .limit(k)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("rev_exact"), 2).cast("double").as("returned_revenue"),
        col("n_returns"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
  }

  /** TPC-H Q13 shape — customer order-count distribution: LEFT OUTER
    * join customers to a predicate-filtered orders side (the predicate
    * lives on the join's right side only, so pre-filtering orders before
    * the outer join is exactly the ON-clause semantics of the textbook
    * form), count orders per customer INCLUDING the zero-order
    * customers the outer join preserves, then roll the per-customer
    * counts into a distribution. Physically: the outer join and the
    * first aggregate share the custkey hash partitioning (one exchange,
    * reused — Catalyst sees the groupBy key equals the join key), and
    * the second aggregate's domain is order-counts-per-customer, a few
    * hundred distinct values at any scale, so it collapses map-side to
    * a dictionary-sized result. The sort (custdist DESC, c_count DESC)
    * is deterministic: c_count is unique within the distribution. */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame,
      excludePriority: String = "4-NOT SPECIFIED"): DataFrame = {
    val perCust = customer.select(col("c_custkey"))
      .join(orders.filter(col("o_orderpriority") =!= excludePriority)
          .select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
        Seq("c_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q19 shape — disjunctive-predicate revenue: an OR of
    * per-branch (brand, size-band, quantity-band) conjunctions spanning
    * BOTH join sides. The optimizer story is the point: Catalyst
    * derives the implied single-side disjunctions by CNF conversion —
    * the brand/size union reaches the part scan and the quantity
    * envelope reaches the lineitem scan as PushedFilters — so at 100 TB
    * neither side reads rows no branch could accept; the residual OR
    * evaluates once post-join inside codegen. Part is the
    * dictionary-sized dimension and broadcasts; the join is
    * shuffle-free. Revenue follows the DECIMAL(18,6)-sum /
    * round-2 / double-cast house discipline. */
  def disjunctiveRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    val branch = (col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#7" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30))
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(rev), 2).cast("double").as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** Sole-late-supplier ranking — the TPC-H Q21 shape (the hardest
    * multi-EXISTS decorrelation in the benchmark), adapted to this
    * schema: "late" = shipped more than 60 days after the order date
    * (no commit/receipt dates here). For finalized ('F') orders, count
    * per supplier the orders where that supplier was late, ANOTHER
    * supplier also participated (EXISTS), and NO other supplier was
    * late (NOT EXISTS) — i.e. the one who held the order up.
    *
    * Spark-first DECORRELATION: both correlated subqueries collapse
    * into ONE per-order aggregate — n_supp = countDistinct(suppkey)
    * (EXISTS other ⟺ n_supp > 1) and n_late_supp = countDistinct(late
    * suppkey) (NOT EXISTS other late ⟺ the late set is exactly {s}).
    * One join + two hash aggregates + a broadcast supplier join — no
    * per-order subquery execution; the ORACLE keeps the textbook
    * EXISTS/NOT EXISTS form, so the hash match PROVES the rewrite.
    * Shuffles ride (orderkey) then (suppkey); supplier names broadcast.
    * Top-20 by (numwait DESC, s_name) — a TakeOrdered, no global
    * window. */
  def soleLateSupplier(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, lateDays: Int = 60, k: Int = 20): DataFrame = {
    val l1 = lineitem.join(
        orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
          .as("late"))
    val perOrder = l1.groupBy(col("l_orderkey").as("g_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    val sole = l1.filter(col("late"))
      .join(perOrder, col("l_orderkey") === col("g_orderkey"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    sole.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
      .limit(k)
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
  }
}
