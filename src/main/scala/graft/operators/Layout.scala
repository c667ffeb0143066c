package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * At 100 TB a table sorted on ONE column prunes files only for that
  * column's predicates; interleaving the bits of two (or more)
  * quantized sort keys gives every file a tight min/max envelope on
  * BOTH raw dimensions, so range predicates on either prune files.
  * The technique is public knowledge (Morton 1966; Delta Lake's
  * OPTIMIZE ZORDER BY); the reference's analytics layer
  * (`bigquery_loader.py`) leans on the warehouse's own clustering —
  * this operator is the explicit, engine-side form of that layout
  * decision.
  *
  * Production use: `parts.withColumn("zval", ...)` then
  * `repartitionByRange(col("zval")).sortWithinPartitions("zval")
  * .write` — the range partitioner's sampled bounds spread cells
  * evenly and every written file covers a compact Z-range. The gated
  * query instead PROVES the locality property the layout buys: per
  * Z-cell (top 8 of 16 interleaved bits), the span of each raw
  * dimension inside the cell is a bounded fraction of its global
  * range.
  *
  * Everything is exact integer arithmetic: prices (1dp in this data)
  * are scaled to tenths via round-to-long before quantization, both
  * quantizers are (v - min) * 255 floor-div (max - min), and the
  * interleave is 16 shift/mask/add terms — bit-identical in any
  * engine. The global min/max frame is ONE row, computed in one
  * partial-aggregatable pass and broadcast; the quantize + interleave
  * is a narrow projection (no shuffle); the per-cell rollup is a
  * 256-group hash aggregate. */
object Layout {

  /** `zval` column over quantized `sx`/`sy` (both 0..255): bit i of sx
    * lands at position 2i, bit i of sy at 2i+1. */
  private def interleave16: String =
    (0 until 8).flatMap { i =>
      Seq(s"shiftleft(shiftright(sx, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright(sy, $i) & 1, ${2 * i + 1})")
    }.mkString(" + ")

  /** Quantize parts onto the 256×256 grid shared by both layouts:
    * (sz, pr) raw integer dims plus (sx, sy) 0..255 quantized. */
  private def quantized(part: DataFrame): DataFrame = {
    val pr = expr("CAST(round(p_retailprice * 10) AS BIGINT)")
    val base = part.select(col("p_partkey"), col("p_size").cast("long").as("sz"),
      pr.as("pr"))
    val stats = base.agg(
      min(col("sz")).as("sz_min"), max(col("sz")).as("sz_max"),
      min(col("pr")).as("pr_min"), max(col("pr")).as("pr_max"))
    base.crossJoin(broadcast(stats))
      .select(col("sz"), col("pr"),
        expr("(sz - sz_min) * 255 DIV greatest(sz_max - sz_min, 1L)").as("sx"),
        expr("(pr - pr_min) * 255 DIV greatest(pr_max - pr_min, 1L)").as("sy"))
  }

  /** Per-cell locality rollup shared by both layouts: population plus
    * the raw-dimension envelope a file written from that cell would
    * advertise in its footer stats. */
  private def cellReport(df: DataFrame, ord: String): DataFrame =
    df.withColumn("cell", expr(s"$ord DIV 256"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_parts"),
        min(col(ord)).as(s"${ord(0)}_lo"), max(col(ord)).as(s"${ord(0)}_hi"),
        min(col("sz")).as("size_lo"), max(col("sz")).as("size_hi"),
        (min(col("pr")).cast("double") / 10.0).as("price_lo"),
        (max(col("pr")).cast("double") / 10.0).as("price_hi"))
      .orderBy(col("cell"))

  /** Quantized parts carrying their Z-value and Z-cell — the WRITE-side
    * frame the real-file layout loop clusters on: production routes it
    * through `Sinks.writeClustered(_, path, n, "zval")`; the
    * Round13OpsSpec closes the loop by writing one parquet file per
    * cell, reading the REAL footer min/max back, and proving the
    * per-file prune verdicts equal [[pruneSimulation]]'s. */
  def zorderFrame(part: DataFrame): DataFrame =
    quantized(part).withColumn("zval", expr(interleave16))
      .withColumn("cell", expr("zval DIV 256"))

  /** Hilbert twin of [[zorderFrame]] (hval/cell). */
  def hilbertFrame(part: DataFrame): DataFrame =
    withHilbert(quantized(part))
      .withColumn("cell", expr("hval DIV 256"))

  /** Per-Z-cell locality report over parts quantized on
    * (p_size, p_retailprice). ~256 output rows. */
  def zorderLayout(part: DataFrame): DataFrame =
    cellReport(quantized(part).withColumn("zval", expr(interleave16)), "zval")

  /** Hilbert-curve layout (Hilbert 1891; the clustering order modern
    * lakehouse OPTIMIZE prefers over Z-order): same 256×256 quantized
    * grid as [[zorderLayout]], but cells ordered along the order-8
    * Hilbert curve — consecutive curve positions are always GRID
    * NEIGHBORS, so consecutive written files share an envelope edge
    * instead of jumping across the Z seam (the Morton order's
    * worst-case discontinuity spans half the grid every 2^k cells).
    *
    * The (x, y) → d transform is the textbook 8-round descent: at
    * scale s each round reads one bit per dim (`rx`, `ry`), adds
    * s²·quadrant (quadrant = 3rx + ry·(1−2rx), the branch-free form
    * of (3·rx) XOR ry for bits), and applies the reflect+swap rotation
    * (255−v reflections keep every intermediate in [0,255] — no
    * negative operands, so integer DIV/% semantics agree across
    * engines). Eight chained projections of +/−/DIV/% on longs:
    * bit-identical in any engine, one narrow codegen'd pass, no
    * shuffle before the 256-group rollup ([[hilbertLayout]]).
    *
    * This helper appends `hval` (the order-8 Hilbert position of
    * (sx, sy)) via the 8 reflect+swap rounds; `hx`/`hy` scratch
    * columns are dropped. */
  private def withHilbert(q: DataFrame): DataFrame = {
    var df = q.withColumn("hx", col("sx")).withColumn("hy", col("sy"))
      .withColumn("hval", lit(0L))
    for (bit <- 7 to 0 by -1) {
      val s = 1L << bit
      df = df
        .withColumn("rx", expr(s"(hx DIV $s) % 2"))
        .withColumn("ry", expr(s"(hy DIV $s) % 2"))
        .withColumn("hval",
          expr(s"hval + $s * $s * (3 * rx + ry * (1 - 2 * rx))"))
        // ry=0: reflect (iff rx=1) then swap; ry=1: identity
        .withColumn("nx",
          expr("CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN 255 - hy ELSE hy END"))
        .withColumn("ny",
          expr("CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN 255 - hx ELSE hx END"))
        .withColumn("hx", col("nx")).withColumn("hy", col("ny"))
        .drop("rx", "ry", "nx", "ny")
    }
    df.drop("hx", "hy")
  }

  def hilbertLayout(part: DataFrame): DataFrame =
    cellReport(withHilbert(quantized(part)), "hval")

  /** Layout COMPARISON — the curve-choice justification as a gated
    * number: for each pair of CONSECUTIVE cells in each order, the
    * SEPARATION between their quantized envelopes (per dim
    * max(0, next_lo − hi − 1, lo − next_hi − 1) — 0 when the envelopes
    * overlap OR share an edge — summed over dims). Consecutive Hilbert
    * cells are always grid neighbors, so their separation is 0 on
    * dense data — while Morton order jumps the Z seam (cell
    * 0x3F → 0x40 crosses half the grid), so files written in Z order
    * have reader-visible discontinuities a Hilbert writer never emits.
    * The spec proves exactly that on the full 65536-point grid
    * (hilbert: 255/255 zero-gap pairs, max_gap 0; zorder: strictly
    * fewer, max_gap > 0).
    *
    * ONE corpus pass computes BOTH orders (the Morton interleave and
    * the 8 Hilbert rounds are narrow projections over the same
    * quantized row), a 2-way `stack` doubles only the narrow
    * (layout, cell, sx, sy) stream, and everything after the
    * 2×256-group rollup is window-over-512-rows tiny. The successor
    * window partitions by layout (never global). */
  def layoutCompare(part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val both = withHilbert(quantized(part))
      .withColumn("zval", expr(interleave16))
      .selectExpr(
        "stack(2, 'zorder', zval DIV 256, 'hilbert', hval DIV 256) AS (layout, cell)",
        "sx", "sy")
    val cells = both.groupBy(col("layout"), col("cell"))
      .agg(min(col("sx")).as("x_lo"), max(col("sx")).as("x_hi"),
        min(col("sy")).as("y_lo"), max(col("sy")).as("y_hi"))
    val w = Window.partitionBy(col("layout")).orderBy(col("cell"))
    val gaps = cells
      .withColumn("nx_lo", lead(col("x_lo"), 1).over(w))
      .withColumn("nx_hi", lead(col("x_hi"), 1).over(w))
      .withColumn("ny_lo", lead(col("y_lo"), 1).over(w))
      .withColumn("ny_hi", lead(col("y_hi"), 1).over(w))
      .filter(col("nx_lo").isNotNull)
      .withColumn("gap",
        greatest(lit(0L), col("nx_lo") - col("x_hi") - 1, col("x_lo") - col("nx_hi") - 1) +
          greatest(lit(0L), col("ny_lo") - col("y_hi") - 1, col("y_lo") - col("ny_hi") - 1))
    gaps.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("gap") === 0L, 1L).otherwise(0L)).as("zero_gap_pairs"),
        sum(col("gap")).as("sum_gap"), max(col("gap")).as("max_gap"))
      .select(col("layout"), col("n_pairs"), col("zero_gap_pairs"),
        expr("(zero_gap_pairs * 1000000L) DIV n_pairs").as("zero_gap_ppm"),
        col("sum_gap"), col("max_gap"))
      .orderBy(col("layout"))
  }

  /** File-prune simulation — the PAYOFF of the multi-dim layout, as a
    * gated number: treat each Z-cell as one written file advertising
    * its min/max footer envelope, and classify every file against a
    * range predicate on EACH raw dimension — `pruned` (envelope
    * disjoint from the predicate: the scan never opens the file),
    * `full` (envelope contained: no row-level filter needed), `scan`
    * (overlap: open and filter). The report carries exact cell/row
    * counts and ppm row shares per verdict — on a single-column sort
    * only that column's predicate prunes; on the Z-layout BOTH
    * dimensions show nonzero `pruned` shares, which is the claim C42
    * exists to buy.
    *
    * In production the envelopes come from the table's file-footer
    * metadata (one row per file, no corpus scan); here they derive
    * from the corpus so the query is self-contained and oracle-able.
    * Price bounds are integer TENTHS so every comparison is integer.
    * The 256-row cell frame feeds both dimension branches (exchange
    * reuse); verdict rollup output is ≤6 rows. */
  def pruneSimulation(part: DataFrame,
      sizeLo: Long = 10, sizeHi: Long = 20,
      priceTenthsLo: Long = 12000, priceTenthsHi: Long = 14000): DataFrame = {
    // persisted: the ≤256-row cell frame feeds both dimension
    // branches AND the total — without it each consumer re-derives the
    // lineage and the corpus is scanned 4× (released by the caller's Scope)
    val cells = Scope.persist(
      quantized(part).withColumn("zval", expr(interleave16))
        .withColumn("cell", expr("zval DIV 256"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("sz")).as("s_lo"), max(col("sz")).as("s_hi"),
          min(col("pr")).as("p_lo"), max(col("pr")).as("p_hi")))
    def verdict(lc: String, hc: String, lo: Long, hi: Long) =
      expr(s"""CASE WHEN $hc < $lo OR $lc > $hi THEN 'pruned'
                    WHEN $lc >= $lo AND $hc <= $hi THEN 'full'
                    ELSE 'scan' END""")
    val bySize = cells.select(lit("size").as("dim"),
      verdict("s_lo", "s_hi", sizeLo, sizeHi).as("verdict"), col("n_rows"))
    val byPrice = cells.select(lit("price").as("dim"),
      verdict("p_lo", "p_hi", priceTenthsLo, priceTenthsHi).as("verdict"),
      col("n_rows"))
    val tot = cells.agg(sum(col("n_rows")).as("tot_rows"))
    bySize.unionAll(byPrice)
      .groupBy(col("dim"), col("verdict"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n_rows")).as("n_rows"))
      .crossJoin(broadcast(tot))
      .select(col("dim"), col("verdict"), col("n_cells"), col("n_rows"),
        expr("(n_rows * 1000000L) DIV tot_rows").as("rows_ppm"))
      .orderBy(col("dim"), col("verdict"))
  }

  /** Small-files compaction plan — the write-side layout decision every
    * 100 TB table faces: per date partition (year·100+month), how many
    * files should the writer emit so each lands near `targetBytes`?
    * Too many small files poisons every downstream scan (one task +
    * one footer fetch per file); one giant file serializes the
    * partition's writers. The reference's loader delegates this to the
    * warehouse; this is the explicit engine-side form.
    *
    * Per-row bytes use a DECLARED deterministic estimator (32 bytes of
    * fixed-width columns + the two varchar lengths) so the plan is
    * exact integer arithmetic, not a sampled guess: `n_files` =
    * ceil(est_bytes / target) via (a+t−1) DIV t, `rows_per_file` =
    * ceil(n_rows / n_files), `share_ppm` the partition's exact share
    * of total bytes, and `merge_candidate` flags partitions under a
    * quarter target — the ones a compactor should coalesce with
    * neighbors instead of writing alone.
    *
    * Scale shape: ONE map-side-combinable aggregate over the fact scan
    * (months are dictionary-sized at any corpus), a one-row total
    * broadcast, no other shuffle. Production: feed `n_files` into
    * `repartitionByRange(sum(n_files), partCol, bucketCol)` before the
    * write. */
  def compactionPlan(orders: DataFrame,
      targetBytes: Long = 128L << 20): DataFrame = {
    // persisted: the dictionary-sized month frame feeds both the
    // plan and its one-row total — without it the total's sum-of-sums
    // collapses to a SECOND full scan of the fact table
    val per = Scope.persist(orders
      .select(expr("CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)").as("ym"),
        expr("32L + length(o_orderstatus) + length(o_orderpriority)").as("b"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_rows"), sum(col("b")).as("est_bytes")))
    val tot = per.agg(sum(col("est_bytes")).as("tot_bytes"))
    per.crossJoin(broadcast(tot))
      .withColumn("n_files",
        expr(s"(est_bytes + ${targetBytes - 1}L) DIV ${targetBytes}L"))
      .select(col("ym"), col("n_rows"), col("est_bytes"), col("n_files"),
        expr("(n_rows + n_files - 1) DIV n_files").as("rows_per_file"),
        expr("(est_bytes * 1000000L) DIV tot_bytes").as("share_ppm"),
        (col("est_bytes") * lit(4L) < lit(targetBytes)).as("merge_candidate"))
      .orderBy(col("ym"))
  }
}
