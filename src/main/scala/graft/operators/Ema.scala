package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact recursive EMA / MACD (reference app/dashboard.py:114-118).
  *
  * `ewm(span=n, adjust=False)`: e_0 = x_0; e_t = α·x_t + (1−α)·e_{t-1}
  * with α = 2/(n+1). EMA is the one inherently-sequential operator in the
  * suite. [[macd]] runs it as one exact fold per symbol (a symbol's
  * 5-minute series grows with its history, not with tick volume). The
  * EMA chains of the other indicators (ADX, TRIX, Keltner, …) are
  * distributed as a segmented scan:
  *
  *  1. bars are chunked by TIME — `chunk = bar_ts div (chunkBars·5min)` —
  *     so the chunk id needs no per-symbol row numbering (no per-symbol
  *     window stage, no global sort);
  *  2. one pass per chunk computes the O(1) summary of the recursion
  *     restricted to the chunk: `e_out = decay·e_in + partial` with
  *     `decay = β^len` (as a repeated multiply, matching the fold's op
  *     order) and `partial` the seed-0 fold; the symbol's first chunk also
  *     carries its exact sequential exit value (`e_0 = x_0` semantics);
  *  3. seeds entering each chunk come from [[linearSeeds]], a RECURSIVE
  *     segmented scan over the metadata-scale summaries (n/chunkBars
  *     rows): every task at every level folds at most `fanout` rows, so
  *     there is no driver-side fold and no single-task-per-symbol stage
  *     even for one 10^12-row series;
  *  4. a final parallel pass re-runs the exact recursion inside each
  *     chunk from its seed.
  *
  * Within the symbol's first chunk (and the second, whose seed is the
  * first chunk's exact exit) values are bit-identical to the sequential
  * fold; later chunks differ only by the `decay·e + partial` compression
  * re-association, ≤1e-13 relative and exponentially damped by β^offset
  * inside the chunk — invisible at the 4dp output rounding (spec-checked
  * and oracle-gated at three scale factors).
  */
object Ema extends Serializable {
  private val A12 = 2.0 / 13.0; private val B12 = 11.0 / 13.0
  private val A26 = 2.0 / 27.0; private val B26 = 25.0 / 27.0
  private val A9 = 2.0 / 10.0; private val B9 = 8.0 / 10.0

  // Persisted intermediates created by the segmented scans, so a
  // long-lived session (bench harness, notebook, service) can release
  // them between queries: the returned DataFrames are lazy, so there is
  // no safe unpersist point inside the builders themselves.
  //
  // CONTRACT: call [[unpersistAll]] after the terminal action on each
  // segmented-scan result. A caller that never does is still bounded:
  // the registry caps itself at MaxTracked entries by evicting (and
  // unpersisting) the oldest — an evicted intermediate that is somehow
  // still live just recomputes on its next action.
  private val MaxTracked = 64
  private val persistedSets =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  // package-visible: other operators (Similarity's Lloyd refinement)
  // reuse the same tracked-persist registry so Bench/session cleanup
  // releases their intermediates through the one unpersistAll() hook
  private[operators] def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    persistedSets.add(p)
    while (persistedSets.size > MaxTracked) {
      val old = persistedSets.poll()
      if (old != null) old.unpersist(blocking = false)
    }
    p
  }

  /** Release every intermediate this object has persisted. Call after
    * the terminal action on a segmented-scan result; a
    * subsequent action on an old result simply re-materializes. */
  def unpersistAll(): Unit = {
    var d = persistedSets.poll()
    while (d != null) { d.unpersist(blocking = false); d = persistedSets.poll() }
  }

  /** Per-chunk summary of k parallel linear recurrences e' = d·e + p.
    * `firstExit` is the chunk's exact sequential exit value under
    * `e_0 = x_0` seeding — used when this is the symbol's first chunk so
    * the head of the series is bit-exact, not just re-associated. */
  case class ChunkSum(symbol: String, chunk: Long,
      decay: Array[Double], partial: Array[Double], firstExit: Array[Double])

  /** Seed entering a chunk. `isFirst` marks the symbol's first chunk,
    * where the recursion starts from the raw first value instead. */
  case class ChunkSeed(symbol: String, chunk: Long,
      seed: Array[Double], isFirst: Boolean)

  /** Distributed prefix scan over chunk summaries: returns the recursion
    * state ENTERING each chunk.
    *
    * Statically `levels` compose stages (chunk → chunk/fanout → …)
    * followed by a per-symbol base fold over the top-level summaries,
    * then the matching unfolds back down. The depth is a STATIC
    * parameter so the plan needs NO data-dependent action (no count
    * jobs): compose/unfold tasks fold at most `fanout` rows, and the
    * base task folds chunks/fanout^levels rows per symbol — at the
    * defaults (levels=2) that is ~10³ even for a single 10¹²-row
    * series; levels=1 still bounds it at ~10⁶ for the same series
    * while spending 3 fewer exchanges. */
  def linearSeeds(sums: Dataset[ChunkSum], fanout: Int = 1024,
      levels: Int = 2): Dataset[ChunkSeed] = {
    val spark = sums.sparkSession
    import spark.implicits._

    def foldGroup(arr: Array[ChunkSum], entry: ChunkSeed): Iterator[ChunkSeed] = {
      val k = arr.head.decay.length
      var carry: Array[Double] = if (entry.isFirst) null else entry.seed.clone()
      var first = entry.isFirst
      arr.iterator.map { s =>
        val out =
          if (first) ChunkSeed(s.symbol, s.chunk, new Array[Double](k), isFirst = true)
          else ChunkSeed(s.symbol, s.chunk, carry.clone(), isFirst = false)
        carry =
          if (first) s.firstExit.clone()
          else {
            val c = carry
            var i = 0
            while (i < k) { c(i) = s.decay(i) * c(i) + s.partial(i); i += 1 }
            c
          }
        first = false
        out
      }
    }

    // ONE shared key-function instance for compose and unfold: the two
    // groupings of the same cached level then produce canonically EQUAL
    // exchange subtrees, so Spark's exchange-reuse rule replaces the
    // second with a ReusedExchange — each level's summaries shuffle
    // once, not once per consumer (compose up + unfold down).
    val byFan: ChunkSum => (String, Long) = s => (s.symbol, s.chunk / fanout)

    def compose(ds: Dataset[ChunkSum]): Dataset[ChunkSum] =
      ds.groupByKey(byFan)
        .mapGroups { (key: (String, Long), it: Iterator[ChunkSum]) =>
          val arr = it.toArray.sortBy(_.chunk)
          val k = arr.head.decay.length
          val d = Array.fill(k)(1.0); val p = new Array[Double](k)
          val fx = arr.head.firstExit.clone()
          var j = 0
          arr.foreach { s =>
            var i = 0
            while (i < k) {
              d(i) = d(i) * s.decay(i)
              p(i) = s.decay(i) * p(i) + s.partial(i)
              if (j > 0) fx(i) = s.decay(i) * fx(i) + s.partial(i)
              i += 1
            }
            j += 1
          }
          ChunkSum(key._1, key._2, d, p, fx)
        }

    def unfold(ds: Dataset[ChunkSum], superSeeds: Dataset[ChunkSeed]): Dataset[ChunkSeed] =
      ds.groupByKey(byFan)
        .cogroup(superSeeds.groupByKey(s => (s.symbol, s.chunk))) {
          (_: (String, Long), it: Iterator[ChunkSum], seedIt: Iterator[ChunkSeed]) =>
          foldGroup(it.toArray.sortBy(_.chunk), seedIt.next())
        }

    // `levels` compose stages, the per-symbol base fold over the top
    // level, then the matching unfolds back down. Capacity: the base
    // task folds chunks/fanout^levels rows per symbol — levels=2 keeps
    // that ~10³ for a 10¹⁵-row series; levels=1 folds ~10⁶ rows for a
    // 10¹²-row series (one fast O(k·rows) task) while saving one
    // compose exchange and one unfold cogroup — the right trade for a
    // cascade whose input is already chunk-count rows.
    val cached = persistTracked(sums)
    var lowers = List(cached)           // head = highest composed level
    for (i <- 1 to levels) {
      val next = compose(lowers.head)
      lowers = (if (i < levels) persistTracked(next) else next) :: lowers
    }
    val baseSeeds = lowers.head.groupByKey(_.symbol).flatMapGroups { (_, it) =>
      val arr = it.toArray.sortBy(_.chunk)
      foldGroup(arr, ChunkSeed(arr.head.symbol, arr.head.chunk, Array.empty, isFirst = true))
    }
    lowers.tail.foldLeft(baseSeeds) { (sup, lower) => unfold(lower, sup) }
  }

  case class Bar(symbol: String, bar_ts: java.sql.Timestamp,
      close: Double, chunk: Long)

  /** Chunked bars, persisted: the segmented scan reads this lineage in
    * two passes (summaries, final regeneration), and bars are ~300×
    * smaller than the tick input — one materialization beats repeated
    * scan→aggregate→shuffle recomputations at any scale. Entries use
    * evictable storage levels, Spark's cache manager dedupes identical
    * plans so repeated calls pin one copy, and [[unpersistAll]] releases
    * them once the caller's action completes. */
  private def chunked(bars: DataFrame, chunkBars: Int): Dataset[Bar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val span = Bars.BucketMicros * chunkBars
    persistTracked(
      bars.select(col("symbol"), col("bar_ts"), col("close"),
          expr(s"unix_micros(bar_ts) div $span").as("chunk"))
        .as[Bar])
  }

  private def sortedBars(it: Iterator[Bar]): Array[Bar] = {
    val arr = it.toArray
    scala.util.Sorting.stableSort(arr,
      (a: Bar, b: Bar) => a.bar_ts.getTime < b.bar_ts.getTime)
    arr
  }

  /** One (symbol, chunk)'s time-sorted close series — the scalar sibling
    * of [[VecChunk]]. */
  case class SChunk(symbol: String, chunk: Long,
      ts: Array[Long], x: Array[Double])

  /** Chunk-array materialization for the single-channel scans
    * (r9 shape, shared by [[emaSegmented]]/[[emaChain]]/[[affineScan]]):
    * the ONE bar-scale shuffle; summaries become narrow maps over the
    * persisted arrays and the regeneration cogroup runs on chunk rows
    * instead of re-shuffling + re-sorting bars per pass. */
  private def scalarChunks(bars: DataFrame, chunkBars: Int): Dataset[SChunk] = {
    val spark = bars.sparkSession
    import spark.implicits._
    persistTracked(
      chunked(bars, chunkBars)
        .groupByKey(b => (b.symbol, b.chunk))
        .mapGroups { (key: (String, Long), it: Iterator[Bar]) =>
          val arr = sortedBars(it)
          val n = arr.length
          val ts = new Array[Long](n)
          val x = new Array[Double](n)
          var i = 0
          while (i < n) {
            ts(i) = arr(i).bar_ts.getTime * 1000L +
              (arr(i).bar_ts.getNanos / 1000L) % 1000L
            x(i) = arr(i).close
            i += 1
          }
          SChunk(key._1, key._2, ts, x)
        })
  }

  /** Distributed segmented-scan EMA over `close` for one span — the
    * scan in the object header with a single recurrence. */
  def emaSegmented(bars: DataFrame, span: Int, chunkBars: Int = 1024,
      fanout: Int = 1024, sorted: Boolean = true): DataFrame = {
    val alpha = 2.0 / (span + 1); val beta = 1.0 - alpha
    val spark = bars.sparkSession
    import spark.implicits._
    val ch = scalarChunks(bars, chunkBars)
    val sums = ch.map { sc =>
      var d = 1.0; var p = 0.0; var fx = 0.0; var i = 0
      while (i < sc.x.length) {
        val x = sc.x(i)
        d *= beta; p = x * alpha + p * beta
        fx = if (i == 0) x else x * alpha + fx * beta
        i += 1
      }
      ChunkSum(sc.symbol, sc.chunk, Array(d), Array(p), Array(fx))
    }
    // levels=1: the cascade input is already chunk-count rows, so the
    // base task folds chunks/fanout rows per symbol (~10⁶ even for a
    // 10¹²-row series) — 3 fewer exchanges than the depth-2 cascade
    // (see linkedScan's shuffle-discipline note).
    val seeds = linearSeeds(sums, fanout, levels = 1)
    ch.groupByKey(c => (c.symbol, c.chunk))
      .cogroup(seeds.groupByKey(s => (s.symbol, s.chunk))) {
        (key: (String, Long), it: Iterator[SChunk], seedIt: Iterator[ChunkSeed]) =>
        val sc = it.next()
        val sd = seedIt.next()
        var e = if (sd.isFirst) 0.0 else sd.seed(0)
        (0 until sc.x.length).iterator.map { i =>
          e = if (sd.isFirst && i == 0) sc.x(i) else sc.x(i) * alpha + e * beta
          (key._1, sc.ts(i), e)
        }
      }.toDF("symbol", "ts_us", "ema")
      .select(col("symbol"), timestamp_micros(col("ts_us")).as("bar_ts"),
        col("ema")) match {
      // intermediate stages of an EMA chain (TRIX, Keltner's join side)
      // don't need the output-contract sort — skip the range exchange
      case df if sorted => df.orderBy(col("symbol"), col("bar_ts"))
      case df => df
    }
  }

  /** Multi-column input row for [[emaMulti]]: `xs(j)` is recursion j's
    * input value at this bar. Values must be non-null (coalesce before
    * calling). */
  case class MBar(symbol: String, bar_ts: java.sql.Timestamp,
      xs: Array[Double], chunk: Long)

  /** K independent `ewm(adjust=False)` recursions over K input columns
    * in ONE segmented scan — the [[emaSegmented]] machinery with the
    * per-chunk summaries carrying K (decay, partial, firstExit) entries
    * (the [[ChunkSum]] arrays were built for exactly this). Used by the
    * EMA-chain indicators (ADX smooths TR/+DM/−DM jointly; the Chaikin
    * oscillator runs EMA3 and EMA10 of the A/D line together): one pass
    * over the data per chain STAGE instead of one per recursion.
    *
    * `alphas(j)` is recursion j's α; β = 1−α is computed here once so
    * callers (and their oracle SQL, written as `1 - a/b` literals) agree
    * bit-for-bit. Seeding is `e_0 = x_0` per series, matching every
    * other EMA in the repo. */
  def emaMulti(df: DataFrame, valueCols: Seq[String], alphas: Seq[Double],
      outCols: Seq[String], chunkBars: Int = 1024,
      fanout: Int = 1024): DataFrame = {
    require(valueCols.length == alphas.length && alphas.length == outCols.length,
      "valueCols, alphas and outCols must align")
    val k = alphas.length
    val as = alphas.toArray
    val bs = alphas.map(1.0 - _).toArray
    val spark = df.sparkSession
    import spark.implicits._
    val span = Bars.BucketMicros * chunkBars
    // ONE bar-scale shuffle (r9): sorted per-chunk channel arrays
    // materialize once; the summary pass is a narrow map over them and
    // the regeneration cogroup runs at CHUNK granularity — the r8 shape
    // re-shuffled and re-sorted the bar rows for each of the two passes.
    val vch = persistTracked(
      df.select(col("symbol"), col("bar_ts"),
          array(valueCols.map(col): _*).as("xs"),
          expr(s"unix_micros(bar_ts) div $span").as("chunk"))
        .as[MBar]
        .groupByKey(b => (b.symbol, b.chunk))
        .mapGroups { (key: (String, Long), it: Iterator[MBar]) =>
          val arr = it.toArray
          scala.util.Sorting.stableSort(arr,
            (a: MBar, b: MBar) => a.bar_ts.getTime < b.bar_ts.getTime)
          val n = arr.length
          val ts = new Array[Long](n)
          val xs = Array.ofDim[Double](n, k)
          var i = 0
          while (i < n) {
            ts(i) = arr(i).bar_ts.getTime * 1000L +
              (arr(i).bar_ts.getNanos / 1000L) % 1000L
            var j = 0
            while (j < k) { xs(i)(j) = arr(i).xs(j); j += 1 }
            i += 1
          }
          VecChunk(key._1, key._2, ts, xs)
        })
    val sums = vch.map { vc =>
      val d = Array.fill(k)(1.0)
      val p = new Array[Double](k)
      val fx = new Array[Double](k)
      var i = 0
      while (i < vc.xs.length) {
        var j = 0
        while (j < k) {
          val x = vc.xs(i)(j)
          d(j) *= bs(j); p(j) = x * as(j) + p(j) * bs(j)
          fx(j) = if (i == 0) x else x * as(j) + fx(j) * bs(j)
          j += 1
        }
        i += 1
      }
      ChunkSum(vc.symbol, vc.chunk, d, p, fx)
    }
    // levels=1 — same chunk-count capacity argument as emaSegmented
    val seeds = linearSeeds(sums, fanout, levels = 1)
    vch.groupByKey(v => (v.symbol, v.chunk))
      .cogroup(seeds.groupByKey(s => (s.symbol, s.chunk))) {
        (key: (String, Long), it: Iterator[VecChunk], seedIt: Iterator[ChunkSeed]) =>
        val vc = it.next()
        val sd = seedIt.next()
        val e = new Array[Double](k)
        if (!sd.isFirst) Array.copy(sd.seed, 0, e, 0, k)
        (0 until vc.ts.length).iterator.map { i =>
          var j = 0
          while (j < k) {
            e(j) = if (sd.isFirst && i == 0) vc.xs(i)(j)
              else vc.xs(i)(j) * as(j) + e(j) * bs(j)
            j += 1
          }
          (key._1, vc.ts(i), e.clone())
        }
      }.toDF("symbol", "ts_us", "es")
      .select(col("symbol") +: timestamp_micros(col("ts_us")).as("bar_ts") +:
        outCols.zipWithIndex.map { case (n, j) => col("es")(j).as(n) }: _*)
  }

  /** One (symbol, chunk)'s time-sorted channel arrays — micros
    * timestamps plus a row-major rows×K value matrix. Materialized ONCE
    * by [[linkedScan]]'s single bar-scale shuffle; every later stage
    * reads these chunk rows. */
  case class VecChunk(symbol: String, chunk: Long,
      ts: Array[Long], xs: Array[Array[Double]])

  /** One chunk's regenerated LINKED series: the per-row carried values
    * (rows×C) derived from the stage-1 smoothed states. */
  case class LinkChunk(symbol: String, chunk: Long,
      ts: Array[Long], carry: Array[Array[Double]])

  /** Two-stage LINKED segmented scan: K channels smoothed jointly
    * (stage 1, independent linear recursions), a pointwise `link`
    * function of the smoothed state producing C carried series, and a
    * second EMA (α = `alpha2`) over carried series `linkIdx` (stage 2).
    * ADX is the instance: smooth TR/+DM/−DM, link to DI±/DX (ratios —
    * NONLINEAR, so the chain has no affine form and [[emaChain]] cannot
    * fuse it), smooth DX → ADX.
    *
    * Shuffle discipline (the reason this exists): ONE bar-scale
    * exchange total — the initial chunk materialization. Stage-1
    * summaries are a narrow map over the persisted [[VecChunk]] rows;
    * both seed cascades run at chunk/metadata scale (levels=1 — input
    * is already chunk-count rows); stage-1 regeneration + link and the
    * stage-2 final pass are chunk-LEVEL cogroups over the persisted
    * arrays, never a re-shuffle of bar rows. (The r8 shape ran two full
    * [[emaMulti]] scans back to back: 4 bar-scale exchanges and two
    * depth-2 cascades — 23 exchanges for q_adx; this one plans 15 with
    * 2 bar-scale including the caller's lag window.)
    *
    * Float parity: chunk arrays fold in the identical per-row op order
    * as [[emaMulti]]'s sorted-group passes, `link` runs the same
    * left-associated double ops the previous Catalyst projection did,
    * and stage 2 re-runs the exact recursion from its seed — same
    * contract, oracle-gated at three scale factors. */
  def linkedScan(df: DataFrame, valueCols: Seq[String], alphas: Seq[Double],
      link: Array[Double] => Array[Double], carryCols: Seq[String],
      linkIdx: Int, alpha2: Double, outCol: String,
      chunkBars: Int = 1024, fanout: Int = 1024): DataFrame = {
    require(valueCols.length == alphas.length, "valueCols and alphas must align")
    val k = alphas.length
    val c = carryCols.length
    val as = alphas.toArray
    val bs = alphas.map(1.0 - _).toArray
    val a2 = alpha2; val b2 = 1.0 - alpha2
    val spark = df.sparkSession
    import spark.implicits._
    val span = Bars.BucketMicros * chunkBars
    // the ONE bar-scale shuffle: sorted channel arrays per (symbol, chunk)
    val vch = persistTracked(
      df.select(col("symbol"), col("bar_ts"),
          array(valueCols.map(col): _*).as("xs"),
          expr(s"unix_micros(bar_ts) div $span").as("chunk"))
        .as[MBar]
        .groupByKey(b => (b.symbol, b.chunk))
        .mapGroups { (key: (String, Long), it: Iterator[MBar]) =>
          val arr = it.toArray
          scala.util.Sorting.stableSort(arr,
            (a: MBar, b: MBar) => a.bar_ts.getTime < b.bar_ts.getTime)
          val n = arr.length
          val ts = new Array[Long](n)
          val xs = Array.ofDim[Double](n, k)
          var i = 0
          while (i < n) {
            ts(i) = arr(i).bar_ts.getTime * 1000L +
              (arr(i).bar_ts.getNanos / 1000L) % 1000L
            var j = 0
            while (j < k) { xs(i)(j) = arr(i).xs(j); j += 1 }
            i += 1
          }
          VecChunk(key._1, key._2, ts, xs)
        })
    // stage-1 chunk summaries: narrow map, same fold order as emaMulti
    val sums1 = vch.map { vc =>
      val d = Array.fill(k)(1.0)
      val p = new Array[Double](k)
      val fx = new Array[Double](k)
      var i = 0
      while (i < vc.xs.length) {
        var j = 0
        while (j < k) {
          val x = vc.xs(i)(j)
          d(j) *= bs(j); p(j) = x * as(j) + p(j) * bs(j)
          fx(j) = if (i == 0) x else x * as(j) + fx(j) * bs(j)
          j += 1
        }
        i += 1
      }
      ChunkSum(vc.symbol, vc.chunk, d, p, fx)
    }
    val seeds1 = linearSeeds(sums1, fanout, levels = 1)
    // stage-1 regeneration + link: chunk-level cogroup, carried arrays
    val lch = persistTracked(
      vch.groupByKey(v => (v.symbol, v.chunk))
        .cogroup(seeds1.groupByKey(s => (s.symbol, s.chunk))) {
          (key: (String, Long), it: Iterator[VecChunk], seedIt: Iterator[ChunkSeed]) =>
          val vc = it.next(); val sd = seedIt.next()
          val e = new Array[Double](k)
          if (!sd.isFirst) Array.copy(sd.seed, 0, e, 0, k)
          val n = vc.ts.length
          val carr = Array.ofDim[Double](n, c)
          var i = 0
          while (i < n) {
            var j = 0
            while (j < k) {
              e(j) = if (sd.isFirst && i == 0) vc.xs(i)(j)
                else vc.xs(i)(j) * as(j) + e(j) * bs(j)
              j += 1
            }
            val lk = link(e)
            var cc = 0
            while (cc < c) { carr(i)(cc) = lk(cc); cc += 1 }
            i += 1
          }
          Iterator.single(LinkChunk(key._1, key._2, vc.ts, carr))
        })
    // stage-2 chunk summaries over the linked series: narrow map
    val sums2 = lch.map { lc =>
      var d = 1.0; var p = 0.0; var f = 0.0
      var i = 0
      while (i < lc.carry.length) {
        val x = lc.carry(i)(linkIdx)
        d *= b2; p = x * a2 + p * b2
        f = if (i == 0) x else x * a2 + f * b2
        i += 1
      }
      ChunkSum(lc.symbol, lc.chunk, Array(d), Array(p), Array(f))
    }
    val seeds2 = linearSeeds(sums2, fanout, levels = 1)
    // final rows: exact stage-2 recursion over each persisted chunk array
    val rows = lch.groupByKey(lc => (lc.symbol, lc.chunk))
      .cogroup(seeds2.groupByKey(s => (s.symbol, s.chunk))) {
        (key: (String, Long), it: Iterator[LinkChunk], seedIt: Iterator[ChunkSeed]) =>
        val lc = it.next(); val sd = seedIt.next()
        var e2 = if (sd.isFirst) 0.0 else sd.seed(0)
        (0 until lc.ts.length).iterator.map { i =>
          val x = lc.carry(i)(linkIdx)
          e2 = if (sd.isFirst && i == 0) x else x * a2 + e2 * b2
          (key._1, lc.ts(i), lc.carry(i).toSeq, e2)
        }
      }
    rows.toDF("symbol", "ts_us", "carr", "e2")
      .select(col("symbol") +: timestamp_micros(col("ts_us")).as("bar_ts") +:
        (carryCols.zipWithIndex.map { case (nm, i) => col("carr")(i).as(nm) } :+
          col("e2").as(outCol)): _*)
  }

  /** Distributed prefix scan for CHAINED recursions: like [[linearSeeds]]
    * but each chunk's effect on the entering state is a full affine map
    * `v' = A·v + U` with `A` a dim×dim matrix (row-major in
    * `ChunkSum.decay`) instead of dim independent scalars — the summary
    * shape for a chain e₁→e₂→…→e_k where later stages consume earlier
    * stages' CURRENT values (TRIX's triple EMA). Affine maps compose
    * associatively ((A₂,U₂)∘(A₁,U₁) = (A₂A₁, A₂U₁+U₂)), so the same
    * two-level compose/unfold tree applies; per-task work is
    * O(fanout·dim³) — dim is 3 for TRIX, invisible next to the shuffle. */
  def affineSeeds(sums: Dataset[ChunkSum], dim: Int,
      fanout: Int = 1024, levels: Int = 1): Dataset[ChunkSeed] = {
    val spark = sums.sparkSession
    import spark.implicits._

    def mm(a2: Array[Double], a1: Array[Double]): Array[Double] = {
      val out = new Array[Double](dim * dim)
      var r = 0
      while (r < dim) {
        var c = 0
        while (c < dim) {
          var s = 0.0; var i = 0
          while (i < dim) { s += a2(r * dim + i) * a1(i * dim + c); i += 1 }
          out(r * dim + c) = s; c += 1
        }
        r += 1
      }
      out
    }
    def av(a: Array[Double], v: Array[Double], u: Array[Double]): Array[Double] = {
      val out = new Array[Double](dim)
      var r = 0
      while (r < dim) {
        var s = 0.0; var c = 0
        while (c < dim) { s += a(r * dim + c) * v(c); c += 1 }
        out(r) = s + u(r); r += 1
      }
      out
    }

    def foldGroup(arr: Array[ChunkSum], entry: ChunkSeed): Iterator[ChunkSeed] = {
      var carry: Array[Double] = if (entry.isFirst) null else entry.seed.clone()
      var first = entry.isFirst
      arr.iterator.map { s =>
        val out =
          if (first) ChunkSeed(s.symbol, s.chunk, new Array[Double](dim), isFirst = true)
          else ChunkSeed(s.symbol, s.chunk, carry.clone(), isFirst = false)
        carry =
          if (first) s.firstExit.clone()
          else av(s.decay, carry, s.partial)
        first = false
        out
      }
    }

    // shared key-fn instance => compose/unfold exchange subtrees
    // canonicalize equal and the second shuffle per level is reused
    // (see linearSeeds)
    val byFan: ChunkSum => (String, Long) = s => (s.symbol, s.chunk / fanout)

    def compose(ds: Dataset[ChunkSum]): Dataset[ChunkSum] =
      ds.groupByKey(byFan)
        .mapGroups { (key: (String, Long), it: Iterator[ChunkSum]) =>
          val arr = it.toArray.sortBy(_.chunk)
          var a: Array[Double] = null
          var u: Array[Double] = null
          var fx = arr.head.firstExit.clone()
          var j = 0
          arr.foreach { s =>
            if (j == 0) { a = s.decay.clone(); u = s.partial.clone() }
            else {
              a = mm(s.decay, a)
              u = av(s.decay, u, s.partial)
              fx = av(s.decay, fx, s.partial)
            }
            j += 1
          }
          ChunkSum(key._1, key._2, a, u, fx)
        }

    def unfold(ds: Dataset[ChunkSum], superSeeds: Dataset[ChunkSeed]): Dataset[ChunkSeed] =
      ds.groupByKey(byFan)
        .cogroup(superSeeds.groupByKey(s => (s.symbol, s.chunk))) {
          (_: (String, Long), it: Iterator[ChunkSum], seedIt: Iterator[ChunkSeed]) =>
          foldGroup(it.toArray.sortBy(_.chunk), seedIt.next())
        }

    // `levels` compose stages then the matching unfolds — the same
    // static-depth machinery as linearSeeds. Default levels=1: the input
    // is already chunk-count rows, so the base task folds chunks/fanout
    // rows per symbol (~10⁶ for a 10¹²-row series) and the cascade
    // spends 3 fewer exchanges than depth 2.
    val cached = persistTracked(sums)
    var lowers = List(cached)
    for (i <- 1 to levels) {
      val next = compose(lowers.head)
      lowers = (if (i < levels) persistTracked(next) else next) :: lowers
    }
    val baseSeeds = lowers.head.groupByKey(_.symbol).flatMapGroups { (_, it) =>
      val arr = it.toArray.sortBy(_.chunk)
      foldGroup(arr, ChunkSeed(arr.head.symbol, arr.head.chunk, Array.empty, isFirst = true))
    }
    lowers.tail.foldLeft(baseSeeds) { (sup, lower) => unfold(lower, sup) }
  }

  /** A CHAIN of k EMA recursions over one input column in ONE segmented
    * scan: stage j smooths stage j−1's current output (stage 0 smooths
    * the input), i.e. `e_j' = α_j·e_{j-1}' + (1−α_j)·e_j`. Equivalent to
    * k chained [[emaSegmented]] passes but pays ONE chunk pass + ONE
    * regeneration pass + metadata-scale [[affineSeeds]] instead of k of
    * each: the one-step update is a constant lower-triangular affine map
    * `v' = M·v + c·x`, so a chunk's effect is `A = M^len` (repeated
    * multiply) and a folded `U` — 27 flops/row for TRIX, amortized
    * against k full shuffles saved. Seeding: every stage starts at the
    * input's first value (each stage's input series begins at x₀),
    * matching the chained-emaSegmented semantics exactly in sequential
    * mode. */
  def emaChain(bars: DataFrame, alphas: Seq[Double], outCols: Seq[String],
      chunkBars: Int = 1024, fanout: Int = 1024): DataFrame = {
    require(alphas.length == outCols.length && alphas.nonEmpty)
    val k = alphas.length
    val as = alphas.toArray
    val bs = alphas.map(1.0 - _).toArray
    // constant one-step map: row_j = α_j·row_{j-1} (+ β_j at the
    // diagonal), c_j = α_j·c_{j-1} — the expansion of the chain in
    // terms of (entering state, current input)
    val m = new Array[Double](k * k)
    val cv = new Array[Double](k)
    var prevRow = new Array[Double](k)
    var prevC = 1.0
    for (j <- 0 until k) {
      val row = prevRow.map(_ * as(j))
      row(j) += bs(j)
      val c = as(j) * prevC
      Array.copy(row, 0, m, j * k, k); cv(j) = c
      prevRow = row; prevC = c
    }
    val spark = bars.sparkSession
    import spark.implicits._
    val ch = scalarChunks(bars, chunkBars)
    def chainStep(e: Array[Double], x: Double): Unit = {
      var p = x; var j = 0
      while (j < k) { e(j) = p * as(j) + e(j) * bs(j); p = e(j); j += 1 }
    }
    val sums = ch.map { sc =>
      val arr = sc.x
      val a = new Array[Double](k * k)
      var j = 0
      while (j < k) { a(j * k + j) = 1.0; j += 1 }
      val u = new Array[Double](k)
      val fx = new Array[Double](k)
      var i = 0
      while (i < arr.length) {
        val x = arr(i)
        // U ← M·U + c·x ; A ← M·A (row-major, reading the old values)
        val nu = new Array[Double](k)
        val na = new Array[Double](k * k)
        var r = 0
        while (r < k) {
          var s = 0.0; var cc = 0
          while (cc < k) { s += m(r * k + cc) * u(cc); cc += 1 }
          nu(r) = s + cv(r) * x
          cc = 0
          while (cc < k) {
            var t = 0.0; var z = 0
            while (z < k) { t += m(r * k + z) * a(z * k + cc); z += 1 }
            na(r * k + cc) = t; cc += 1
          }
          r += 1
        }
        Array.copy(nu, 0, u, 0, k); Array.copy(na, 0, a, 0, k * k)
        if (i == 0) { var q = 0; while (q < k) { fx(q) = x; q += 1 } }
        else chainStep(fx, x)
        i += 1
      }
      ChunkSum(sc.symbol, sc.chunk, a, u, fx)
    }
    val seeds = affineSeeds(sums, k, fanout)
    ch.groupByKey(c => (c.symbol, c.chunk))
      .cogroup(seeds.groupByKey(s => (s.symbol, s.chunk))) {
        (key: (String, Long), it: Iterator[SChunk], seedIt: Iterator[ChunkSeed]) =>
        val sc = it.next()
        val sd = seedIt.next()
        val e = new Array[Double](k)
        if (!sd.isFirst) Array.copy(sd.seed, 0, e, 0, k)
        (0 until sc.x.length).iterator.map { i =>
          if (sd.isFirst && i == 0) {
            var q = 0; while (q < k) { e(q) = sc.x(i); q += 1 }
          } else chainStep(e, sc.x(i))
          // no per-row clone: this iterator feeds SerializeFromObject
          // directly (the .toDF below), which deep-copies the array
          // into UnsafeArrayData before pulling the next row — the
          // emitted row already copies, so the shared scratch state is
          // never observed after mutation (bit-equality specs gate it)
          (key._1, sc.ts(i), e)
        }
      }.toDF("symbol", "ts_us", "es")
      .select(col("symbol") +: timestamp_micros(col("ts_us")).as("bar_ts") +:
        outCols.zipWithIndex.map { case (n, j) => col("es")(j).as(n) }: _*)
  }

  /** GENERAL k-dim affine recursion `v_t = M·v_{t-1} + c·x_t` as one
    * segmented scan — the device [[emaChain]] instantiates for
    * lower-triangular EMA chains, opened up for recursions whose state
    * components are COUPLED (Holt's level/trend smoothing: each of l/b
    * reads the other's previous value — no chain ordering exists).
    *
    * `m` is the k×k one-step matrix (row-major), `cv` the input
    * coefficient vector; `init(x₀)` gives the state at the series head
    * and `step(state, x)` must implement the EXACT float-op sequence the
    * oracle folds (the matrix form is used only to compress chunks —
    * per-row values inside a chunk always come from `step`, so the head
    * of the series is bit-identical to the sequential fold and later
    * chunks differ only by seed re-association, damped by the spectral
    * radius of M). Both closures must be pure and serializable. */
  def affineScan(bars: DataFrame, m: Array[Double], cv: Array[Double],
      init: Double => Array[Double],
      step: (Array[Double], Double) => Array[Double],
      outCols: Seq[String], chunkBars: Int = 1024,
      fanout: Int = 1024): DataFrame = {
    val k = cv.length
    require(m.length == k * k && outCols.length == k)
    val spark = bars.sparkSession
    import spark.implicits._
    val ch = scalarChunks(bars, chunkBars)
    val sums = ch.map { sc =>
      val arr = sc.x
      val a = new Array[Double](k * k)
      var j = 0
      while (j < k) { a(j * k + j) = 1.0; j += 1 }
      val u = new Array[Double](k)
      var fx: Array[Double] = null
      var i = 0
      while (i < arr.length) {
        val x = arr(i)
        // U ← M·U + c·x ; A ← M·A (row-major, reading the old values)
        val nu = new Array[Double](k)
        val na = new Array[Double](k * k)
        var r = 0
        while (r < k) {
          var s = 0.0; var cc = 0
          while (cc < k) { s += m(r * k + cc) * u(cc); cc += 1 }
          nu(r) = s + cv(r) * x
          cc = 0
          while (cc < k) {
            var t = 0.0; var z = 0
            while (z < k) { t += m(r * k + z) * a(z * k + cc); z += 1 }
            na(r * k + cc) = t; cc += 1
          }
          r += 1
        }
        Array.copy(nu, 0, u, 0, k); Array.copy(na, 0, a, 0, k * k)
        fx = if (i == 0) init(x) else step(fx, x)
        i += 1
      }
      ChunkSum(sc.symbol, sc.chunk, a, u, fx)
    }
    val seeds = affineSeeds(sums, k, fanout)
    ch.groupByKey(c => (c.symbol, c.chunk))
      .cogroup(seeds.groupByKey(s => (s.symbol, s.chunk))) {
        (key: (String, Long), it: Iterator[SChunk], seedIt: Iterator[ChunkSeed]) =>
        val sc = it.next()
        val sd = seedIt.next()
        var e: Array[Double] = if (sd.isFirst) null else sd.seed
        (0 until sc.x.length).iterator.map { i =>
          e = if (sd.isFirst && i == 0) init(sc.x(i)) else step(e, sc.x(i))
          // no per-row clone (even for an in-place-mutating `step`):
          // this iterator feeds SerializeFromObject directly (the
          // .toDF below), which deep-copies the array into
          // UnsafeArrayData before pulling the next row — the emitted
          // row already copies (bit-equality specs gate it)
          (key._1, sc.ts(i), e)
        }
      }.toDF("symbol", "ts_us", "es")
      .select(col("symbol") +: timestamp_micros(col("ts_us")).as("bar_ts") +:
        outCols.zipWithIndex.map { case (n, j) => col("es")(j).as(n) }: _*)
  }

  /** MACD(12,26,9) as ONE exact fold per symbol: the bars' single
    * `groupByKey(symbol)` exchange hands each symbol's series to one
    * task, which folds EMA12/EMA26 and the EMA9 signal of their
    * difference in bar_ts order — then the output sort. Three exchanges
    * (bars aggregate, symbol group, output sort), no persist, nothing
    * for [[unpersistAll]] to release. One task per symbol is enough: a
    * symbol's 5-minute series holds at most 105,120 bars a year (the
    * same one-row-per-5-minutes premise the chunked scans key on), so a
    * decade is ~1 M (ts, close) pairs in one task. The float ops are
    * the oracle's sequential fold with its 11/13-style β literals, and
    * hist = macd − signal is the same double subtraction. */
  def macd(bars: DataFrame): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val ds = bars.select(col("symbol"), col("bar_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
    val raw = ds.groupByKey(_._1).flatMapGroups { (sym, it) =>
      val arr = it.map(t => (t._2, t._3)).toArray
      scala.util.Sorting.stableSort(arr, (a: (java.sql.Timestamp, Double),
          b: (java.sql.Timestamp, Double)) => a._1.getTime < b._1.getTime)
      val n = arr.length
      val macdArr = new Array[Double](n)
      var e12 = 0.0; var e26 = 0.0; var i = 0
      while (i < n) {
        val x = arr(i)._2
        if (i == 0) { e12 = x; e26 = x }
        else { e12 = x * A12 + e12 * B12; e26 = x * A26 + e26 * B26 }
        macdArr(i) = e12 - e26
        i += 1
      }
      var sig = 0.0
      (0 until n).iterator.map { j =>
        val m = macdArr(j)
        sig = if (j == 0) m else m * A9 + sig * B9
        (sym, arr(j)._1, m, sig, m - sig)
      }
    }
    raw.toDF("symbol", "bar_ts", "m", "s", "h")
      .select(col("symbol"), col("bar_ts"),
        round(col("m") + lit(5e-9), 4).as("macd"),
        round(col("s") + lit(5e-9), 4).as("macd_signal"),
        round(col("h") + lit(5e-9), 4).as("macd_hist"))
      .orderBy(col("symbol"), col("bar_ts"))
  }
}
