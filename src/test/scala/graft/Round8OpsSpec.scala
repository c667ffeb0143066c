package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bars, Dedup, Ema, IndicatorsExt, Relational, SegmentedWindows, TrainingData}

/** Round-8 specs: the CUSUM prefix-sum closed form vs the textbook
  * max-recursion, the segmented CUSUM device, triangle counting on
  * planted graphs, split-leakage consistency with trainSplit, and the
  * domain-quota ceiling rule. */
class Round8OpsSpec extends SparkSpec {

  private def bars001 = Bars.ohlcv(Tables.events(spark, sf()))

  test("cusum equals the sequential max-recursion fold per symbol") {
    import spark.implicits._
    val out = IndicatorsExt.cusum(bars001)
      .select("symbol", "bar_ts", "close", "cusum_pos", "cusum_neg")
      .as[(String, Timestamp, Double, Double, Double)]
      .collect().groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2.getTime)
      val cents = sorted.map(r => math.floor(r._3 * 100 + 0.5).toLong)
      val n = cents.length.toLong
      val sc = cents.sum
      // textbook recursion over the exact integer deviations n·c − Σc
      var sp = BigInt(0); var sn = BigInt(0)
      sorted.zipWithIndex.foreach { case (r, i) =>
        val dev = BigInt(n) * cents(i) - sc
        sp = (sp + dev).max(0)
        sn = (sn - dev).max(0)
        val expPos = math.floor((sp.toDouble / (n * 100.0) + 5e-9) * 1e4 + 0.5) / 1e4
        val expNeg = math.floor((sn.toDouble / (n * 100.0) + 5e-9) * 1e4 + 0.5) / 1e4
        assert(math.abs(r._4 - expPos) < 1e-9, s"pos at $i: ${r._4} vs $expPos")
        assert(math.abs(r._5 - expNeg) < 1e-9, s"neg at $i: ${r._5} vs $expNeg")
      }
    }
  }

  test("holt matches the sequential level/trend fold, incl. many-chunk seams") {
    import spark.implicits._
    val bars = bars001
    val scanned = graft.operators.Ema.fold(bars, Seq("close"), Seq("level", "trend"))(
      init = x => Array(x(0), 0.0),
      step = (e, x) => {
        val l1 = 0.3 * x(0) + 0.7 * (e(0) + e(1))
        Array(l1, 0.2 * (l1 - e(0)) + 0.8 * e(1))
      })
    val got = scanned.select("symbol", "bar_ts", "level", "trend")
      .as[(String, java.sql.Timestamp, Double, Double)]
      .collect().groupBy(_._1)
    assert(got.nonEmpty)
    // sequential reference fold over the close series
    val closes = bars.select("symbol", "bar_ts", "close")
      .as[(String, java.sql.Timestamp, Double)].collect().groupBy(_._1)
    closes.foreach { case (sym, rows) =>
      val sorted = rows.sortBy(_._2.getTime)
      val gotRows = got(sym).sortBy(_._2.getTime)
      var l = 0.0; var b = 0.0
      sorted.zipWithIndex.foreach { case (r, i) =>
        if (i == 0) { l = r._3; b = 0.0 }
        else {
          val l1 = 0.3 * r._3 + 0.7 * (l + b)
          b = 0.2 * (l1 - l) + 0.8 * b; l = l1
        }
        assert(math.abs(gotRows(i)._3 - l) < 1e-9, s"$sym level row $i")
        assert(math.abs(gotRows(i)._4 - b) < 1e-9, s"$sym trend row $i")
      }
    }
    graft.operators.Ema.unpersistAll()
  }

  test("cusumSegmented is bit-equal to cusum across partition seams") {
    val base = IndicatorsExt.cusum(bars001)
    val seg = SegmentedWindows.cusumSegmented(bars001)
    assert(base.schema.map(f => (f.name, f.dataType)) ===
      seg.schema.map(f => (f.name, f.dataType)))
    assert(base.exceptAll(seg).isEmpty && seg.exceptAll(base).isEmpty)
    Ema.unpersistAll()
  }

  test("graphCcFromPairs: K4 is all-triangles, a path has none") {
    import spark.implicits._
    // K4 on ids 1..4: every node deg 3, 3 triangles, cc = 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val r4 = Dedup.graphCcFromPairs(k4).collect()
    assert(r4.length === 4)
    r4.foreach { r =>
      assert(r.getLong(1) === 3L && r.getLong(2) === 3L)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    }
    // path 1-2-3-4: no triangles; middle nodes deg 2 with cc 0,
    // end nodes deg 1 with null cc
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val rp = Dedup.graphCcFromPairs(path).collect()
    assert(rp.map(_.getLong(2)).sum === 0L)
    assert(rp.filter(_.getLong(1) === 2L).forall(r => r.getDouble(3) === 0.0))
    assert(rp.filter(_.getLong(1) === 1L).forall(_.isNullAt(3)))
  }

  test("winsorize matches the naive sort-clamp-mean definition") {
    import spark.implicits._
    val out = IndicatorsExt.winsorize(bars001)
      .select("symbol", "n", "p05", "p95", "n_low", "n_high", "winsor_mean")
      .as[(String, Long, Double, Double, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    val closes = bars001.select("symbol", "close")
      .as[(String, Double)].collect().groupBy(_._1)
    assert(out.keySet === closes.keySet)
    closes.foreach { case (sym, rows) =>
      val cents = rows.map(r => math.floor(r._2 * 100 + 0.5).toLong).sorted
      val n = cents.length
      val lo = cents((n + 19) / 20 - 1)        // nearest-rank ⌈n/20⌉, 1-based
      val hi = cents(n - n / 20 - 1)           // nearest-rank n − ⌊n/20⌋
      val clamped = cents.map(c => math.min(math.max(c, lo), hi))
      val r = out(sym)
      assert(r._2 === n.toLong)
      assert(r._3 === lo.toDouble / 100.0 && r._4 === hi.toDouble / 100.0)
      assert(r._5 === cents.count(_ < lo).toLong)
      assert(r._6 === cents.count(_ > hi).toLong)
      val exp = math.floor((clamped.map(BigInt(_)).sum.toDouble / (n * 100.0)
        + 5e-9) * 1e4 + 0.5) / 1e4
      assert(math.abs(r._7 - exp) < 1e-9, s"$sym mean")
    }
  }

  test("rollSpread matches the naive covariance of lagged cent deltas") {
    import spark.implicits._
    val out = IndicatorsExt.rollSpread(bars001)
      .select("symbol", "n", "autocov", "roll_spread", "no_bounce")
      .collect().map(r => r.getString(0) -> r).toMap
    val closes = bars001.select("symbol", "bar_ts", "close")
      .as[(String, java.sql.Timestamp, Double)].collect().groupBy(_._1)
    closes.foreach { case (sym, rows) =>
      val c = rows.sortBy(_._2.getTime).map(r => math.floor(r._3 * 100 + 0.5).toLong)
      val d = c.sliding(2).map(p => p(1) - p(0)).toArray
      val pairs = d.sliding(2).map(p => (p(1), p(0))).toArray
      val n = pairs.length
      val sd = pairs.map(_._1).sum; val sdp = pairs.map(_._2).sum
      val sddp = pairs.map(p => p._1 * p._2).sum
      val cov = (n.toDouble * sddp - sd.toDouble * sdp.toDouble) /
        (n.toDouble * (n.toDouble - 1.0))
      val r = out(sym)
      assert(r.getLong(1) === n.toLong)
      val expAuto = math.floor((cov / 10000.0 + 5e-9) * 1e4 + 0.5) / 1e4
      assert(math.abs(r.getDouble(2) - expAuto) < 1e-9, s"$sym autocov")
      if (cov < 0) {
        val expSpread =
          math.floor((2.0 * math.sqrt(-cov) / 100.0 + 5e-9) * 1e4 + 0.5) / 1e4
        assert(math.abs(r.getDouble(3) - expSpread) < 1e-9, s"$sym spread")
        assert(!r.getBoolean(4))
      } else assert(r.isNullAt(3) && r.getBoolean(4))
    }
  }

  test("pagerankTransitions equals the in-memory integer recursion") {
    import spark.implicits._
    val events = Tables.events(spark, sf())
    val out = Relational.pagerankTransitions(events)
      .select("event_type", "rank_micro")
      .as[(String, Long)].collect().toMap
    // rebuild edges naively: consecutive (prev, next) per user on (ts, event_id)
    val evs = events.select("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val edges = evs.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      rows.sortBy(r => (r._2.getTime, r._3)).map(_._4).sliding(2)
        .filter(_.length == 2).map(p => (p(0), p(1)))
    }.toSeq.groupBy(identity).map { case ((u, v), g) => (u, v, g.size.toLong) }
    val wOut = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val nodes = evs.map(_._4).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      val cin = edges.toSeq.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, n) => r(u) * n / wOut(u) }.sum
      }
      r = nodes.map(v => v -> (150000L + 85L * cin.getOrElse(v, 0L) / 100L)).toMap
    }
    assert(out === r)
  }

  test("splitLeakage flags exactly the pairs straddling trainSplit") {
    val docs = Tables.documents(spark, sf())
    val leak = TrainingData.splitLeakage(docs)
    val splits = TrainingData.trainSplit(docs).select(col("doc_id"), col("split"))
    val joined = leak
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("ref_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("ref_b")), Seq("doc_b"))
    assert(joined.filter(col("split_a") =!= col("ref_a")).count() === 0)
    assert(joined.filter(col("split_b") =!= col("ref_b")).count() === 0)
    assert(joined.filter(col("leaked") =!= (col("ref_a") =!= col("ref_b"))).count() === 0)
  }

  test("domainQuota keeps exactly the top ⌈2n/5⌉ per source") {
    val docs = Tables.documents(spark, sf())
    val out = TrainingData.domainQuota(docs)
    val perSource = out.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      max(col("src_rank")).as("max_rank")).collect()
    assert(perSource.nonEmpty)
    perSource.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(2) === (2 * n + 4) / 5, s"source ${r.getString(0)}")
      assert(r.getLong(3) === n)
    }
    // kept docs within a source never rank below a dropped doc
    val viol = out.alias("a").join(out.alias("b"),
      col("a.source") === col("b.source") &&
        col("a.kept") && !col("b.kept") &&
        col("a.src_rank") > col("b.src_rank"))
    assert(viol.count() === 0)
  }
}
