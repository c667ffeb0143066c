package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bars, Bpe, Dedup, Ema, TrainingData}

/** Round-12 specs: the per-symbol fold's per-row state copy under an
  * in-place-mutating step, and kernel-builder argument guards. */
class Round12OpsSpec extends SparkSpec {

  private def bars001 = Bars.ohlcv(Tables.events(spark, sf()))

  test("affineScan: an in-place-mutating step still yields per-row values") {
    import spark.implicits._
    val bars = bars001
    // Ema.fold emits a fresh copy of the state for every row. This spec
    // PLANTS a step that mutates its input in place (the worst case the
    // fold contract allows) — if the per-row copy were ever dropped,
    // every row of a symbol would carry the symbol's FINAL state and
    // the per-row assertions below fail loudly.
    val scanned = Ema.fold(bars, Seq("close"), Seq("level", "trend"))(
      init = x => Array(x(0), 0.0),
      step = (e, x) => {
        val l1 = 0.3 * x(0) + 0.7 * (e(0) + e(1))
        val b1 = 0.2 * (l1 - e(0)) + 0.8 * e(1)
        e(0) = l1; e(1) = b1
        e // same array instance — deliberate in-place mutation
      })
    val got = scanned.select("symbol", "bar_ts", "level", "trend")
      .as[(String, java.sql.Timestamp, Double, Double)]
      .collect().groupBy(_._1)
    assert(got.nonEmpty)
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
        assert(math.abs(gotRows(i)._3 - l) < 1e-9,
          s"$sym level row $i — per-row state was overwritten by a later mutation")
        assert(math.abs(gotRows(i)._4 - b) < 1e-9, s"$sym trend row $i")
      }
    }
    Ema.unpersistAll()
  }

  test("SQL-text EXISTS/IN decorrelate to semi joins — no per-row subquery survives") {
    import graft.operators.SqlSurface
    // correlated EXISTS through spark.sql: the physical plan must be a
    // LEFT SEMI join (RewritePredicateSubquery), with zero subquery
    // nodes left anywhere — the proof the text surface costs nothing
    // over the hand-decorrelated DataFrame twin (q_priority_returns)
    val exists = SqlSurface.priorityReturnsSql(spark, sf())
    val existsPlan = exists.queryExecution.executedPlan.toString
    assert(existsPlan.contains("LeftSemi"), s"no semi join in:\n$existsPlan")
    assert(!existsPlan.contains("InSubquery") && !existsPlan.toLowerCase.contains("existence"),
      s"per-row subquery survived:\n$existsPlan")
    // and the result equals the DataFrame twin bit-for-bit
    val twin = graft.operators.Relational.priorityReturns(
      Tables.table(spark, sf(), "orders"), Tables.table(spark, sf(), "lineitem"))
    assert(exists.exceptAll(twin).isEmpty && twin.exceptAll(exists).isEmpty,
      "q_sql_exists disagrees with q_priority_returns")
    // uncorrelated IN: also a semi join, never a collected value list
    val in = SqlSurface.promoSuppliersSql(spark, sf())
    val inPlan = in.queryExecution.executedPlan.toString
    assert(inPlan.contains("LeftSemi"), s"no semi join in:\n$inPlan")
    // UNION ALL: a physical Union feeding one partial aggregate
    val un = SqlSurface.orderSlicesUnionSql(spark, sf())
    val unPlan = un.queryExecution.executedPlan.toString
    assert(unPlan.contains("Union"), s"no Union in:\n$unPlan")
    assert(un.count() > 0)
  }

  test("SQL-text WITH RECURSIVE: iterative plan, exact path counts on a planted graph") {
    import spark.implicits._
    import graft.operators.SqlSurface
    // planted transitions: s->v, v->c, c->p (user 1) and s->c (user 2)
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:0$s:00")
    Seq(
      (1L, "signup", ts(1), 1L), (1L, "view", ts(2), 2L),
      (1L, "click", ts(3), 3L), (1L, "purchase", ts(4), 4L),
      (2L, "signup", ts(1), 5L), (2L, "click", ts(2), 6L)
    ).toDF("user_id", "event_type", "ts", "event_id")
      .createOrReplaceTempView("events")
    val df = spark.sql(SqlSurface.ReachabilityStatement)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop") || plan.contains("Recursi"),
      s"no recursive/iterative node in:\n$plan")
    val got = df.as[(String, Long, Long)].collect().toSeq
    // click: depth1 direct + depth2 via view; purchase: depth2 + depth3
    assert(got === Seq(("click", 1L, 2L), ("purchase", 2L, 2L),
      ("signup", 0L, 1L), ("view", 1L, 1L)))
  }

  test("lshChoose(τ=0.2) wires into minhashLshPairs and beats fixed 16×4 recall") {
    import spark.implicits._
    // the chosen grid point matches the gated query's chosen row
    val (b, r) = Dedup.lshChoose(64, 0.2)
    assert((b, r) === (32, 2))
    val chosenRow = Dedup.lshTuning(spark).filter(col("chosen")).collect()
    assert(chosenRow.length === 1)
    assert(chosenRow(0).getLong(0) === b.toLong && chosenRow(0).getLong(1) === r.toLong)
    // 40 planted near-dup pairs at shingle Jaccard ≈ 0.27 (every 5th
    // word replaced): the τ=0.2 banding (32 bands of 2) must recover
    // strictly more of them than the fixed 16×4 (threshold 0.5) —
    // S-curve prediction: ~0.91 vs ~0.08 collision probability
    val docs = (0 until 40).flatMap { p =>
      val base = (0 until 40).map(i => s"p${p}w$i")
      val mod = base.zipWithIndex.map { case (w, i) =>
        if (i % 5 == 0) s"p${p}x$i" else w }
      Seq((p.toLong * 2, base.mkString(" ")), (p.toLong * 2 + 1, mod.mkString(" ")))
    }.toDF("doc_id", "text")
    val planted = (0 until 40).map(p => (p.toLong * 2, p.toLong * 2 + 1)).toSet
    def recall(pairs: org.apache.spark.sql.DataFrame): Double = {
      val found = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      planted.count(found.contains).toDouble / planted.size
    }
    val rChosen = recall(Dedup.minhashLshPairs(docs, b, r))
    val rFixed = recall(Dedup.minhashLshPairs(docs, 16, 4))
    assert(rChosen > rFixed,
      s"chosen ($b,$r) recall $rChosen <= fixed 16x4 recall $rFixed")
    assert(rChosen >= 0.5, s"chosen recall unexpectedly low: $rChosen")
  }

  test("bpeMerges learns the textbook merges; bpeSegment tokenizes with them") {
    import spark.implicits._
    // Sennrich et al. 2016's running example: {low×5, lower×2,
    // newest×6, widest×3}. Hand-derived merge sequence under the
    // (count DESC, pair ASC) tie-break:
    //   es(9) est(9) lo(7) low(7) ew(6) ewest(6)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Bpe.bpeMerges(docs, 6)
      .select("t_left", "t_right", "pair_count")
      .as[(String, String, Long)].collect().toSeq
    assert(merges === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L),
      ("lo", "w", 7L), ("e", "w", 6L), ("ew", "est", 6L)))
    // feed the LEARNED vocabulary into tokenization: BPE-proper
    // inference replays the merges in order on an unseen word
    val seg = Bpe.bpeSegment(Seq("lowest", "newer", "low").toDF("word"),
      merges.map(m => (m._1, m._2)))
      .as[(String, Seq[String], Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(seg("lowest") === Seq("low", "est"))
    assert(seg("newer") === Seq("n", "ew", "e", "r"))
    assert(seg("low") === Seq("low"))
  }

  test("qualityClassifier: planted fluent doc keeps, repetitive doc drops, unknown scores 0") {
    import spark.implicits._
    val docs = Seq(
      // function-word-led bigrams (6 positive markers, offline score +3e6)
      (1L, "the fast a small the data a value the batch a merge"),
      // repeated-word bigrams (4 negative markers, offline score -4e6)
      (2L, "batch batch batch batch window window window slow slow"),
      // out-of-model bigrams — every bucket unweighted, score exactly 0
      (3L, "x1 x2 x3 x4")).toDF("doc_id", "text")
    val r = TrainingData.qualityClassifier(docs).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getLong(2) === 3000000L && r(1L).getBoolean(4))
    assert(r(2L).getLong(2) === -4000000L && !r(2L).getBoolean(4))
    assert(r(3L).getLong(2) === 0L && !r(3L).getBoolean(4))
  }

  test("kernel-shaping args are guarded: wrong arity / non-literal fail with a named error") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((1L, "hello world of winnowing tests")).toDF("doc_id", "text")
    // wrong arity
    val e1 = intercept[Exception] {
      df.select(expr("winnow_fps(text, 8)")).collect()
    }
    assert(e1.getMessage.contains("winnow_fps requires exactly 3 arguments"),
      s"got: ${e1.getMessage}")
    // non-foldable kernel argument
    val e2 = intercept[Exception] {
      df.select(expr("winnow_fps(text, doc_id, 8)")).collect()
    }
    assert(e2.getMessage.contains("foldable integer literal"), s"got: ${e2.getMessage}")
    // minhash_agg shares the guard
    val e3 = intercept[Exception] {
      df.select(expr("minhash_agg(doc_id)")).collect()
    }
    assert(e3.getMessage.contains("minhash_agg requires exactly 2 arguments"),
      s"got: ${e3.getMessage}")
    // the guarded happy path still runs
    assert(df.select(expr("winnow_fps(text, 8, 4)")).count() === 1L)
  }

  test("orderCountDistribution: zero-order customers survive the outer join") {
    import spark.implicits._
    import graft.operators.Relational
    val customer = Seq(1L, 2L, 3L, 4L).toDF("c_custkey")
    val orders = Seq(
      (101L, 1L, "1-URGENT"), (102L, 1L, "5-LOW"),
      (103L, 2L, "4-NOT SPECIFIED"), // excluded -> cust 2 counts as zero
      (104L, 3L, "2-HIGH"), (105L, 3L, "3-MEDIUM"), (106L, 3L, "1-URGENT")
    ).toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val got = Relational.orderCountDistribution(customer, orders)
      .as[(Long, Long)].collect().toSeq
    // counts per customer: 1->2, 2->0, 3->3, 4->0
    // distribution sorted custdist DESC, c_count DESC: (0,2),(3,1),(2,1)
    assert(got === Seq((0L, 2L), (3L, 1L), (2L, 1L)))
  }

  test("disjunctiveRevenue: each OR branch contributes, non-matches don't") {
    import spark.implicits._
    import graft.operators.Relational
    val part = Seq(
      (1L, "Brand#12", 3, 950.0), (2L, "Brand#23", 8, 950.0),
      (3L, "Brand#7", 12, 950.0), (4L, "Brand#12", 40, 950.0) // size out
    ).toDF("p_partkey", "p_brand", "p_size", "p_retailprice")
    val lineitem = Seq(
      (1L, 5.0, 1000.0, 0.1),  // branch 1: qty in [1,11]
      (1L, 15.0, 1000.0, 0.1), // branch 1 qty out -> dropped
      (2L, 15.0, 2000.0, 0.0), // branch 2
      (3L, 25.0, 3000.0, 0.5), // branch 3
      (4L, 5.0, 9999.0, 0.0)   // part size out -> dropped
    ).toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val got = Relational.disjunctiveRevenue(lineitem, part)
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("Brand#12", 1L, 900.0), ("Brand#23", 1L, 2000.0),
      ("Brand#7", 1L, 1500.0)))
  }

  test("skewProfile: exact counts, ppm shares and distribution stats") {
    import spark.implicits._
    import graft.operators.Skew
    val events = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .toDF("user_id")
    val got = Skew.skewProfile(events, "user_id", k = 2).collect()
    assert(got.length === 2)
    val top = got.head
    assert(top.getAs[String]("user_id") === "a")
    assert(top.getAs[Long]("cnt") === 5L)
    assert(top.getAs[Long]("share_ppm") === 500000L) // floor(5e6/10)
    assert(top.getAs[Long]("n_keys") === 4L)
    assert(top.getAs[Long]("n_rows") === 10L)
    assert(top.getAs[Long]("max_cnt") === 5L)
    // counts sorted: [1,1,3,5] -> p50 interpolated = 2.0, p99 = 4.94
    assert(top.getAs[Double]("p50_cnt") === 2.0)
    assert(top.getAs[Double]("p99_cnt") === 4.94)
    assert(top.getAs[Double]("skew_ratio") === 2.5)
    assert(got(1).getAs[String]("user_id") === "b")
    assert(got(1).getAs[Long]("share_ppm") === 300000L)
  }

  test("hilbertLayout: corners pin the curve's endpoints; the full grid " +
      "rolls to exact 16x16 subsquares") {
    import spark.implicits._
    import graft.operators.Layout
    // corner check: identity quantizers as in the Morton spec; the
    // order-8 curve starts at (0,0), ends at (255,0), and visits the
    // other corners at exactly 1/3 and 2/3 of its length
    val corners = Seq(
      (1L, 0, 0.0), (2L, 255, 0.0), (3L, 0, 25.5), (4L, 255, 25.5)
    ).toDF("p_partkey", "p_size", "p_retailprice")
    val got = Layout.hilbertLayout(corners)
      .select("cell", "h_lo", "n_parts").as[(Long, Long, Long)]
      .collect().toSeq
    // (sx,sy)=(0,0)->0; (0,255)->21845; (255,255)->43690; (255,0)->65535
    assert(got === Seq((0L, 0L, 1L), (85L, 21845L, 1L),
      (170L, 43690L, 1L), (255L, 65535L, 1L)))
    // structural check over ALL 65536 grid points: every aligned run of
    // 256 curve positions is one complete 16x16 subsquare (h-range
    // exactly [cell*256, cell*256+255], both raw spans exactly 15) —
    // the locality guarantee a file written per cell inherits
    val grid = spark.range(65536).selectExpr("id AS p_partkey",
      "CAST(id DIV 256 AS INT) AS p_size", "(id % 256) / 10.0 AS p_retailprice")
    val cells = Layout.hilbertLayout(grid)
      .selectExpr("count(*) AS n_cells",
        "count_if(n_parts = 256) AS full",
        "count_if(h_lo = cell * 256 AND h_hi = cell * 256 + 255) AS contig",
        "count_if(size_hi - size_lo = 15) AS sz_ok",
        "count_if(round((price_hi - price_lo) * 10) = 15) AS pr_ok")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(cells === ((256L, 256L, 256L, 256L, 256L)))
  }

  test("compactionPlan: ceil-div file counts, byte shares, merge flags") {
    import spark.implicits._
    import graft.operators.Layout
    import java.sql.Timestamp
    // declared estimator: 32 + len("O") + len("1-URGENT") = 41 bytes/row
    val mk = (n: Int, month: String) => Seq.tabulate(n)(i =>
      (i.toLong, Timestamp.valueOf(s"$month-05 00:00:00"), "O", "1-URGENT"))
    val orders = (mk(3, "2024-01") ++ mk(100, "2024-02"))
      .toDF("o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority")
    val got = Layout.compactionPlan(orders, targetBytes = 4096L)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    // Jan: 123 B -> 1 file, 3 rows/file, merge candidate (123*4 < 4096)
    // Feb: 4100 B -> ceil = 2 files, 50 rows/file, not a candidate
    val tot = 123L + 4100L
    assert(got === Seq(
      (202401L, 3L, 123L, 1L, 3L, 123L * 1000000L / tot, true),
      (202402L, 100L, 4100L, 2L, 50L, 4100L * 1000000L / tot, false)))
  }

  test("pruneSimulation: corner cells classify pruned/full on both dims") {
    import spark.implicits._
    import graft.operators.Layout
    // identity quantizers; each corner is its own single-point cell
    val part = Seq(
      (1L, 0, 0.0), (2L, 255, 0.0), (3L, 0, 25.5), (4L, 255, 25.5)
    ).toDF("p_partkey", "p_size", "p_retailprice")
    // size pred [0,100]: sz=0 cells full, sz=255 cells pruned;
    // price pred [0,127] tenths: pr=0 full, pr=255 pruned
    val got = Layout.pruneSimulation(part, sizeLo = 0, sizeHi = 100,
        priceTenthsLo = 0, priceTenthsHi = 127)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("price", "full", 2L, 2L, 500000L), ("price", "pruned", 2L, 2L, 500000L),
      ("size", "full", 2L, 2L, 500000L), ("size", "pruned", 2L, 2L, 500000L)))
  }

  test("distinctApproxContract: exact anchors, sketch verdict holds") {
    import spark.implicits._
    import graft.operators.Relational
    // type a: 3 distinct users over 6 rows; type b: 1 distinct over 2
    val events = Seq(
      ("a", 1L), ("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L), ("a", 3L),
      ("b", 9L), ("b", 9L)
    ).toDF("event_type", "user_id")
    val got = Relational.distinctApproxContract(events)
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(("a", 6L, 3L, true), ("b", 2L, 1L, true)))
  }

  test("audioEnergy: signed PCM decode from bytes, exact frame split") {
    import spark.implicits._
    import graft.operators.Multimodal
    // unit level: a hand-built WAV whose first sample is 0x8000 — the
    // most negative 16-bit value; the text path can never produce a
    // high byte ≥ 0x80, so the sign branch is pinned here
    val neg = Multimodal.parseAudioEnergy(0L,
      Multimodal.encodeMedia(0L, Array[Byte](0x00, 0x80.toByte, 0x01, 0x00)))
    assert(neg === Multimodal.AudioEnergyOut(0L, 1L,
      32768L * 32768L + 1L, 32768L * 32768L + 1L, 32768L))
    // end-to-end: "AB"*65 = 130 bytes = 65 values of 65+66*256 = 16961.
    // doc 2 is STEREO (channels = 1+(id/2)%2): 32-block frames hold 64
    // interleaved values -> frames of 64/1; doc 8 is mono -> 32/32/1
    val v = 65L + 66L * 256L
    val docs = Seq((2L, "AB" * 65), (8L, "AB" * 65), (3L, "AB" * 65), (4L, "A"))
      .toDF("doc_id", "text")
    val got = Multimodal.audioEnergy(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 3 is odd (BMP half), doc 4 has no full sample: both excluded
    assert(got === Seq((2L, 2L, 65L * v * v, 64L * v * v, v),
      (8L, 3L, 65L * v * v, 32L * v * v, v)))
  }

  test("layoutCompare: Hilbert has zero seams on the full grid, Morton does not") {
    import spark.implicits._
    import graft.operators.Layout
    val grid = spark.range(65536).selectExpr("id AS p_partkey",
      "CAST(id DIV 256 AS INT) AS p_size", "(id % 256) / 10.0 AS p_retailprice")
    val got = Layout.layoutCompare(grid)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val Seq(h, z) = got
    assert(h._1 === "hilbert" && z._1 === "zorder")
    assert(h._2 === 255L && z._2 === 255L) // 255 consecutive cell pairs
    // every consecutive Hilbert cell pair shares an envelope edge...
    assert(h._3 === 255L && h._4 === 1000000L && h._5 === 0L && h._6 === 0L)
    // ...while the Morton order jumps the Z seam (strictly fewer
    // zero-gap pairs, and at least one jump with a positive gap)
    assert(z._3 < 255L && z._6 > 0L)
  }

  test("zorderLayout: corner points interleave to the exact Morton codes") {
    import spark.implicits._
    import graft.operators.Layout
    // sizes span 0..255 and price-tenths span 0..255, so the quantizers
    // are identity and the four corners hit the exact Morton extremes
    val part = Seq(
      (1L, 0, 0.0), (2L, 255, 0.0), (3L, 0, 25.5), (4L, 255, 25.5)
    ).toDF("p_partkey", "p_size", "p_retailprice")
    val got = Layout.zorderLayout(part)
      .select("cell", "z_lo", "z_hi", "n_parts").as[(Long, Long, Long, Long)]
      .collect().toSeq
    // (sx,sy)=(0,0)->0; (255,0)->0x5555; (0,255)->0xAAAA; (255,255)->0xFFFF
    assert(got === Seq((0L, 0L, 0L, 1L), (85L, 21845L, 21845L, 1L),
      (170L, 43690L, 43690L, 1L), (255L, 65535L, 65535L, 1L)))
  }
}
