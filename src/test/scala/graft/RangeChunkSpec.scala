package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Bars, Indicators, RangeJoin, Relational, TextAnalysis, TrainingData}

/** Specs for the round-3 extension operators: range join (binned ≡
  * broadcast), document chunking, bloom decontamination, corpus heavy
  * hitters, quantiles, and pairwise correlation. */
class RangeChunkSpec extends SparkSpec {

  private def mkDocs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("binnedRange matches broadcastRange on overlapping bin-crossing intervals") {
    import spark.implicits._
    val points = Seq(("a", 0.5), ("a", 3.0), ("a", 9.99), ("b", 3.0), ("b", 25.0))
      .toDF("k", "p")
    // overlapping intervals, widths straddling several bins of width 2.5
    val intervals = Seq(("a", 0.0, 4.0, "i1"), ("a", 2.9, 10.0, "i2"),
        ("b", 3.0, 3.5, "i3"), ("b", 20.0, 30.0, "i4"), ("a", 11.0, 12.0, "i5"))
      .toDF("ik", "lo", "hi", "iv_id")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("p"), col("iv_id")).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    val bc = key(RangeJoin.broadcastRange(points, intervals, "p", "lo", "hi", Seq("k" -> "ik")))
    val bn = key(RangeJoin.binnedRange(points, intervals, "p", "lo", "hi", 2.5, Seq("k" -> "ik")))
    assert(bc === bn)
    assert(bc === Set(("a", 0.5, "i1"), ("a", 3.0, "i1"), ("a", 3.0, "i2"),
      ("a", 9.99, "i2"), ("b", 3.0, "i3"), ("b", 25.0, "i4")))
    // boundary semantics: lo inclusive, hi exclusive
    val edge = Seq(("a", 4.0)).toDF("k", "p")
    assert(key(RangeJoin.broadcastRange(edge, intervals, "p", "lo", "hi", Seq("k" -> "ik")))
      === Set(("a", 4.0, "i2")))
  }

  test("docChunk: starts at stride multiples, drops contained tail, md5s match recomputation") {
    val text1 = ('a' to 'z').mkString * 10 // 260 chars → chunks at 0, 150
    val text2 = "x" * 160                  // 160 chars → start 150 dropped (160 <= 150+50)
    val text3 = "y" * 210                  // 210 chars → starts 0, 150 (210 > 200)
    val docs = mkDocs(Seq((1L, text1, "s"), (2L, text2, "s"), (3L, text3, "s")))
    val out = TrainingData.docChunk(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("chunk_start"), r.getAs[Long]("chunk_len"), r.getAs[String]("chunk_md5")))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = Seq(
      (1L, 0L, 0L, 200L, md5hex(text1.substring(0, 200))),
      (1L, 1L, 150L, 110L, md5hex(text1.substring(150))),
      (2L, 0L, 0L, 160L, md5hex(text2)),
      (3L, 0L, 0L, 200L, md5hex(text3.substring(0, 200))),
      (3L, 1L, 150L, 60L, md5hex(text3.substring(150))))
    assert(out.toSeq.sorted === expected.sorted)
  }

  test("decontaminateBloom flags every exactly-contaminated doc (no false negatives)") {
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = mkDocs(Seq(
      (1L, benchText, "src0"),
      (2L, "unrelated words only here none shared at all", "src1"),
      (3L, "prefix alpha beta gamma delta epsilon suffix tail", "src1"), // shares a 5-gram
      (4L, "beta gamma delta epsilon zeta more words here", "src2"),     // shares a 5-gram
      (5L, "completely different content again nothing common", "src2")))
    val exact = TrainingData.decontaminate(docs).collect()
      .filter(_.getAs[Long]("is_contaminated") == 1L).map(_.getAs[Long]("doc_id")).toSet
    val bloom = TrainingData.decontaminateBloom(docs, expectedNgrams = 1000L).collect()
      .filter(_.getAs[Long]("is_contaminated") == 1L).map(_.getAs[Long]("doc_id")).toSet
    assert(exact === Set(3L, 4L))
    assert(exact.subsetOf(bloom), s"bloom missed ${exact -- bloom}")
    // at fpp=1% on this tiny set the bloom verdict should be exact too
    assert(bloom === exact)
  }

  test("topNgrams counts all occurrences and breaks ties on the n-gram") {
    val docs = mkDocs(Seq(
      (1L, "a b c a b c a b c", "s"), // "a b c"×3, "b c a"×2, "c a b"×2
      (2L, "a b c d", "s")))          // "a b c"×1, "b c d"×1
    val out = TextAnalysis.topNgrams(docs, n = 3, k = 3).collect()
      .map(r => (r.getAs[String]("ng"), r.getAs[Long]("n_occurrences")))
    assert(out.toSeq === Seq(("a b c", 4L), ("b c a", 2L), ("c a b", 2L)))
  }

  test("volumeQuantiles interpolates dyadic fractions exactly") {
    import spark.implicits._
    // volumes 1,2,3,4 → p25 = 1.75, p50 = 2.5, p75 = 3.25
    val bars = Seq(1L, 2L, 3L, 4L).zipWithIndex.map { case (v, i) =>
      ("A", Timestamp.valueOf(s"2024-01-02 10:0$i:00"), 1.0, 1.0, 1.0, 1.0, v, 1.0)
    }.toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val r = Indicators.volumeQuantiles(bars).collect().head
    assert(r.getAs[Double]("p25") === 1.75)
    assert(r.getAs[Double]("p50") === 2.5)
    assert(r.getAs[Double]("p75") === 3.25)
    assert(r.getAs[Long]("min_volume") === 1L && r.getAs[Long]("max_volume") === 4L)
  }

  test("dedupClusters equals an independent union-find over the LSH pair graph") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    // reference union-find
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = Dedup.dedupClusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical")))
      .toMap
    assert(got.keySet === expected.keySet)
    val sizes = expected.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    expected.foreach { case (id, root) =>
      val (cid, csz, canon) = got(id)
      assert(cid === root, s"doc $id")
      assert(csz === sizes(root))
      assert(canon === (id == root))
    }
    assert(pairs.nonEmpty, "test corpus should contain near-dup pairs")
  }

  test("windowRanks: exact ratios on a unique peer order") {
    import spark.implicits._
    val bars = Seq(10L, 20L, 30L, 40L).zipWithIndex.map { case (v, i) =>
      ("A", Timestamp.valueOf(s"2024-01-02 10:0$i:00"), 1.0, 1.0, 1.0, 1.0, v, 1.0)
    }.toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val out = Indicators.windowRanks(bars).collect()
      .map(r => (r.getAs[Long]("volume"), r.getAs[Long]("vol_decile"),
        r.getAs[Double]("vol_pct_rank"), r.getAs[Double]("vol_cume_dist"), r.getAs[Long]("vol_rank")))
    assert(out.toSeq === Seq(
      (10L, 1L, 0.0, 0.25, 1L), (20L, 2L, 1.0 / 3, 0.5, 2L),
      (30L, 3L, 2.0 / 3, 0.75, 3L), (40L, 4L, 1.0, 1.0, 4L)))
  }

  test("qualityFilter: each rule fires on its planted doc, clean doc kept") {
    val clean = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the green field where many other animals live quietly together"
    val docs = mkDocs(Seq(
      (1L, clean, "s"),
      (2L, "too few words here", "s"),                              // too_short
      (3L, "a b c d e f g h i j k l m n o p q r s t", "s"),         // word_len_bad (avg 1)
      (4L, "wow!!! such,,, punct... very;;; much::: more!!! yes... ok??? fine!!! done... end!!!", "s"), // punct_heavy
      (5L, ("spam ham " * 20).trim, "s")))                          // repetitive
    val out = TextAnalysis.qualityFilter(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Boolean]("too_short") && !out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Boolean]("word_len_bad") && !out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Boolean]("punct_heavy") && !out(4L).getAs[Boolean]("keep"))
    assert(out(5L).getAs[Boolean]("repetitive") && !out(5L).getAs[Boolean]("keep"))
  }

  test("connected components throw on a path graph longer than maxIter and converge at the default") {
    import spark.implicits._
    import graft.operators.Dedup
    // a 12-node path: min-label propagation needs 11 changing rounds
    // plus one that confirms the fixpoint
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ids = (1L to 12L).toDF("doc_id")
    val minLabel = intercept[IllegalStateException](
      Dedup.clusterLabelsFromPairs(pairs, ids, maxIter = 3))
    assert(minLabel.getMessage.contains("3 rounds"), minLabel.getMessage)
    assert(Dedup.clusterLabelsFromPairs(pairs, ids).collect()
      .forall(_.getAs[Long]("cluster_id") == 1L))
  }

  test("funnel enforces strict stage ordering per user") {
    import spark.implicits._
    def ev(id: Long, u: Long, t: String, typ: String) =
      (id, Timestamp.valueOf(t), u, typ, 1.0, "{}")
    val events = Seq(
      // u1: full ordered funnel
      ev(1, 1, "2024-01-01 10:00:00", "view"), ev(2, 1, "2024-01-01 10:01:00", "click"),
      ev(3, 1, "2024-01-01 10:02:00", "purchase"),
      // u2: click BEFORE the first view → click doesn't qualify
      ev(4, 2, "2024-01-01 09:00:00", "click"), ev(5, 2, "2024-01-01 10:00:00", "view"),
      // u3: purchase before the qualifying click → purchase doesn't qualify
      ev(6, 3, "2024-01-01 10:00:00", "view"), ev(7, 3, "2024-01-01 10:30:00", "purchase"),
      ev(8, 3, "2024-01-01 11:00:00", "click"),
      // u4: never views
      ev(9, 4, "2024-01-01 10:00:00", "error"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Relational.funnel(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("stage")).toMap
    assert(out === Map(1L -> "purchase", 2L -> "view", 3L -> "click", 4L -> "none"))
  }

  test("distinctiveTerms ranks rare-then-frequent with lexicographic ties") {
    val docs = mkDocs(Seq(
      (1L, "common common rare1 rare1 rare1 unique1", "s"),
      (2L, "common rare1 unique2 unique2", "s"),
      (3L, "common other", "s")))
    val out = TextAnalysis.distinctiveTerms(docs, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"))).toMap
    // doc1: unique1 df=1 beats rare1 df=2 beats common df=3
    assert(out((1L, 1L)) === (("unique1", 1L, 1L)))
    assert(out((1L, 2L)) === (("rare1", 3L, 2L)))
    // doc2: unique2 df=1, then rare1 df=2
    assert(out((2L, 1L)) === (("unique2", 2L, 1L)))
    assert(out((2L, 2L)) === (("rare1", 1L, 2L)))
    // doc3: other df=1, then common df=3
    assert(out((3L, 1L)) === (("other", 1L, 1L)))
    assert(out((3L, 2L)) === (("common", 1L, 3L)))
  }

  test("exportPlan composes its four stages faithfully") {
    import graft.operators.{Dedup, TrainingData}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TrainingData.exportPlan(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val keepQ = TextAnalysis.qualityFilter(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    spark.catalog.clearCache()
    val canon = Dedup.dedupClusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_canonical")).toMap
    val contam = TrainingData.decontaminate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("is_contaminated")).toMap
    val src = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(plan.keySet === src.keySet)
    plan.foreach { case (id, r) =>
      val expected = keepQ(id) && canon(id) &&
        contam.getOrElse(id, 0L) == 0L && src(id) != "src0"
      assert(r.getAs[Boolean]("final_keep") === expected, s"doc $id")
    }
    // the plan must actually separate docs (not all-keep / all-drop)
    val kept = plan.values.count(_.getAs[Boolean]("final_keep"))
    assert(kept > 0 && kept < plan.size)
  }

  test("priceCorr agrees with Spark's built-in corr to 4dp") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val bars = Bars.ohlcv(ev)
    val ours = Indicators.priceCorr(bars).collect()
      .map(r => ((r.getAs[String]("sym_a"), r.getAs[String]("sym_b")), r.getAs[Double]("corr")))
      .toMap
    val builtin = bars.select(col("symbol").as("sym_a"), col("bar_ts"), col("close").as("ca"))
      .join(bars.select(col("symbol").as("sym_b"), col("bar_ts"), col("close").as("cb")), Seq("bar_ts"))
      .filter(col("sym_a") < col("sym_b"))
      .groupBy(col("sym_a"), col("sym_b")).agg(corr(col("ca"), col("cb")).as("c"))
      .collect()
      .map(r => ((r.getAs[String]("sym_a"), r.getAs[String]("sym_b")), r.getAs[Double]("c")))
      .toMap
    assert(ours.keySet === builtin.keySet)
    ours.foreach { case (k, v) =>
      assert(math.abs(v - builtin(k)) < 5e-4, s"$k: $v vs ${builtin(k)}")
    }
  }
}
