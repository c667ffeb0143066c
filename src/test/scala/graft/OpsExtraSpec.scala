package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{AsofJoin, Bars, Market, Relational, Skew, TextAnalysis}
import graft.sources.Sinks

class OpsExtraSpec extends SparkSpec {

  private def mkBars(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.map { case (sym, ts, c) =>
      (sym, Timestamp.valueOf(ts), c, c, c, c, 1L, c) }
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
  }

  test("marketHours: ET window, weekend, and MLK-holiday exclusion") {
    // 2024-01-16 14:30 UTC = 09:30 ET Tuesday  → in
    // 2024-01-16 21:00 UTC = 16:00 ET          → in (inclusive close)
    // 2024-01-16 21:05 UTC = 16:05 ET          → out
    // 2024-01-16 14:25 UTC = 09:25 ET          → out
    // 2024-01-13 15:00 UTC = Saturday          → out
    // 2024-01-15 15:00 UTC = MLK holiday       → out
    val b = mkBars(Seq(
      ("A", "2024-01-16 14:30:00", 1.0), ("A", "2024-01-16 21:00:00", 2.0),
      ("A", "2024-01-16 21:05:00", 3.0), ("A", "2024-01-16 14:25:00", 4.0),
      ("A", "2024-01-13 15:00:00", 5.0), ("A", "2024-01-15 15:00:00", 6.0)))
    val out = Market.marketHours(b).collect()
    assert(out.map(_.getAs[Double]("close")).toSet === Set(1.0, 2.0))
    assert(out.forall(_.getAs[String]("et_time") >= "09:30:00"))
  }

  test("eodMa5: rolling 5-day mean of last closes, merged to intraday rows") {
    // day1 last close 10, day2 last close 20, day3 last close 30
    val b = mkBars(Seq(
      ("A", "2024-01-02 10:00:00", 9.0), ("A", "2024-01-02 15:00:00", 10.0),
      ("A", "2024-01-03 10:00:00", 20.0),
      ("A", "2024-01-04 10:00:00", 29.0), ("A", "2024-01-04 15:00:00", 30.0)))
    val out = Market.eodMa5(b).collect()
      .map(r => (r.getAs[Timestamp]("bar_ts").toString, r.getAs[Double]("eod_ma5")))
      .toMap
    assert(out("2024-01-02 10:00:00.0") === 10.0)   // ma over {10}
    assert(out("2024-01-03 10:00:00.0") === 15.0)   // {10,20}
    assert(out("2024-01-04 15:00:00.0") === 20.0)   // {10,20,30}
  }

  test("missingReport: a day with two observed slots reports 77 missing") {
    // Tuesday 2024-01-16, ET slots 09:30 and 09:35 present (14:30/14:35 UTC)
    val b = mkBars(Seq(
      ("A", "2024-01-16 14:30:00", 1.0), ("A", "2024-01-16 14:35:00", 1.0)))
    val out = Market.missingReport(b).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_missing") === 77L)
    assert(out.head.getAs[String]("first_missing") === "09:40:00")
    assert(out.head.getAs[String]("last_missing") === "16:00:00")
  }

  test("sketch aggregates: HLL distinct within rsd bound, GK median within rank error") {
    val ev = Tables.events(spark, sf())
    val exact = Relational.countDistinct_(ev).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users")).toMap
    val medians = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("med")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("med")).toMap
    val approx = Relational.statsApprox(ev, rsd = 0.05).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val et = r.getAs[String]("event_type")
      val n = exact(et).toDouble
      assert(math.abs(r.getAs[Long]("n_users_approx") - n) / n <= 0.15,
        s"$et HLL error above 3x rsd")
      // GK sketch: quantile within epsilon rank error → value within the
      // central band of the distribution; assert within 10% of exact
      val m = medians(et)
      assert(math.abs(r.getAs[Double]("median_value_approx") - m) / m <= 0.10,
        s"$et median approx too far: ${r.getAs[Double]("median_value_approx")} vs $m")
    }
  }

  test("autoShards sizes shard count to the corpus, bounded both ways") {
    import graft.operators.TrainingData
    assert(TrainingData.autoShards(1000L) === 8)                 // floor
    assert(TrainingData.autoShards(100000000000L) === 1000)      // 1e11 tokens
    assert(TrainingData.autoShards(Long.MaxValue) === (1 << 20)) // cap
    // shardPack honors the computed count
    val d = (1 to 50).map(i => (i.toLong, s"w$i w$i", "en", "s", 0L))
    import spark.implicits._
    val df = d.toDF("doc_id", "text", "lang", "source", "n_chars")
    val shards = TrainingData.shardPack(df, shards = TrainingData.autoShards(1000L))
      .select("shard").distinct().count()
    assert(shards <= 8)
  }

  test("repetition signals: repeated phrase dominates, unique text scores low") {
    import spark.implicits._
    val d = Seq(
      (1L, ("spam ham " * 10).trim, "en", "s", 0L),          // one bigram path dominates
      (2L, (1 to 20).map(i => s"u$i").mkString(" "), "en", "s", 0L), // all unique
      (3L, "single", "en", "s", 0L))                          // no bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextAnalysis.repetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: 20 words, 2 distinct → dup_word_frac 0.9; "spam ham" appears
    // 10 times of 19 bigrams
    assert(out(1L).getAs[Double]("dup_word_frac") === 0.9)
    assert(out(1L).getAs[Long]("n_bigrams") === 19L)
    assert(out(1L).getAs[Double]("top_bigram_frac") === 0.5263)
    assert(out(2L).getAs[Double]("dup_word_frac") === 0.0)
    assert(out(2L).getAs[Double]("top_bigram_frac") === 0.0526)
    assert(out(3L).getAs[Long]("n_bigrams") === 0L)
    assert(out(3L).isNullAt(out(3L).fieldIndex("top_bigram_frac")))
  }

  test("validateOhlc drops inconsistent and non-positive bars") {
    import spark.implicits._
    val b = Seq(
      ("A", Timestamp.valueOf("2024-01-02 10:00:00"), 1.0, 2.0, 0.5, 1.5, 3L),
      ("A", Timestamp.valueOf("2024-01-02 10:05:00"), 1.0, 0.5, 2.0, 1.5, 3L),  // high < low
      ("A", Timestamp.valueOf("2024-01-02 10:10:00"), -1.0, 2.0, 0.5, 1.5, 3L), // open <= 0
      ("A", Timestamp.valueOf("2024-01-02 10:15:00"), 1.0, 2.0, 0.5, 1.5, 0L))  // volume <= 0
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume")
    val out = Bars.validateOhlc(b).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Timestamp]("bar_ts") === Timestamp.valueOf("2024-01-02 10:00:00"))
  }

  test("cosine_sim native expression: known values and zero-norm null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), "same"),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), "orth"),
      (Seq(1.0, 1.0), Seq(1.0, 1.0), "par"),
      (Seq(0.0, 0.0), Seq(1.0, 0.0), "zero"))
      .toDF("a", "b", "tag")
      .select(col("tag"), expr("cosine_sim(a, b)").as("cos"))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.get(r.fieldIndex("cos")))).toMap
    assert(df("same") === Some(1.0))
    assert(df("orth") === Some(0.0))
    assert(df("par").get.asInstanceOf[Double] > 0.9999)
    assert(df("zero") === None)
  }

  test("cosine_sim matches the fold-based computation on real embeddings") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val dotFold = aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
      lit(0.0), (a, x) => a + x)
    val n = e.select((expr("cosine_sim(v, v)") - lit(1.0)).as("d"),
        sqrt(dotFold).as("nrm"))
      .filter(col("nrm") > 0 && abs(col("d")) > 1e-12).count()
    assert(n === 0)
  }

  test("dist2 native expression is bit-identical to the zip_with fold") {
    GraftFunctions.register(spark)
    // real embeddings against a shifted copy of themselves: the fold
    // and the fused loop must agree on every BIT (the PQ/IVF oracle
    // parity depends on the identical left-to-right accumulation)
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("w", transform(col("v"), x => x * lit(1.5) - lit(0.25)))
    val fold = aggregate(zip_with(col("v"), col("w"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val mism = e.select(expr("dist2(v, w)").as("a"), fold.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mism === 0)
    // empty arrays, null input, and RAGGED lengths behave like the
    // fold: 0.0, NULL, and NULL (zip_with pads with nulls -> NULL sum)
    import spark.implicits._
    val edge = Seq((Seq.empty[Double], Some(Seq.empty[Double])),
      (Seq(1.0, 2.0), None),
      (Seq(1.0, 2.0), Some(Seq(1.0)))).toDF("a", "b")
      .select(expr("dist2(a, b)").as("d")).collect()
    assert(edge(0).getAs[Double]("d") === 0.0)
    assert(edge(1).isNullAt(0))
    assert(edge(2).isNullAt(0))
  }

  test("ngram_join native kernel equals the transform+concat_ws chain") {
    GraftFunctions.register(spark)
    // every document's token array, both formulations, n = 2, 3, 5, 10
    val base = Tables.documents(spark, sf())
      .select(split(trim(col("text")), "\\s+").as("wsarr"))
    for (n <- Seq(2, 3, 5, 10)) {
      val terms = (0 until n).map(i => s"wsarr[i+$i]").mkString(", ")
      val mism = base.filter(size(col("wsarr")) >= n)
        .select(expr(s"ngram_join(wsarr, $n)").as("a"),
          expr(s"transform(sequence(0, size(wsarr) - $n), i -> concat_ws(' ', $terms))").as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(mism === 0, s"n=$n")
    }
    // edges: exactly n tokens -> one gram; fewer -> empty; nulls skipped
    import spark.implicits._
    val edge = Seq((Seq("a", "b", "c"), 0)).toDF("w", "z")
      .select(expr("ngram_join(w, 3)").as("one"),
        expr("ngram_join(w, 4)").as("none"))
      .collect()(0)
    assert(edge.getSeq[String](0) === Seq("a b c"))
    assert(edge.getSeq[String](1) === Seq.empty)
  }

  test("poly_hash native kernel equals the per-character ascii fold") {
    GraftFunctions.register(spark)
    val mism = Tables.documents(spark, sf())
      .select(TextAnalysis.normText(col("text")).as("norm"))
      .select(expr("poly_hash(norm)").as("a"),
        expr("aggregate(sequence(1, length(norm)), CAST(0 AS BIGINT), " +
          "(acc, i) -> (acc * 31 + ascii(substring(norm, i, 1))) % 4294967296)").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mism === 0)
    // empty string hashes to 0 (the fold's sequence(1,0) quirk also
    // lands on 0), and the known value of "ab": (0*31+97)*31+98
    import spark.implicits._
    val v = Seq(("", "ab")).toDF("e", "ab")
      .select(expr("poly_hash(e)"), expr("poly_hash(ab)")).collect()(0)
    assert(v.getLong(0) === 0L)
    assert(v.getLong(1) === 97L * 31 + 98)
    // the kernel byte-walks UTF-8 directly: pin multi-byte sequences
    // (2-, 3- and 4-byte code points) against the ascii() fold too
    val mb = Seq(("héllo wörld", "日本語テキスト", "emoji 😀 mix é日😁"))
      .toDF("two", "three", "four")
    val folds = mb.select(
      expr("poly_hash(two)").as("a2"),
      expr("aggregate(sequence(1, length(two)), CAST(0 AS BIGINT), " +
        "(acc, i) -> (acc * 31 + ascii(substring(two, i, 1))) % 4294967296)").as("b2"),
      expr("poly_hash(three)").as("a3"),
      expr("aggregate(sequence(1, length(three)), CAST(0 AS BIGINT), " +
        "(acc, i) -> (acc * 31 + ascii(substring(three, i, 1))) % 4294967296)").as("b3"),
      expr("poly_hash(four)").as("a4"),
      expr("aggregate(sequence(1, length(four)), CAST(0 AS BIGINT), " +
        "(acc, i) -> (acc * 31 + ascii(substring(four, i, 1))) % 4294967296)").as("b4"))
      .collect()(0)
    assert(folds.getLong(0) === folds.getLong(1))
    assert(folds.getLong(2) === folds.getLong(3))
    assert(folds.getLong(4) === folds.getLong(5))
  }

  test("optimizer rule rewrites the declarative dot-product fold to DotProduct") {
    graft.functions.GraftExtensions.install(spark)
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"),
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("dot"))
    assert(e.queryExecution.optimizedPlan.toString.toLowerCase.contains("dot_product"))
    // rewritten result must equal a driver-side recomputation
    val rows = e.limit(5).collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("dot")).toMap
    val raw = Tables.embeddings(spark, sf()).limit(100).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)).toMap
    rows.foreach { case (id, dot) =>
      val v = raw(id)
      val expected = v.zip(v).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - expected) < 1e-9)
    }
  }

  test("saltedJoin equals the plain join") {
    val orders = Tables.orders(spark, sf())
    val customer = Tables.customer(spark, sf())
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", "o_orderkey")
    assert(salted.count() === plain.count())
    assert(plain.exceptAll(salted.select(plain.columns.map(col): _*)).count() === 0)
  }

  test("asof join picks the latest bar at-or-before each event") {
    import spark.implicits._
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:06:00"), 1L, "A", 5.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 09:59:00"), 1L, "A", 6.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val bars = Seq(
      ("A", Timestamp.valueOf("2024-01-01 10:00:00"), 1.0, 2.0, 0.5, 1.5, 3L, 4.5),
      ("A", Timestamp.valueOf("2024-01-01 10:05:00"), 2.0, 3.0, 1.5, 2.5, 2L, 5.0))
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val out = AsofJoin.eventsToLastBar(events, bars).orderBy("event_id").collect()
    assert(out(0).getAs[Double]("last_bar_close") === 2.5) // 10:06 → 10:05 bar
    assert(out(0).getAs[String]("symbol") === "A")
    assert(out(1).isNullAt(out(1).fieldIndex("last_bar_close"))) // before first bar
  }

  test("asof join matches per-row lookup on real data") {
    val ev = Tables.events(spark, sf()).limit(50)
    val bars = Bars.ohlcv(Tables.events(spark, sf()))
    val out = AsofJoin.eventsToLastBar(Tables.events(spark, sf()), bars)
    // every event inside some bar must see a close (its own bucket's bar
    // starts at-or-before it)
    assert(out.filter(col("last_bar_close").isNull).count() === 0)
  }

  test("sinks: partitioned dual-write round-trips and prunes by partition") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val events = Tables.events(spark, sf())
    val bars = Bars.ohlcv(events)
    Sinks.dualWrite(events, bars, tmp)
    val raw = spark.read.parquet(s"$tmp/raw")
    assert(raw.count() === events.count())
    val one = spark.read.parquet(s"$tmp/raw").filter(col("event_type") === "click")
    assert(one.count() === events.filter(col("event_type") === "click").count())
    val proc = spark.read.parquet(s"$tmp/processed")
    assert(proc.count() === bars.count())
  }

  test("sinks: csv and json round-trip row counts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink2").toString
    val docs = Tables.documents(spark, sf()).select("doc_id", "lang", "n_chars")
    Sinks.writeCsv(docs, s"$tmp/csv")
    Sinks.writeJson(docs, s"$tmp/json")
    assert(Sinks.readCsv(spark, s"$tmp/csv").count() === docs.count())
    assert(Sinks.readJson(spark, s"$tmp/json").count() === docs.count())
  }

  test("sinks: orc round-trips values and pushes scan filters down") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val docs = Tables.documents(spark, sf()).select("doc_id", "lang", "n_chars")
    Sinks.writeOrc(docs, s"$tmp/orc")
    val back = Sinks.readOrc(spark, s"$tmp/orc")
    assert(back.count() === docs.count())
    assert(back.agg(sum(col("n_chars"))).head().getLong(0) ===
      docs.agg(sum(col("n_chars"))).head().getLong(0))
    val filtered = back.filter(col("doc_id") < 100)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(doc_id,100)"),
      s"ORC scan should push the range predicate:\n$plan")
    assert(filtered.count() === docs.filter(col("doc_id") < 100).count())
  }

  test("writeSized controls the output file count; writeClustered gives disjoint key ranges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val ev = Tables.events(spark, sf())
    val n = ev.count()
    Sinks.writeSized(ev, s"$tmp/sized", rowsPerFile = (n / 4) + 1)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(parquetFiles(s"$tmp/sized").length === 4)
    assert(spark.read.parquet(s"$tmp/sized").count() === n)

    Sinks.writeClustered(ev, s"$tmp/clustered", nFiles = 4, "user_id")
    val ranges = parquetFiles(s"$tmp/clustered").map { f =>
      val r = spark.read.parquet(f).agg(min(col("user_id")), max(col("user_id"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.nonEmpty && ranges.length <= 4)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping file ranges: ${ranges.toSeq}")
      case _ =>
    }
    assert(spark.read.parquet(s"$tmp/clustered").count() === n)
  }

  test("incremental ingest keeps exactly the not-yet-ingested rows") {
    val ev = Tables.events(spark, sf())
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
    val out = Relational.incrementalIngest(ev, ev.filter(col("ts") < cutoff))
    assert(out.count() === ev.filter(col("ts") >= cutoff).count())
  }

  test("Ema.unpersistAll releases every segmented-scan cache entry") {
    import graft.operators.{Bars, Ema, SegmentedWindows}
    Ema.unpersistAll()
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty)
    val bars = Bars.ohlcv(Tables.events(spark, sf()))
    // the segmented SMA persists its range-partitioned bars through
    // Ema.persistTracked (the EMA folds themselves persist nothing)
    val first = SegmentedWindows.smaSegmented(bars).collect()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "smaSegmented should persist its intermediates while in use")
    Ema.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty,
      "unpersistAll must drain the registry")
    // a released query still recomputes correctly
    assert(SegmentedWindows.smaSegmented(bars).collect().map(_.toSeq) === first.map(_.toSeq))
    Ema.unpersistAll()
  }

  test("vec_mean6 native aggregate equals per-dim round(avg, 6)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      ("a", Seq(1.0, -0.0000001, 2.5)),
      ("a", Seq(2.0, 0.0000002, 3.5)),
      ("b", Seq(10.0, 0.1234567, -4.0)))
      .toDF("k", "v")
    val fused = df.groupBy(col("k")).agg(expr("vec_mean6(v)").as("cv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val exploded = df.select(col("k"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("k"), col("d")).agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("k"))
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
      .select(col("k"), expr("transform(dm, s -> s.m)").as("cv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(fused === exploded)
  }

  test("fetchGuard: stale symbols are fetched, fresh ones skipped") {
    import spark.implicits._
    val ev = Seq(
      // AAA last seen 90 min before asOf -> stale; BBB 10 min -> fresh
      (1L, java.sql.Timestamp.valueOf("2024-01-30 22:30:00"), 1L, "AAA", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-30 23:50:00"), 1L, "BBB", 1.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-30 20:00:00"), 1L, "BBB", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Relational.fetchGuard(ev, asOf = "2024-01-31 00:00:00",
        staleMinutes = 30).collect()
      .map(r => r.getAs[String]("symbol") ->
        (r.getAs[Long]("age_min"), r.getAs[Boolean]("should_fetch"))).toMap
    assert(out("AAA") === (90L, true))
    assert(out("BBB") === (10L, false)) // watermark = max ts, not min
    // consistency with the latestTs watermark on real data
    val real = Tables.events(spark, sf())
    val wm = Relational.latestTs(real).collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[java.sql.Timestamp]("latest_ts")).toMap
    Relational.fetchGuard(real).collect().foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("latest_ts") ===
        wm(r.getAs[String]("symbol")))
    }
  }

  test("typed TopKAgg aggregator equals the window top-k exactly") {
    val orders = Tables.orders(spark, sf())
    val win = Relational.topkPerGroup(orders).collect().toSeq
    val agg = Relational.topkPerGroupAgg(orders).collect().toSeq
    assert(agg.map(_.toSeq) === win.map(_.toSeq))
  }

  test("gapFill produces a complete grid with ffill/bfill semantics") {
    import spark.implicits._
    val bars = Seq(
      ("A", Timestamp.valueOf("2024-01-01 10:00:00"), 1.0, 2.0, 0.5, 1.5, 2L, 3.0),
      ("A", Timestamp.valueOf("2024-01-01 10:15:00"), 2.0, 3.0, 1.5, 2.5, 1L, 2.5))
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val out = Bars.gapFill(bars).orderBy("bar_ts").collect()
    assert(out.length === 4) // 10:00, :05, :10, :15
    assert(out(1).getAs[Long]("is_gap") === 1L)
    assert(out(1).getAs[Double]("close_ffill") === 1.5) // carried forward
    assert(out(1).getAs[Double]("close_bfill") === 2.5) // carried backward
    assert(out(1).getAs[Long]("volume_filled") === 0L)
    assert(out(3).getAs[Long]("is_gap") === 0L)
  }

  test("bucketed tables join without a shuffle exchange") {
    val orders = Tables.orders(spark, sf())
    val customer = Tables.customer(spark, sf())
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      assert(j.count() === orders.join(customer,
        col("o_custkey") === col("c_custkey")).count())
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("decontaminate flags a doc overlapping the benchmark set") {
    import spark.implicits._
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val dirty = "prefix words alpha beta gamma delta epsilon more words"
    val clean = "one two three four five six seven eight nine"
    val docs = Seq(
      (1L, bench, "en", "src0", bench.length.toLong),
      (2L, dirty, "en", "srcX", dirty.length.toLong),
      (3L, clean, "en", "srcX", clean.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TrainingData.decontaminate(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("is_contaminated")).toMap
    assert(out === Map(2L -> 1L, 3L -> 0L))
  }

  test("redact finds planted emails and long numbers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at alice@example.com or 5551234 now", "en", "s", 1L),
      (2L, "no pii here just words and 42", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TrainingData.redact(docs).collect()
    assert(out(0).getAs[Long]("n_emails") === 1L)
    assert(out(0).getAs[Long]("n_numbers") === 1L)
    assert(out(1).getAs[Long]("n_emails") === 0L)
    assert(out(1).getAs[Long]("n_numbers") === 0L)
  }

  test("shardPack: packs respect the token budget per shard stream") {
    val out = graft.operators.TrainingData.shardPack(
      Tables.documents(spark, sf()), shards = 4, packTokens = 500)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val checked = out.withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("start", col("cum") - col("tokens"))
      .filter(expr("pack_id <> (start div 500)"))
    assert(checked.count() === 0)
    // deterministic: same input → same assignment
    val again = graft.operators.TrainingData.shardPack(
      Tables.documents(spark, sf()), shards = 4, packTokens = 500)
    assert(out.exceptAll(again).count() === 0)
  }

  test("trainSplit is a stable ~90/10 partition") {
    val out = graft.operators.TrainingData.trainSplit(Tables.documents(spark, sf()))
    val frac = out.filter(col("split") === "train").count().toDouble / out.count()
    assert(frac > 0.8 && frac < 0.97)
  }

  test("approx_count_distinct tracks exact counts within rsd") {
    val ev = Tables.events(spark, sf())
    val both = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .collect()
    both.foreach { r =>
      val e = r.getAs[Long]("exact").toDouble
      assert(math.abs(r.getAs[Long]("approx") - e) / e < 0.1)
    }
  }

  test("operators tolerate empty inputs (no crash, empty output)") {
    import spark.implicits._
    import graft.operators._
    val bars0 = Seq.empty[(String, Timestamp, Double, Double, Double, Double, Long, Double)]
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val docs0 = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val emb0 = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ev0 = Seq.empty[(Long, Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val outputs = Seq(
      Indicators.sma(bars0), Indicators.mfi(bars0), Indicators.donchian(bars0),
      Indicators.candlePatterns(bars0), Indicators.pivotPoints(bars0),
      Indicators.iqrOutliers(bars0), Indicators.drawdown(bars0),
      Ema.macd(bars0),
      Dedup.exactDocs(docs0), Dedup.minhashLshPairs(docs0),
      Dedup.dedupClusters(docs0), Dedup.segDedup(docs0),
      TextAnalysis.quality(docs0), TextAnalysis.invertedIndex(docs0),
      TextAnalysis.keywordSearch(docs0), TextAnalysis.stratifiedSample(docs0),
      TrainingData.temperatureMix(docs0), TrainingData.packEfficiency(docs0),
      TrainingData.docChunk(docs0), TrainingData.decontaminate(docs0),
      Similarity.embedQuantize(emb0), Similarity.pqCodes(emb0),
      Similarity.annPq(emb0), Similarity.annBruteforce(emb0),
      Relational.attribution(ev0),
      Relational.sessionize(ev0), Relational.cohortRetention(ev0))
    outputs.foreach { df => assert(df.count() === 0L) }
    // profileEvents is the one fixed-shape report: 6 metadata rows
    assert(Relational.profileEvents(ev0).count() === 6L)
    Ema.unpersistAll()
  }

  test("tokenize: hand-checked greedy longest-match, UNK, and empty text") {
    import spark.implicits._
    // "table" → ta|b|le = 3, "join" → no unit covers 'j' → UNK,
    // "stream" → st|ream = 2, "value" → val|ue = 2, case-folds,
    // punctuation separates, digits are singles
    val docs = Seq(
      (1L, "Table JOIN stream, value!"),
      (2L, "a42"),
      (3L, ""),
      (4L, "   ...   ")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenize(docs).collect()
    val m = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(m(1L) === ((4L, 8L, 1L, 0.25)))   // 3 + 1(UNK) + 2 + 2 tokens
    assert(m(2L) === ((1L, 3L, 0L, 0.0)))    // a|4|2
    assert(m(3L) === ((0L, 0L, 0L, 0.0)))
    assert(m(4L) === ((0L, 0L, 0L, 0.0)))
  }

  test("vocabCoverage equals the per-doc tokenize stats rolled up by source") {
    val docs = Tables.documents(spark, sf())
    val perDoc = TextAnalysis.tokenize(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_unk")))
      .toMap
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val expected = srcOf.groupBy(_._2).map { case (src, ids) =>
      val st = ids.keys.map(perDoc).toSeq
      src -> ((ids.size.toLong, st.map(_._1).sum, st.map(_._2).sum, st.map(_._3).sum))
    }
    val got = TextAnalysis.vocabCoverage(docs).collect()
    assert(got.map(_.getAs[String]("source")).toSet === expected.keySet)
    got.foreach { r =>
      val (nd, nw, nt, nu) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_words") === nw)
      assert(r.getAs[Long]("n_tokens") === nt)
      assert(r.getAs[Long]("n_unk") === nu)
      assert(r.getAs[Double]("fertility") >= 1.0 || nw == 0L)
    }
  }
}
