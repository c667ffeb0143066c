package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Indicators, Relational}

/** Round-5 consolidation specs: the distributed exact-ntile device
  * behind q_rfm, the segmented skyline sweep, the compute-once
  * pair-graph API for the cluster family, and the mfi 0/0 rule. */
class Round5OpsSpec extends SparkSpec {

  private def mkEvents(rows: Seq[(Long, String, Long, String, Option[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, ts, uid, et, v) =>
      (id, Timestamp.valueOf(ts), uid, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** The single-partition window formulation rfmSegments replaced —
    * kept here as the semantic reference the distributed rank device
    * must match bit-for-bit. */
  private def rfmViaWindow(events: DataFrame): DataFrame = {
    val stats = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        coalesce(sum(col("value").cast("decimal(18,6)")),
          lit(0).cast("decimal(18,6)")).as("m_exact"))
    val r = ntile(4).over(Window.orderBy(col("last_us"), col("user_id")))
    val f = ntile(4).over(Window.orderBy(col("frequency"), col("user_id")))
    val m = ntile(4).over(Window.orderBy(col("m_exact"), col("user_id")))
    stats.select(col("user_id"), r.cast("long").as("r_score"),
      f.cast("long").as("f_score"), m.cast("long").as("m_score"))
  }

  private def assertRfmMatchesWindow(events: DataFrame): Unit = {
    val got = Relational.rfmSegments(events).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
          r.getAs[Long]("m_score"), r.getAs[String]("segment")))).toMap
    val exp = rfmViaWindow(events).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
          r.getAs[Long]("m_score")))).toMap
    assert(got.keySet === exp.keySet)
    exp.foreach { case (uid, (er, ef, em)) =>
      val (gr, gf, gm, seg) = got(uid)
      assert((gr, gf, gm) === ((er, ef, em)), s"user $uid")
      assert(seg === s"$er$ef$em", s"user $uid segment")
    }
  }

  test("rfm distributed ranks equal window ntile on the real event table") {
    assertRfmMatchesWindow(Tables.events(spark, sf()))
  }

  test("rfm distributed ranks equal window ntile when N is not divisible by 4") {
    // N = 6 users: ntile(4) buckets are front-loaded (2,2,1,1) — the
    // case where the even-division floor((r-1)·4/N)+1 formula differs
    // from ntile's rule, so this pins the exact bucket arithmetic.
    // user 6's purchases are all-NULL values (monetary sorts as 0).
    val ev = mkEvents(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "purchase", Some(10.0)),
      (2L, "2024-01-02 10:00:00", 2L, "purchase", Some(5.0)),
      (3L, "2024-01-02 11:00:00", 2L, "purchase", Some(5.0)),
      (4L, "2024-01-03 10:00:00", 3L, "purchase", Some(50.0)),
      (5L, "2024-01-04 10:00:00", 4L, "purchase", Some(1.0)),
      (6L, "2024-01-04 11:00:00", 4L, "purchase", Some(1.0)),
      (7L, "2024-01-04 12:00:00", 4L, "purchase", Some(1.0)),
      (8L, "2024-01-05 10:00:00", 5L, "purchase", Some(20.0)),
      (9L, "2024-01-06 10:00:00", 6L, "purchase", None),
      (10L, "2024-01-06 11:00:00", 7L, "view", Some(99.0)))) // not a purchase
    assertRfmMatchesWindow(ev)
  }

  test("rfm distributed ranks equal window ntile for N < buckets") {
    // N = 2 < 4: every user is their own bucket (q = 0 branch).
    val ev = mkEvents(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "purchase", Some(10.0)),
      (2L, "2024-01-02 10:00:00", 2L, "purchase", Some(20.0))))
    assertRfmMatchesWindow(ev)
  }

  test("skyline segmented sweep carries the running max across range segments") {
    import spark.implicits._
    // 20 distinct prices over 4 shuffle partitions → ~5 per segment.
    // Descending sizes: only the cheapest point is on the frontier, and
    // proving the LAST segment's points are killed requires the
    // carry-in from the FIRST segment (a local-only sweep would keep
    // each segment's first point).
    val desc = (1 to 20).map(i => (i.toLong, s"p$i", i.toDouble, (21 - i).toLong))
      .toDF("p_partkey", "p_name", "p_retailprice", "p_size")
    assert(Relational.skylineParts(desc).collect()
      .map(_.getAs[Long]("p_partkey")).toSeq === Seq(1L))
    // Ascending sizes: every point is on the frontier (each is bigger
    // than everything cheaper).
    val asc = (1 to 20).map(i => (i.toLong, s"p$i", i.toDouble, i.toLong))
      .toDF("p_partkey", "p_name", "p_retailprice", "p_size")
    assert(Relational.skylineParts(asc).collect()
      .map(_.getAs[Long]("p_partkey")).toSeq === (1L to 20L))
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", if (id % 2 == 0) "a" else "b", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("cluster family derives from ONE pair graph: FromPairs outputs equal standalone") {
    val d = Tables.documents(spark, sf())
    // compute-once: materialize the candidate pair graph a single time…
    val pairs = Dedup.dedupPairGraph(d).localCheckpoint(true)
    val ids = d.select(col("doc_id"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical"))
    // …and derive the cluster consumer from it.
    val labels = Dedup.dedupClustersFromPairs(pairs, ids)
    assert(labels.collect().map(key).sortBy(_._1).toSeq ===
      Dedup.dedupClusters(d).collect().map(key).toSeq)
  }

  test("rfm distributed ranks equal window ntile on randomized populations") {
    // Seeded random populations sized to straddle bucket boundaries and
    // carry heavy value ties (ties resolved by the user_id tiebreak in
    // BOTH formulations, so equality is exact, not probabilistic).
    val rnd = new scala.util.Random(42)
    for (n <- Seq(5, 23, 64)) {
      val rows = (1 to n).flatMap { uid =>
        (0 until 1 + rnd.nextInt(3)).map { k =>
          val day = 1 + rnd.nextInt(25)
          ((uid * 10 + k).toLong, f"2024-01-$day%02d 10:00:00", uid.toLong,
            "purchase",
            // value pool of 4 distinct values → massive m_exact ties
            Some((1 + rnd.nextInt(4)) * 5.0))
        }
      }
      assertRfmMatchesWindow(mkEvents(rows))
    }
  }

  test("skyline segmented sweep equals naive dominance on randomized points") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      // duplicate prices (pool of 15) with random sizes: exercises the
      // max-per-price collapse, intra-segment sweep, and carry together
      val pts = (1 to 60).map { i =>
        (i.toLong, s"p$i", (1 + rnd.nextInt(15)).toDouble, (1 + rnd.nextInt(20)).toLong)
      }
      val naive = pts.filter { case (_, _, price, sz) =>
        !pts.exists { case (_, _, p2, s2) =>
          p2 <= price && s2 >= sz && (p2 < price || s2 > sz) }
      }.map(_._1).toSet
      val out = Relational.skylineParts(
          pts.toDF("p_partkey", "p_name", "p_retailprice", "p_size"))
        .collect().map(_.getAs[Long]("p_partkey")).toSet
      assert(out === naive, s"trial $trial")
    }
  }

  test("mfi: a fully flat 14-bar window reports the neutral 50, not 100") {
    import spark.implicits._
    val bars = (0 until 20).map(i =>
      ("A", Timestamp.valueOf(f"2024-01-01 ${10 + i / 12}%02d:${(i % 12) * 5}%02d:00"),
        100.0, 100.0, 100.0, 100.0, 5L, 100.0))
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "vsum")
    val out = Indicators.mfi(bars).collect()
    assert(out.take(14).forall(_.isNullAt(2)))
    assert(out.drop(14).forall(_.getAs[Double]("mfi") === 50.0))
  }
}
