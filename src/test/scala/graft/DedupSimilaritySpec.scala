package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("dedupLatest keeps the min event_id per (symbol, ts)") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val df = Seq(
      (5L, ts, 1L, "A", 1.0), (2L, ts, 1L, "A", 2.0),
      (9L, ts, 1L, "B", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Relational.dedupLatest(df).collect()
    assert(out.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"))).toSet ===
      Set(("A", 2L), ("B", 9L)))
  }

  test("substringDup finds cross-doc aligned anchors, skips short docs") {
    // 64-char text shared by docs 1 and 2 -> anchors at p = 1, 17, 33
    // (p <= 64-31=33); doc 3 differs, doc 4 is too short to contribute
    val base = ("The quick brown fox jumps over the lazy dog near a riverbank" +
      " at dawn").take(64)
    assert(base.length == 64)
    val out = Dedup.substringDup(docs(Seq(
      (1L, base), (2L, base), (3L, "z" * 64), (4L, "short")))).collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 2L)
      assert(r.getAs[Long]("min_doc") === 1L)
      assert(r.getAs[Long]("max_doc") === 2L)
      assert(r.getAs[String]("gram").length === 32)
    }
    val expected = Set(base.substring(0, 32), base.substring(16, 48),
      base.substring(32, 64))
    assert(out.map(_.getAs[String]("gram")).toSet === expected)
  }

  test("winnowFingerprints catches shared substrings at ANY offset") {
    // 40-char block shared by doc 1 (at offset 0) and doc 2 (at offset 7,
    // NOT a multiple of the 16-char stride) — substringDup's aligned
    // anchors miss it, winnowing's guarantee (shared run >= k+w-1 = 23)
    // must catch it. Doc 3 is unique, doc 4 too short to fingerprint.
    val shared = "The quick brown fox jumps over a lazy dog at dawn".take(40)
    assert(shared.length == 40)
    val in = docs(Seq(
      (1L, shared), (2L, "PREFIX-" + shared), (3L, "z" * 40), (4L, "tiny")))
    assert(Dedup.substringDup(in).collect().isEmpty) // stride sampler blind
    val out = Dedup.winnowFingerprints(in).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 2L)
      assert(r.getAs[Long]("min_doc") === 1L)
      assert(r.getAs[Long]("max_doc") === 2L)
    }
  }

  test("ngramContainment: identical docs hit 1.0; containment >= jaccard always") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val out = Dedup.ngramContainment(docs(Seq(
      (1L, base), (2L, base), (3L, (100 to 140).map(i => s"z$i").mkString(" ")))))
      .collect()
    val p12 = out.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(p12.isDefined, "identical docs must be banding candidates")
    assert(p12.get.getAs[Double]("containment") === 1.0)
    assert(p12.get.getAs[Double]("jaccard") === 1.0)
    // real corpus: m/min >= m/union for every emitted pair (the reason
    // the asymmetric measure exists), and every row clears the threshold
    val real = Dedup.ngramContainment(Tables.documents(spark, sf())).collect()
    real.foreach { r =>
      assert(r.getAs[Double]("containment") >= r.getAs[Double]("jaccard") - 1e-9)
      assert(r.getAs[Double]("containment") >= 0.5)
    }
  }

  test("exactDocs groups normalization-equivalent texts") {
    val d = docs(Seq(
      (1L, "Hello,   World!"), (2L, "hello world"), (3L, "totally different text")))
    val out = Dedup.exactDocs(d).collect()
    assert(out.length === 2)
    val dupRow = out.find(_.getAs[Long]("n_dups") === 2L).get
    assert(dupRow.getAs[Long]("keep_doc_id") === 1L)
  }

  test("ngram jaccard: identical adjacent docs score 1.0") {
    val text = "alpha beta gamma delta epsilon zeta"
    val d = docs(Seq((1L, text), (2L, text), (3L, "one two three four five six")))
    val out = Dedup.ngramJaccard(d).orderBy("doc_a").collect()
    assert(out(0).getAs[Double]("jaccard") === 1.0)   // 1 vs 2 identical
    assert(out(1).getAs[Double]("jaccard") === 0.0)   // 2 vs 3 disjoint
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extraword"
    val other = (100 to 140).map(i => s"zz$i").mkString(" ")
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    val pairs = Dedup.minhashLshPairs(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("LSH bucket cap bounds the pair explosion on a boilerplate-heavy corpus") {
    // 120 identical boilerplate docs put the whole corpus in one bucket
    // per band; the planted near-dup pair lives in small buckets
    val boiler = (1 to 120).map(i =>
      i.toLong -> (1 to 40).map(w => s"tpl$w").mkString(" "))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs(boiler ++ Seq(200L -> base, 201L -> (base + " extraword")))
    val capped = Dedup.minhashLshPairs(d, maxBucket = 32).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(capped.contains((200L, 201L)), "true near-dup must survive the cap")
    assert(!capped.exists(p => p._1 <= 120L && p._2 <= 120L),
      "oversized boilerplate buckets must be dropped")
    assert(capped.length < 32 * 32 / 2 * 16)
    val uncapped = Dedup.minhashLshPairs(d, maxBucket = 1 << 20).count()
    assert(uncapped >= 120L * 119 / 2, "without the cap the bucket is quadratic")
  }

  test("simhash block cap drops the hot block but keeps small-block dups") {
    val boiler = (1 to 120).map(i =>
      i.toLong -> (1 to 30).map(w => s"tpl$w").mkString(" "))
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(boiler ++ Seq(200L -> a, 201L -> a))
    val capped = Dedup.simhashPairs(d, maxDist = 0, maxBlock = 32).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(capped.toSet === Set((200L, 201L)))
    val uncapped = Dedup.simhashPairs(d, maxDist = 0, maxBlock = 1 << 20).count()
    assert(uncapped >= 120L * 119 / 2)
  }

  test("fused simhash aggregate equals the per-bit-sum formulation") {
    val d = Tables.documents(spark, sf())
    val fused = Dedup.simhash(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("simhash"), r.getAs[Long]("n_tokens"))).toMap
    // reference: the declarative 60-column per-bit vote sums
    val toks = d
      .select(col("doc_id"), explode(array_distinct(split(trim(col("text")), "\\s+"))).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
    val votes = (0 until 60).map(i =>
      sum(expr(s"(shiftright(h, $i) & 1) * 2 - 1")).as(s"s$i")) :+ count(lit(1)).as("n")
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*).collect().foreach { r =>
      val expected = (0 until 60).map(i =>
        if (r.getAs[Long](s"s$i") > 0) 1L << i else 0L).sum
      assert(fused(r.getAs[Long]("doc_id")) === ((expected, r.getAs[Long]("n"))))
    }
  }

  test("simhash multi-block index finds pairs differing only in top bits") {
    import spark.implicits._
    // Planted hashes: the single-prefix design (block = top 16 bits)
    // misses any pair differing in a high bit; the 4×15-bit pigeonhole
    // index must find every pair within hamming <= 3.
    val base = 0x0ABCDEF012345L // arbitrary 60-bit pattern
    val hashes = Seq(
      1L -> base,
      2L -> (base ^ (1L << 59) ^ (1L << 57)),         // top-block-only diff
      3L -> (base ^ (1L << 3) ^ (1L << 20) ^ (1L << 40)), // one bit in 3 blocks
      4L -> (base ^ 0x5555L))                          // hamming 8: too far
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsFromHashes(hashes).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)), "top-bit-only near-dup must be found")
    assert(pairs.contains((1L, 3L)), "spread 3-bit near-dup must be found")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // each reported pair appears once despite sharing multiple blocks
    val all = Dedup.simhashPairsFromHashes(hashes).collect()
    assert(all.length === all.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
  }

  test("simhash: identical docs at hamming 0, disjoint docs far apart") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    val d = docs(Seq((1L, a), (2L, a), (3L, b)))
    val pairs = Dedup.simhashPairs(d, maxDist = 0).collect()
    assert(pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet ===
      Set((1L, 2L)))
  }

  private def emb(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
  }

  test("brute-force ANN ranks by exact cosine") {
    // 64-dim: q = e0; near = 0.9*e0 + small e1; far = e1
    def v(main: Int, mainW: Float, minor: Int, minorW: Float): Seq[Float] =
      (0 until 64).map(i => if (i == main) mainW else if (i == minor) minorW else 0f)
    val d = emb(Seq(
      (0L, v(0, 1f, 1, 0f)),
      (1L, v(0, 9f, 1, 1f)),    // cos ≈ 0.9939
      (2L, v(0, 1f, 1, 3f)),    // cos ≈ 0.3162
      (3L, v(1, 1f, 2, 0f))))   // cos = 0
    val out = Similarity.annBruteforce(d, k = 3)
      .filter(col("q_id") === 0L).orderBy("rk").collect()
    assert(out.map(_.getAs[Long]("nn_id")).toSeq === Seq(1L, 2L, 3L))
    assert(out.head.getAs[Double]("cos") > 0.99)
  }

  test("embedNeardup flags near-identical vectors in the id band") {
    val base = (0 until 64).map(_.toFloat / 8f)
    val d = emb(Seq(
      (0L, base), (1L, base.map(_ * 2f)),          // cos = 1 (scaled copy)
      (2L, (0 until 64).map(i => if (i % 2 == 0) 1f else -1f))))
    val out = Similarity.embedNeardup(d, maxOffset = 10, threshold = 0.99).collect()
    assert(out.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet ===
      Set((0L, 1L)))
  }

  test("LSH near-dup finds a scaled copy at distant ids where the id-band cannot") {
    val base = (0 until 64).map(i => math.sin(i * 0.7).toFloat)
    val other = (0 until 64).map(i => math.cos(i * 1.3).toFloat)
    val d = emb(Seq(
      (20L, base), (470L, base.map(_ * 2f)),   // same direction, 450 ids apart
      (100L, other)))
    val lsh = Similarity.embedNeardupLsh(d, threshold = 0.99).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(lsh === Set((20L, 470L)))
    // the id-banded variant misses it by construction (offset > 10)
    val banded = Similarity.embedNeardup(d, maxOffset = 10, threshold = 0.99).count()
    assert(banded === 0L)
  }

  test("LSH ANN only pairs vectors in the same bucket and ranks by cosine") {
    val out = Similarity.annLsh(Tables.embeddings(spark, sf()), k = 3)
    val counts = out.groupBy("q_id").count().collect()
    assert(counts.forall(_.getAs[Long]("count") <= 3))
  }

  test("IVF ANN: every candidate shares the query's cell, at most k results") {
    val out = Similarity.annIvf(Tables.embeddings(spark, sf()), k = 3).collect()
    assert(out.nonEmpty)
    val counts = out.groupBy(_.getAs[Long]("q_id")).values.map(_.length)
    assert(counts.forall(_ <= 3))
    // rank 1 must have the highest cosine within each query group
    out.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.drop(1)).forall { case (a, b) => a >= b })
    }
  }

  test("multiprobe LSH: recall >= 0.6 vs brute ceiling, candidates <= ~10% of corpus") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val n = e.count()
    val bruteTop1 = Similarity.annBruteforce(e, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("nn_id")).toMap
    val annTop1 = Similarity.annLshMultiprobe(e, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("nn_id")).toMap
    val hits = bruteTop1.count { case (q, nn) => annTop1.get(q).contains(nn) }
    val recall = hits.toDouble / bruteTop1.size
    info(f"top-1 recall vs brute: $recall%.2f over ${bruteTop1.size} queries")
    assert(recall >= 0.6, f"recall $recall%.2f below 0.6")
    // candidate bound: distinct scored pairs stay a small corpus fraction
    val candPairs = Similarity.lshCandidatePairs(e, probed = true).count()
    val frac = candPairs.toDouble / (n * bruteTop1.size)
    info(f"candidate fraction: $frac%.3f")
    assert(frac <= 0.12, f"candidate fraction $frac%.3f above 0.12")
  }

  test("Lloyd-refined IVF: measured recall vs sampled centroids at sf0.01") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.annBruteforce(e, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("nn_id")).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val top = df.filter(col("rk") === 1).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("nn_id")).toMap
      brute.count { case (q, nn) => top.get(q).contains(nn) }.toDouble / brute.size
    }
    val plain = recall(Similarity.annIvf(e, k = 1))
    val lloyd = recall(Similarity.annIvfLloyd(e, k = 1, iters = 2))
    info(f"IVF recall: sampled=$plain%.2f lloyd=$lloyd%.2f")
    // Lloyd centroids cover the space better; allow one-query slack
    assert(lloyd >= plain - 1.0 / brute.size)
    assert(lloyd > 0.2)
  }

  test("IVF ANN: adaptive centroid count clamp(ceil(sqrt(N)), 32, 4096)") {
    // the centroid sample is LIMIT ivfKFor(N) by md5 order — structural
    // O(K) broadcast; spot-check the probe output references <= K cells
    val e = Tables.embeddings(spark, sf())
    val kc = Similarity.ivfKFor(e.count())
    val out = Similarity.annIvf(e, k = 3).collect()
    val cells = out.map(_.getAs[Long]("cell")).distinct
    assert(cells.length <= kc)
    // the clamp itself
    assert(Similarity.ivfKFor(100L) === 32)
    assert(Similarity.ivfKFor(10000L) === 100)
    assert(Similarity.ivfKFor(1000L * 1000 * 1000) === 4096)
  }

  test("trained PQ codebook lifts ADC recall over the sampled codebook") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.annBruteforce(e, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
      brute.map { case (q, s) =>
        got.getOrElse(q, Set.empty[Long]).intersect(s).size }.sum.toDouble /
        brute.map(_._2.size).sum
    }
    val sampled = recallOf(Similarity.annPq(e, k = 5).collect())
    val trained = recallOf(Similarity.annPqTrained(e, k = 5).collect())
    info(f"PQ recall@5: sampled=$sampled%.2f trained(2 iters)=$trained%.2f")
    // k-means training reduces per-subspace quantization error on ANY
    // distribution — measured 0.075 -> 0.188 here (0.313 at 4 iters)
    assert(trained >= sampled,
      f"trained PQ recall $trained%.2f below sampled $sampled%.2f")
    assert(trained >= 0.1, f"trained PQ recall $trained%.2f below 0.1")
  }

  test("annIvfPqFor: external query table equals the default bounded query set") {
    val e = Tables.embeddings(spark, sf())
    val q = e.filter(col("vec_id") < Similarity.QueryCount)
    val viaFor = Similarity.annIvfPqFor(e, q).collect()
      .map(r => (r.getLong(0), r.getLong(4)) -> r.getLong(1)).toMap
    val viaDefault = Similarity.annIvfPq(e).collect()
      .map(r => (r.getLong(0), r.getLong(4)) -> r.getLong(1)).toMap
    assert(viaFor === viaDefault)
  }

  test("IVF+PQ: routed ADC recall vs the brute ceiling, candidates never raw vectors") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.annBruteforce(e, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
      brute.map { case (q, s) =>
        got.getOrElse(q, Set.empty[Long]).intersect(s).size }.sum.toDouble /
        brute.map(_._2.size).sum
    }
    val recall = recallOf(Similarity.annIvfPq(e, k = 5).collect())
    val recallRes = recallOf(Similarity.annIvfPqResidual(e, k = 5).collect())
    info(f"IVF+PQ recall@5 vs brute cosine: raw=$recall%.2f residual=$recallRes%.2f")
    // routing shrinks candidates ~K/nprobe; the 4-bit codes are coarse,
    // so the floor is the annPq contract (>= random ~0.01), not annIvf's
    assert(recall >= 0.03, f"IVF+PQ recall $recall%.2f below 0.03")
    // Measured fact on THIS corpus: residual coding recalls ~half of
    // raw-space PQ (0.09 vs 0.18), and k-means-training the residual
    // codebook does NOT close the gap (0.088 either way): the synthetic
    // embeddings are near-uniform, so a residual is the difference of
    // two nearly-independent vectors — ~2x the per-subspace variance,
    // strictly harder to quantize at the same code budget regardless of
    // codeword placement. On a clustered real corpus the premise (and
    // the ordering) flips. The oracle row gates the pipeline's
    // exactness; this spec pins the variant above the random baseline
    // and documents the ordering so a data drop that flips it is
    // noticed.
    assert(recallRes >= 0.02, f"residual IVFADC recall $recallRes%.2f below 0.02")
    val recallResTrained =
      recallOf(Similarity.annIvfPqResidual(e, k = 5, trainIters = 2).collect())
    info(f"residual IVFADC trained(2): $recallResTrained%.2f")
    assert(recallResTrained >= 0.02)
  }

  test("exact re-ranking lifts IVF+PQ recall and beats the ADC ordering") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.annBruteforce(e, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
      brute.map { case (q, s) =>
        got.getOrElse(q, Set.empty[Long]).intersect(s).size }.sum.toDouble /
        brute.map(_._2.size).sum
    }
    val unrefined = recallOf(Similarity.annIvfPq(e, k = 5).collect())
    val rows = Similarity.annIvfPqRefine(e, k = 5).collect()
    val refined = recallOf(rows)
    info(f"recall@5 vs brute: unrefined=$unrefined%.2f refined=$refined%.2f")
    // the refine can only improve the ordering WITHIN the routed
    // candidate set (recall is bounded by IVF routing, not by ADC), so
    // the contract is refined >= unrefined — measured, not assumed
    assert(refined >= unrefined,
      f"refine lowered recall: $refined%.2f < $unrefined%.2f")
    // and the exact stage genuinely REORDERS: some returned row must
    // rank differently than its ADC shortlist position (on a corpus
    // where 4-bit ADC were already perfect this would be vacuous — at
    // sf0.01 it is not)
    assert(rows.exists(r => r.getAs[Long]("ark") != r.getAs[Long]("rk")),
      "exact re-rank never changed an ADC rank — refine is vacuous here")
  }

  test("graph ANN: recall monotone over its LSH entry beam and >= IVF+PQ-refine") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.annBruteforce(e, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
      brute.map { case (q, s) =>
        got.getOrElse(q, Set.empty[Long]).intersect(s).size }.sum.toDouble /
        brute.map(_._2.size).sum
    }
    val lsh = recallOf(Similarity.annLshMultiprobe(e, k = 5).collect())
    val graph = recallOf(Similarity.annGraph(e, k = 5).collect())
    val refine = recallOf(Similarity.annIvfPqRefine(e, k = 5).collect())
    info(f"recall@5 vs brute: lsh-multiprobe=$lsh%.3f graph=$graph%.3f ivfpq-refine=$refine%.3f")
    // monotone BY CONSTRUCTION: the beam (width 16 >= 2k) starts from the
    // multiprobe candidate set's best 16, so its top-5 equals the
    // entry-only top-5, and expansion rounds only ADD exact-scored
    // candidates — recall can never drop below the entry path
    assert(graph >= lsh, f"graph $graph%.3f below its own entry beam $lsh%.3f")
    // and the graph walk reaches candidates the compressed-index path
    // misses: measured >= the exact-re-ranked IVF+PQ at comparable
    // exact-distance budgets (refine: 32/query; graph: <= 16 + 16*8*2)
    assert(graph >= refine,
      f"graph recall $graph%.3f fell below IVF+PQ-refine $refine%.3f")
  }

  test("recall report (compute-once) equals the three public pipelines") {
    // annRecallReport shares ONE persisted ivfPqAdcFrame between the
    // ADC ranking and the refine shortlist; this proves the shared-index
    // path emits exactly what running annBruteforce + annIvfPq +
    // annIvfPqRefine back-to-back would report (the pre-refactor shape).
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val k = 5
    def idSet(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    val brute = idSet(Similarity.annBruteforce(e, k).collect())
    val adc = idSet(Similarity.annIvfPq(e, k).collect())
    val ref = idSet(Similarity.annIvfPqRefine(e, k).collect())
    val gra = idSet(Similarity.annGraph(e, k).collect())
    val report = Similarity.annRecallReport(e, k).collect()
    assert(report.map(_.getAs[Long]("q_id")).toSet === brute.keySet)
    report.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val b = brute(q)
      assert(r.getAs[Long]("n_brute") === b.size.toLong)
      assert(r.getAs[Long]("hits_adc") ===
        b.intersect(adc.getOrElse(q, Set.empty)).size.toLong)
      assert(r.getAs[Long]("hits_refined") ===
        b.intersect(ref.getOrElse(q, Set.empty)).size.toLong)
      assert(r.getAs[Long]("hits_graph") ===
        b.intersect(gra.getOrElse(q, Set.empty)).size.toLong)
    }
  }

  test("multi-probe LSH never does worse than single-probe on top-1 cosine") {
    val e = Tables.embeddings(spark, sf())
    val single = Similarity.annLsh(e, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val multi = Similarity.annLshMultiprobe(e, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    assert(single.keySet.subsetOf(multi.keySet))
    single.foreach { case (q, c) => assert(multi(q) >= c) }
  }

  private def mkEmb(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("embedQuantize: hand-checked codes, saturation, and zero vector") {
    // v = [1, -0.5, 0.25, 0]: maxabs = 1, q = [127, -63, 32, 0]
    //   code_sum = 127·1 - 63·2 + 32·3 + 0·4 = 97
    val out = Similarity.embedQuantize(mkEmb(Seq(
      1L -> Seq(1.0f, -0.5f, 0.25f, 0.0f),
      2L -> Seq(0.0f, 0.0f, 0.0f, 0.0f)))).collect()
    val r1 = out.find(_.getAs[Long]("vec_id") == 1L).get
    assert(r1.getAs[Double]("maxabs") === 1.0)
    assert(r1.getAs[Long]("code_sum") === 97L)
    assert(r1.getAs[Long]("n_sat") === 1L)
    assert(r1.getAs[Long]("n_zero") === 1L)
    assert(r1.getAs[Double]("recon_err") < 1e-4)
    val r2 = out.find(_.getAs[Long]("vec_id") == 2L).get
    assert(r2.getAs[Long]("code_sum") === 0L)
    assert(r2.getAs[Long]("n_zero") === 4L)
    assert(r2.getAs[Double]("recon_err") === 0.0)
  }

  test("embedQuantize on the real corpus: int8 error is tiny vs vector norm") {
    val e = Tables.embeddings(spark, sf())
    val joined = Similarity.embedQuantize(e).join(e, "vec_id")
      .select(col("recon_err"),
        aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x).as("nrm2"))
      .collect()
    // per-dim max error is maxabs/254, so err/nrm2 stays well under 1%
    joined.filter(_.getAs[Double]("nrm2") > 0).foreach { r =>
      assert(r.getAs[Double]("recon_err") <= 0.01 * r.getAs[Double]("nrm2"))
    }
  }

  test("pqCodes: vectors equal to a codeword reconstruct exactly") {
    // all vectors identical -> every sampled codeword equals every
    // vector's sub-vector -> zero reconstruction error, same code word
    val v = (0 until 64).map(i => (i % 7).toFloat - 3f)
    val out = Similarity.pqCodes(mkEmb((1L to 20L).map(_ -> v))).collect()
    assert(out.length === 20)
    assert(out.forall(_.getAs[Double]("recon_err") === 0.0))
    assert(out.map(_.getAs[Long]("pq_code")).distinct.length === 1)
  }

  test("pqCodes on the real corpus: packed nibbles all reference the codebook") {
    val out = Similarity.pqCodes(Tables.embeddings(spark, sf())).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val code = r.getAs[Long]("pq_code")
      assert(code >= 0L && code < (1L << 32))
      (0 until Similarity.PqM).foreach { m =>
        assert(((code >> (4 * m)) & 0xfL) < Similarity.PqKs)
      }
      assert(r.getAs[Double]("recon_err") >= 0.0)
    }
  }

  test("annPq: ADC recall against the exact L2 top-k at sf0.001") {
    val e = Tables.embeddings(spark, sf())
    import spark.implicits._
    val ev = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = ev.filter(col("vec_id") < Similarity.QueryCount)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = ev.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        aggregate(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("nn_id"))
    val exactTop = exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select("q_id", "nn_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val adcTop = Similarity.annPq(e, k = 5).select("q_id", "nn_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val hits = exactTop.map { case (qid, nns) =>
      adcTop.getOrElse(qid, Set.empty).count(nns.contains) }.sum
    val recall = hits.toDouble / exactTop.map(_._2.size).sum
    // 4-bit-per-subspace PQ on near-random 64-dim data is a coarse
    // sketch: measured recall@5 is 0.10 vs a ~0.01 random baseline.
    info(f"PQ ADC recall@5 vs exact L2: $recall%.2f")
    assert(recall >= 0.05, f"ADC recall $recall%.2f below 0.05")
  }

  // ── Arbitrary-query-table ANN APIs + the auto-broadcast gate ───────
  // A 16-row query table with the gate forced BELOW it must take the
  // shuffle fallback and still return exactly the broadcast path's
  // rows — both for LSH (bucket equi-join) and PQ (code equi-join) and
  // the brute-force baseline (partition-blocked cross join).

  private def queriesFromCorpus(n: Long) =
    Tables.embeddings(spark, sf()).filter(col("vec_id") < n)

  test("annLshFor: over-threshold query table falls back to the bucket shuffle join, same results") {
    val e = Tables.embeddings(spark, sf())
    val q = queriesFromCorpus(16L)
    val bcDf = Similarity.annLshFor(e, q, k = 3)
    val bc = bcDf.collect().map(_.toString).toSeq
    val sh = Similarity.annLshFor(e, q, k = 3, maxBroadcastQueries = 2)
    // The gate controls the HINT (what we declare); at toy scale AQE may
    // still broadcast from runtime stats, which is exactly the point of
    // leaving the over-threshold join declarative.
    assert(bcDf.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "under-threshold query side must carry the broadcast hint")
    assert(!sh.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "over-threshold query side must NOT carry a broadcast hint")
    assert(sh.collect().map(_.toString).toSeq === bc)
    // the broadcast form must match the historical bounded entry too
    assert(bc === Similarity.annLsh(e, k = 3).collect().map(_.toString).toSeq)
  }

  test("annBruteforceFor: gate removes the broadcast, results unchanged") {
    val e = Tables.embeddings(spark, sf())
    val q = queriesFromCorpus(8L)
    val bc = Similarity.annBruteforceFor(e, q, k = 3).collect().map(_.toString).toSeq
    val sh = Similarity.annBruteforceFor(e, q, k = 3, maxBroadcastQueries = 2)
    assert(sh.collect().map(_.toString).toSeq === bc)
  }

  test("annPqFor: over-threshold query table shuffles codes, same results") {
    val e = Tables.embeddings(spark, sf())
    val q = queriesFromCorpus(16L)
    val bc = Similarity.annPqFor(e, q, k = 5).collect().map(_.toString).toSeq
    val sh = Similarity.annPqFor(e, q, k = 5, maxBroadcastQueries = 2)
    assert(sh.collect().map(_.toString).toSeq === bc)
    assert(bc === Similarity.annPq(e, k = 5).collect().map(_.toString).toSeq)
  }

  test("reliable-checkpoint policy: dedup fixpoints produce identical labels with spark.graft.checkpointDir set") {
    import graft.operators.{Checkpoints, Dedup}
    val docs = Tables.documents(spark, sf())
    val local = Dedup.dedupClusters(docs).collect().map(_.toString).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-spec-ckpt")
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try {
      val reliable = Dedup.dedupClusters(docs).collect().map(_.toString).toSeq
      assert(reliable === local)
      // the reliable rounds actually wrote through the configured dir
      val s = java.nio.file.Files.walk(dir)
      val files = try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      assert(files > 0, "reliable checkpoint dir must contain round files")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
    }
  }

  test("annLshFor accepts a pre-normalized (q_id, qv) frame") {
    val e = Tables.embeddings(spark, sf())
    val q = Tables.embeddings(spark, sf()).filter(col("vec_id") < 16L)
      .select(col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x.cast("double")).as("qv"))
    val out = Similarity.annLshFor(e, q, k = 3).collect().map(_.toString).toSeq
    assert(out === Similarity.annLsh(e, k = 3).collect().map(_.toString).toSeq)
  }
}
