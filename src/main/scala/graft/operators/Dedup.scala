package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Deduplication family for LLM-data pipelines over `documents`.
  *
  * The reference dedups on exact keys (reference
  * src/preprocessing/dedup_pipeline.py — see Relational.dedupLatest); at
  * 100 TB a training-data pipeline additionally needs content dedup:
  * exact (normalized hash), MinHash/LSH (near-dup candidates), SimHash
  * (bit-vector near-dup), and n-gram Jaccard verification.
  *
  * Scale notes: exact dedup shuffles the 16-byte hash, not the document.
  * MinHash signatures are one explode + one partial-aggregatable groupBy
  * (min per permutation); LSH banding turns the O(n²) pair space into
  * per-bucket joins. All hashes are md5-derived so the DuckDB oracle can
  * reproduce them bit-for-bit (no engine-private hash functions).
  */
object Dedup {

  /** Large 32-bit prime modulus for MinHash permutations; products stay
    * far below 2^63 so plain BIGINT arithmetic is exact in any engine. */
  val MinhashPrime: Long = 4294967291L

  /** Exact dedup on normalized-text md5: keep the smallest doc_id. */
  def exactDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(TextAnalysis.normText(col("text"))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("keep_doc_id"))

  /** Distinct word n-grams per doc (docs with < n words contribute
    * none). Shingles come from the native `ngram_join` kernel
    * ([[graft.functions.NgramJoin]]) — one loop, one string concat per
    * gram — instead of the interpreted transform+concat_ws chain (same
    * strings bit-for-bit; this is the hottest per-doc kernel of the
    * dedup family). */
  def wordNgrams(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("wsarr"))
      .filter(size(col("wsarr")) >= n)
      .select(col("doc_id"),
        explode(expr(s"ngram_join(wsarr, $n)")).as("ng"))
      .distinct()
  }

  /** 32-bit shingle hash from md5 — reproducible in any engine. */
  private val h32: Column =
    conv(substring(md5(col("ng")), 1, 8), 16, 10).cast("long")

  /** Word-3-gram Jaccard similarity on adjacent-doc_id candidate pairs.
    * (The LSH variant generates the candidates at scale; the fixed pair
    * set keeps the operator oracle-checkable end to end.) */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    val ng = wordNgrams(docs)
    val sizes = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = docs.select(col("doc_id").as("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b")), col("doc_b") === col("doc_a") + 1)
    val inter = ng.as("x")
      .join(ng.as("y"), col("y.ng") === col("x.ng") && col("y.doc_id") === col("x.doc_id") + 1)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("m"))
    val sa = sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))
    val sb = sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))
    val union = coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)) - coalesce(col("m"), lit(0L))
    pairs
      .join(sa, Seq("doc_a"), "left")
      .join(sb, Seq("doc_b"), "left")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        when(union > 0,
          r4(coalesce(col("m"), lit(0L)).cast("double") / union))
          .as("jaccard"))
      .orderBy(col("doc_a"))
  }

  /** N-gram CONTAINMENT over the MinHash/LSH candidate pairs — the
    * asymmetric near-dup measure Jaccard hides: a short doc fully
    * embedded in a long one (quote farms, concatenated dumps, page
    * wrappers) scores |A∩B|/min(|A|,|B|) ≈ 1 while its Jaccard stays
    * low because the union is dominated by the long side. Candidates
    * come from the SAME banded pair graph as the dedup family (bounded
    * fan-out); the exact shingle intersection joins only
    * (doc_id, gram) rows already produced for the signatures. Both
    * ratios divide the same exact integers in both engines; the
    * threshold compares the identical double, so the filtered sets
    * match bit-for-bit. */
  def ngramContainment(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // NOT persisted (measured, r13): caching the (doc_id, ng) string
    // stream costs more than recomputing it — AQE's runtime stage reuse
    // already dedupes the identical distinct exchange across consumers,
    // and the columnar cache write of wide strings slowed the query 3×.
    val ng = wordNgrams(docs)
    val sizes = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = dedupPairGraph(docs)
    val inter = pairs
      .join(ng.select(col("doc_id").as("doc_a"), col("ng")), Seq("doc_a"))
      .join(ng.select(col("doc_id").as("doc_b"), col("ng")), Seq("doc_b", "ng"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("m"))
    val mn = least(col("na"), col("nb"))
    val cont = coalesce(col("m"), lit(0L)).cast("double") / mn.cast("double")
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .filter(mn > 0 && cont >= threshold)
      .select(col("doc_a"), col("doc_b"),
        r4(cont).as("containment"),
        r4(coalesce(col("m"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("m"), lit(0L))).cast("double")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** k-permutation MinHash signature array per doc, via the ONE fused
    * native aggregate [[graft.functions.MinhashAgg]] (long[k] running
    * minima per group, map-side merge) instead of k separate min
    * columns — integer arithmetic, bit-identical to the per-column
    * form `min((2j+1)·h + j mod p)` the DuckDB oracle keeps. */
  private def minhashArray(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    wordNgrams(docs)
      .select(col("doc_id"), h32.as("h"))
      .groupBy(col("doc_id"))
      .agg(expr(s"minhash_agg(h, $k)").as("mh"), count(lit(1)).as("n_ngrams"))
  }

  /** MinHash signatures (first `k` permutations as columns). */
  def minhashSignatures(docs: DataFrame, k: Int = 8): DataFrame = {
    val cols = col("doc_id") +:
      (0 until k).map(j => element_at(col("mh"), j + 1).as(s"mh$j")) :+
      col("n_ngrams")
    minhashArray(docs, k).select(cols: _*).orderBy(col("doc_id"))
  }

  /** Full MinHash/LSH near-dup candidate pairs: k = bands·r permutations,
    * band key = md5 of the band's signature slice, candidates = distinct
    * pairs sharing any band bucket. Used by the spec suite (the
    * fixed-pair Jaccard query above is the oracle-gated variant).
    *
    * `maxBucket` caps the per-bucket membership: a bucket larger than the
    * cap is dropped entirely before the self-join, bounding its pair
    * contribution at maxBucket²/2 instead of quadratic in the skew. On
    * boilerplate-heavy corpora one shared template otherwise lands the
    * whole corpus in a single bucket per band and the join degenerates
    * to all-pairs; oversized buckets are near-exact duplicate clusters
    * that exact dedup ([[exactDocs]]) already catches cheaply. */
  def minhashLshPairs(docs: DataFrame, bands: Int = 16, r: Int = 4,
      maxBucket: Int = 64): DataFrame =
    dedupPairGraph(docs, bands, r, maxBucket).orderBy(col("doc_a"), col("doc_b"))

  /** LSH banding pairs from a precomputed signature frame — split out so
    * callers that also need the signatures ([[minhashEstimate]]) reuse
    * ONE sig subtree (identical subplans collapse via exchange reuse)
    * instead of re-scanning and re-hashing the corpus. */
  private def pairsFromSig(sig: DataFrame, bands: Int,
      r: Int, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until r).map(i =>
        element_at(col("mh"), b * r + i + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("_", slice: _*)).as("bkey"))
    }
    val exploded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    exploded.as("l")
      .join(exploded.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH (b, r) parameter-selection contract: for signature budget
    * k = b·r, the banding scheme's S-curve — a pair with Jaccard s
    * collides with probability 1 − (1 − s^r)^b, and the scheme's
    * threshold (the similarity where collision probability crosses ~1/2)
    * is ≈ (1/b)^(1/r) (Leskovec/Rajaraman/Ullman, "Mining of Massive
    * Datasets" §3.4.2 — public). This query surfaces the whole (b, r)
    * grid for k so a user tuning [[minhashLshPairs]] for a target
    * Jaccard τ has a gated knob: per row the threshold, the collision
    * probability AT τ, and a `chosen` flag marking the grid point whose
    * threshold lands closest to τ (tie → smaller r = higher recall).
    *
    * Float parity: the powers s^r and (1−s^r)^b fold by REPEATED
    * MULTIPLICATION in one fixed order on both engines (pow()'s last
    * ulp is libm-specific; a chain of IEEE multiplies is not), and the
    * chosen flag compares distances of 4dp-ROUNDED thresholds whose
    * gaps are ≥ 10⁻² — far beyond ulp drift. The argmin is a one-row
    * min(struct) aggregate broadcast back (7 rows total) — no global
    * window, keeping the PlanShapeSpec zero-global-window contract.
    *
    * Data-independent by design (it reads no corpus table): parameter
    * selection happens BEFORE the 100 TB pass it configures. */
  def lshTuning(spark: org.apache.spark.sql.SparkSession, k: Int = 64,
      tau: Double = 0.2): DataFrame = {
    import spark.implicits._
    val rs = (0 to 30).map(1 << _).filter(r => r <= k && k % r == 0)
    val grid = rs.map(r => (k / r, r)).toDF("b", "r")
      .select(col("b").cast("long").as("b"), col("r").cast("long").as("r"))
    val scored = grid
      .withColumn("tpr", expr(
        s"aggregate(sequence(1L, r), cast(1.0 as double), (acc, i) -> acc * ${tau}D)"))
      .withColumn("s1", lit(1.0) - col("tpr"))
      .withColumn("p_raw", lit(1.0) - expr(
        "aggregate(sequence(1L, b), cast(1.0 as double), (acc, i) -> acc * s1)"))
      .select(col("b"), col("r"),
        r4(pow(lit(1.0) / col("b"), lit(1.0) / col("r")))
          .as("threshold"),
        r4(col("p_raw")).as("p_at_tau"))
      .withColumn("dist", abs(col("threshold") - lit(tau)))
    val mn = scored.agg(min(struct(col("dist"), col("r"))).as("mn"))
    scored.crossJoin(broadcast(mn))
      .select(col("b"), col("r"), col("threshold"), col("p_at_tau"),
        (struct(col("dist"), col("r")) === col("mn")).as("chosen"))
      .orderBy(col("r"))
  }

  /** Driver-side twin of [[lshTuning]]'s argmin: the (b, r) for budget
    * `k` whose banding threshold is closest to `tau` — the value a
    * pipeline passes straight into [[minhashLshPairs]]. */
  def lshChoose(k: Int = 64, tau: Double = 0.2): (Int, Int) = {
    val rs = (0 to 30).map(1 << _).filter(r => r <= k && k % r == 0)
    rs.map { r =>
      val b = k / r
      val threshold = math.floor((math.pow(1.0 / b, 1.0 / r) + 5e-9) * 1e4 + 0.5) / 1e4
      (math.abs(threshold - tau), r, b)
    }.min match { case (_, r, b) => (b, r) }
  }

  /** Connected-component dedup clusters over the MinHash/LSH candidate
    * pair graph: each doc gets `cluster_id` = the smallest doc_id
    * reachable through near-dup pairs, the canonical representative a
    * dedup pass keeps. Isolated docs form singleton clusters.
    *
    * Algorithm: iterated min-label propagation — `label(v) ←
    * min(label(v), min over neighbors label(u))` until a fixpoint, with
    * convergence detected by an order-independent (count,
    * bit_xor(xxhash64(doc, label))) signature — overflow-safe under ANSI
    * where a label sum is not — so each iteration costs one join + two
    * tiny aggregates. Iteration count is the cluster diameter:
    * near-dup clusters are shallow (template families hub through their
    * most-copied member), so a handful of passes closes 100 TB-scale
    * graphs too. A pair graph deeper than `maxIter` fails loudly with
    * `IllegalStateException` instead of returning unconverged labels;
    * a caller that expects long chains passes a larger `maxIter`. The
    * driver-side loop is inherent to iterative graph algorithms (each
    * round's result gates the next); per-round work is fully
    * distributed and the previous round's cache is released every
    * step. */
  def dedupClusters(docs: DataFrame, maxIter: Int = 50): DataFrame =
    dedupClustersFromPairs(dedupPairGraph(docs), docs.select(col("doc_id")), maxIter)
      .orderBy(col("doc_id"))

  /** The near-dup candidate pair graph: the UNORDERED distinct
    * (doc_a, doc_b) pairs every cluster-family consumer starts from
    * ([[minhashLshPairs]] without its output sort, which a consumer
    * that re-shuffles the pairs would only throw away). A pipeline with
    * several consumers materializes this frame once
    * (localCheckpoint/persist it first) and derives each of them
    * ([[dedupClustersFromPairs]], [[clusterLabelsFromPairs]]) from it
    * instead of re-running shingling + MinHash + banding per consumer;
    * the standalone oracle queries deliberately pay the full derivation
    * each so their timings stay isolated and comparable. */
  def dedupPairGraph(docs: DataFrame, bands: Int = 16, r: Int = 4,
      maxBucket: Int = 64): DataFrame =
    pairsFromSig(minhashArray(docs, bands * r), bands, r, maxBucket)

  /** Min-label-propagation clusters from a PRECOMPUTED pair graph —
    * the compute-once entry point ([[dedupPairGraph]] doc). `pairs`
    * must carry (doc_a, doc_b); `ids` the (doc_id) universe (isolated
    * docs become singletons). Output is unordered: (doc_id,
    * cluster_id, cluster_size, is_canonical). */
  def dedupClustersFromPairs(pairs0: DataFrame, ids: DataFrame,
      maxIter: Int = 50): DataFrame =
    annotateClusters(clusterLabelsFromPairs(pairs0, ids, maxIter))

  /** The min-label fixpoint WITHOUT the cluster-size annotation:
    * (doc_id, cluster_id) only. Consumers that don't need sizes
    * ([[clusterStats]]'s histogram, [[TrainingData.exportPlan]]'s
    * canonical test `doc_id = cluster_id`) start here and skip
    * [[annotateClusters]]' full-corpus groupBy + join — at 100 TB
    * that's one fewer shuffle of every (doc_id, label) row. Throws
    * `IllegalStateException` if no fixpoint is reached in `maxIter`
    * rounds, rather than return unconverged labels. */
  def clusterLabelsFromPairs(pairs0: DataFrame, ids: DataFrame,
      maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = pairs0.select(col("doc_a"), col("doc_b"))
    val docs = ids.select(col("doc_id"))
    // CO-PARTITION the fixpoint (guide §2.4): edges are persisted
    // hash-partitioned by dst and labels enter (and, by induction, LEAVE
    // every round) hash-partitioned by doc_id with the SAME explicit
    // partition count — Dataset.localCheckpoint preserves the physical
    // partitioning, so the per-round neighbor-min join needs NO exchange
    // on either side at any scale: the only per-round shuffles left are
    // the (≤ nodes-sized, map-side-combined) nbrMin aggregate and its
    // re-shuffle back to P. Without this, every round re-shuffled BOTH
    // the edge list and the full label frame. The explicit P (the
    // session's shuffle parallelism, env-derived in the mains) keeps AQE
    // from coalescing one side to a mismatched partition count.
    val P = docs.sparkSession.sessionState.conf.numShufflePartitions
    // the edge list lives for the fixpoint only: its own scope releases it
    val fixed = Scope {
      val edges = Scope.persist(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .repartition(P, col("dst")))
      // localCheckpoint per round: each round's plan references the
      // previous labels twice (neighbor-min + merge join), so bare persist
      // leaves an exponentially growing lineage; truncation is the
      // standard iterative-graph pattern (reliable checkpoint at cluster
      // scale). LAZY truncation + the signature action = ONE job per
      // round (the sig aggregate materializes the checkpoint it scans)
      // instead of an eager-count job followed by the sig job.
      var labels = Checkpoints.truncateLazy(
        docs.select(col("doc_id"), col("doc_id").as("label"))
          .repartition(P, col("doc_id")))
      // order-independent (count, XOR-of-hashes) signature — a label SUM
      // would overflow Long under ANSI mode at exactly the id scales the
      // operator targets, and xor detects any label flip just as well
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, label))")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      var prev = sig(labels)
      var converged = prev._1 == 0L
      var it = 0
      while (!converged && it < maxIter) {
        val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
        val next = labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
          .select(labels("doc_id"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        val nextT = Checkpoints.truncateLazy(next)
        val s = sig(nextT) // materializes the round's checkpoint too
        labels = nextT
        converged = s == prev // labels only decrease ⇒ any change flips the signature
        prev = s
        it += 1
      }
      if (!converged) throw new IllegalStateException(
        s"min-label propagation did not converge in $maxIter rounds " +
          "(the pair graph's diameter exceeds maxIter)")
      labels
    }
    // the returned plan reads the final labels checkpoint (its blocks
    // are held alive by the plan's RDD reference, reclaimed on GC)
    fixed.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Per-doc cluster size WITHOUT a cluster_id-partitioned window: a
    * mega-cluster (one boilerplate template with 10^8 members) would
    * land in ONE window task; the partial-aggregatable groupBy count +
    * equi-join computes the same annotation with map-side combine and
    * AQE-skew-splittable join partitions. Same output contract:
    * (doc_id, cluster_id, cluster_size, is_canonical). */
  private def annotateClusters(labeled: DataFrame): DataFrame = {
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** 60-bit SimHash over distinct unigram tokens (md5-derived 60-bit
    * token hashes; bit i set iff the +1/−1 vote sum over tokens > 0).
    * The vote fold runs in the ONE fused native aggregate
    * [[graft.functions.SimhashAgg]] — a 240 B int[60] buffer per doc
    * with map-side partial merge — instead of 60 separate per-bit sum
    * columns (integer votes, so both formulations are bit-identical;
    * the DuckDB oracle keeps the per-bit-sum form). */
  def simhash(docs: DataFrame): DataFrame =
    simhashUnordered(docs).orderBy(col("doc_id"))

  /** [[simhash]] without the deterministic output sort — the input for
    * downstream joins ([[simhashPairs]]) that would immediately destroy
    * the ordering (a pointless range exchange otherwise). */
  private def simhashUnordered(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), explode(array_distinct(split(trim(col("text")), "\\s+"))).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("doc_id"))
      .agg(expr("simhash_agg(h)").as("simhash"), count(lit(1)).as("n_tokens"))
  }

  /** Number of disjoint SimHash index blocks and their width: 4 × 15
    * bits cover all 60 hash bits, so by pigeonhole ANY pair within
    * Hamming distance 3 (= [[simhashPairs]]'s default maxDist, ≤
    * blocks − 1) agrees exactly on at least one whole block — recall
    * is structural, not probabilistic. (The first cut blocked on the
    * top 16 bits only, a single-probe design that silently missed
    * near-dups differing in any high bit.) */
  val SimhashBlocks = 4
  val SimhashBlockBits = 15

  /** Hamming-≤-maxDist pairs from precomputed (doc_id, simhash) rows —
    * the blocked join core of [[simhashPairs]], factored out so the
    * block guarantee is testable on planted hashes. Each hash is
    * indexed under its [[SimhashBlocks]] disjoint bit windows; pairs
    * sharing any window are deduped BEFORE the Hamming filter. Within
    * a block the join is all-pairs, so `maxBlock` drops blocks above
    * the cap — the quadratic hot-block risk on template-heavy corpora —
    * mirroring [[minhashLshPairs]]'s bucket cap. */
  def simhashPairsFromHashes(sh: DataFrame, maxDist: Int = 3,
      maxBlock: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << SimhashBlockBits) - 1
    val blocks = sh.select(col("doc_id"), col("simhash"),
        posexplode(expr(s"transform(sequence(0, ${SimhashBlocks - 1}), " +
          s"b -> shiftright(simhash, b * $SimhashBlockBits) & $mask)"))
          .as(Seq("bi", "bv")))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("bi"), col("bv"))))
      .filter(col("bsz") <= maxBlock)
      .drop("bsz")
    blocks.as("l").join(blocks.as("r"),
        col("l.bi") === col("r.bi") && col("l.bv") === col("r.bv") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Hamming-≤-maxDist SimHash near-dup pairs over documents — see
    * [[simhashPairsFromHashes]] for the multi-block index guarantee. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      maxBlock: Int = 64): DataFrame =
    simhashPairsFromHashes(
      simhashUnordered(docs).select(col("doc_id"), col("simhash")),
      maxDist, maxBlock)

  /** Dedup ROI report: the cluster-size histogram over the connected
    * components — how many clusters of each size exist, how many docs
    * they hold, and how many rows a keep-canonical pass deletes. The
    * sizing artifact that decides whether a corpus-wide dedup run pays
    * for itself before anyone launches it.
    *
    * The histogram needs only the per-cluster SIZES, so it aggregates
    * the raw (doc_id, cluster_id) fixpoint labels twice (cluster →
    * size, size → histogram row) and derives `n_docs = size·clusters`
    * and `n_removed = (size−1)·clusters` arithmetically — the
    * [[annotateClusters]] join back onto every doc (one full-corpus
    * shuffle) never happens. Exactly one doc per cluster is canonical
    * (the min label), so the arithmetic identities are exact. */
  def clusterStats(docs: DataFrame): DataFrame =
    clusterLabelsFromPairs(dedupPairGraph(docs), docs.select(col("doc_id")))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removed"))
      .orderBy(col("cluster_size"))

  /** CCNet-style cross-document segment dedup (Wenzek et al. 2020 §4.1
    * do this per line; our corpus is unstructured text, so consecutive
    * `segWords`-word windows play the lines). A segment whose hash
    * occurs in ≥2 distinct documents is boilerplate and every instance
    * is removed; per doc we report segment counts, surviving word
    * count, and the md5 of the cleaned text (segments rejoined in
    * order) so the decision is fully checkable without dumping text.
    *
    * Scale shape: only (doc_id, 16-byte segment hash) rows shuffle for
    * the shared-segment aggregate — documents themselves never leave
    * their partitions except via the per-doc reduce, and the shared-hash
    * side of the join is the aggregate's output (no second scan). */
  def segDedup(docs: DataFrame, segWords: Int = 10): DataFrame = {
    val segs = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(ws)-1) div $segWords), " +
          s"i -> concat_ws(' ', slice(ws, i*$segWords+1, $segWords)))"))
        .as(Seq("seg_id", "seg")))
    val shared = segs.groupBy(md5(col("seg")).as("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    segs.join(shared, md5(col("seg")) === col("h"), "left")
      .select(col("doc_id"), col("seg_id"), col("seg"),
        col("h").isNotNull.as("dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_shared_seg"),
        sum(when(!col("dup"), size(split(col("seg"), " ")).cast("long"))
          .otherwise(0L)).as("kept_words"),
        sort_array(collect_list(when(!col("dup"),
          struct(col("seg_id"), col("seg"))))).as("ks"))
      .select(col("doc_id"), col("n_seg"), col("n_shared_seg"),
        col("kept_words"),
        md5(concat_ws(" ", expr("transform(ks, s -> s.seg)"))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** MinHash accuracy report over the LSH candidate pairs: the
    * signature-estimated Jaccard (matching permutations / k) next to
    * the exact 3-gram Jaccard and their absolute error — the
    * calibration query that justifies a MinHash threshold before a
    * 100 TB dedup run. Both similarities are exact integer ratios, so
    * the doubles (and the error) are bit-identical across engines.
    * Exact-side cost is confined to the candidate pairs (the same
    * narrow (doc_id, ngram) semi-join shape as [[ngramJaccard]]). */
  def minhashEstimate(docs: DataFrame, bands: Int = 16, r: Int = 4): DataFrame = {
    val k = bands * r
    // NOT persisted (measured, r13): caching the string shingles / the
    // signature frame slowed this query 1.7× — AQE stage reuse already
    // collapses the repeated subtrees at runtime.
    val sig = minhashArray(docs, k)
    val pairs = pairsFromSig(sig, bands, r, maxBucket = 64)
    val ng = wordNgrams(docs)
    val sa = sig.select(col("doc_id").as("doc_a"), col("mh").as("ma"),
      col("n_ngrams").as("na"))
    val sb = sig.select(col("doc_id").as("doc_b"), col("mh").as("mb"),
      col("n_ngrams").as("nb"))
    val inter = pairs
      .join(ng.select(col("doc_id").as("doc_a"), col("ng")), Seq("doc_a"))
      .join(ng.select(col("doc_id").as("doc_b"), col("ng")), Seq("doc_b", "ng"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("m"))
    val m = coalesce(col("m"), lit(0L))
    val union = col("na") + col("nb") - m
    val estRaw = col("sig_matches").cast("double") / lit(k.toDouble)
    val jacRaw = m.cast("double") / union.cast("double")
    pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), m.as("m"),
        expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), b -> b))")
          .cast("long").as("sig_matches"))
      .select(col("doc_a"), col("doc_b"), col("sig_matches"),
        r4(estRaw).as("est_jaccard"),
        r4(jacRaw).as("jaccard"),
        r4(abs(estRaw - jacRaw)).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Intra-document repeated-span signal (the within-doc analogue of
    * Lee et al. 2022's repeated-substring dedup, on word-10-gram
    * windows): a window is a repeat iff the same 10-gram occurred at an
    * earlier position in the SAME doc. Reports window/repeat counts and
    * the repeat fraction per doc — the "remove repeated spans before
    * training" QA signal. Positions stay doc-local, so the
    * (doc, gram)-keyed min-position shuffle carries narrow rows; docs
    * too short for a window still report a (0, 0) row. */
  def intradocRepeats(docs: DataFrame, n: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val grams = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("wsarr"))
      .filter(size(col("wsarr")) >= n)
      .select(col("doc_id"), posexplode(expr(s"ngram_join(wsarr, $n)"))
        .as(Seq("pos", "gram")))
    val wg = Window.partitionBy(col("doc_id"), col("gram"))
    val stats = grams
      .withColumn("is_rep", (col("pos") > min(col("pos")).over(wg)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(col("is_rep")).as("nr"))
    docs.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nw"), lit(0L)).as("n_windows"),
        coalesce(col("nr"), lit(0L)).as("n_repeats"),
        when(col("nw").isNotNull && col("nw") > 0,
          r4(col("nr").cast("double") / col("nw").cast("double"))).otherwise(lit(0.0)).as("repeat_frac"))
      .orderBy(col("doc_id"))
  }

  /** Char-level EXACT-SUBSTRING duplication anchors across documents —
    * the signal behind suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"),
    * anchor-sampled for distribution: every document contributes one
    * `gramLen`-char gram per `stride` chars, and a gram present in ≥2
    * distinct docs is a cross-doc exact-substring anchor (full-doc
    * dups and shared boilerplate light up immediately). Stride
    * sampling is the scale trade — ~L/S anchor ROWS per doc (2 per 32
    * chars here) instead of one suffix per char; each row carries a
    * gramLen-char gram, so shuffle BYTES are ~(gramLen/stride)·L ≈ 2×
    * corpus text before the distinct() collapse — the row-count
    * reduction is what matters (the suffix-array alternative shuffles
    * L rows), not a byte reduction; fixed-stride anchors catch
    * ALIGNED repeats (content-defined winnowing is the production
    * extension for arbitrary-offset repeats). Both aggregations are
    * map-side combinable; output is the top 100 most-shared anchors
    * under a total order (n_docs desc, gram) with doc-span evidence. */
  def substringDup(docs: DataFrame, gramLen: Int = 32,
      stride: Int = 16): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= gramLen)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, length(text) - ${gramLen - 1}, $stride)"))
          .as("p"),
        col("text"))
      .select(col("doc_id"), expr(s"substring(text, p, $gramLen)").as("gram"))
      .distinct()
    grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(100)
  }

  /** WINNOWING fingerprint anchors (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS sketch) — [[substringDup]]'s arbitrary-alignment extension:
    * hash EVERY char k-gram, slide a w-window over the hash sequence and
    * keep the rightmost minimum per window. The kept set is ~2/(w+1) of
    * positions yet GUARANTEES every shared substring of length
    * >= k+w-1 produces a shared fingerprint at ANY offset (the stride
    * sampler only catches stride-aligned repeats).
    *
    * Scale shape: gram hashing AND window selection run in ONE fused
    * O(n) map-side pass per document — the native
    * [[graft.functions.WinnowFps]] kernel (rolling base-31 mod-2³²
    * gram hashes + monotonic-deque rightmost minima; the original
    * higher-order md5 formulation ran interpreted and allocated two
    * arrays per window — minutes at sf1.0 where the kernel takes
    * seconds). Zero shuffle until the selected fingerprints explode,
    * so the one doc-scale exchange carries (doc_id, 8-byte h) at
    * ~2/(w+1) of gram density, never text. The oracle replays the
    * identical per-gram fold and rightmost-argmin walk in DuckDB. */
  def winnowFingerprints(docs: DataFrame, k: Int = 16, w: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val fps = docs
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), expr(s"winnow_fps(text, $k, $w)").as("fps"))
    fps.select(col("doc_id"), explode(col("fps")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("h"))
      .limit(100)
  }

  /** Per-source duplication report: how many of each source's docs a
    * GLOBAL exact dedup (keep-min-doc_id per normalized-text hash)
    * would remove — "which source is padding the corpus". Only the
    * 16-byte hash + source shuffle (never the text); integer-ratio
    * fractions. */
  def dupRatioBySource(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("text_hash"))
    docs.select(col("doc_id"), col("source"),
        md5(TextAnalysis.normText(col("text"))).as("text_hash"))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_removed"),
        r4((col("n_docs") - col("n_kept")).cast("double")
          / col("n_docs").cast("double")).as("dup_frac"))
      .orderBy(col("source"))
  }

  /** Cross-source 5-gram overlap matrix: for each source pair, how many
    * distinct word-5-grams they share and what fraction of the first
    * source's n-gram vocabulary that is — the corpus-level view of
    * contamination ([[TrainingData.decontaminate]] is the per-doc
    * verdict). Shingles are collapsed to their 128-bit md5 BEFORE the
    * distinct and the self-join, so the two shuffles carry a fixed
    * 16-byte key instead of ~50-byte raw 5-gram strings (the oracle
    * mirrors the md5, so counts match bit-for-bit; an md5 collision
    * inside one source's vocabulary is the accepted 2⁻¹²⁸-scale
    * approximation). Consequently the output columns `n_ngrams`,
    * `ngrams_a`/`ngrams_b`, `n_shared` and `overlap_frac` are counts of
    * distinct shingle HASHES — collision-approximate, not exact raw
    * 5-gram counts (indistinguishable in practice at 2⁻¹²⁸). With S
    * sources each shingle hash fans out to at
    * most C(S,2) pairs — no quadratic blowup. */
  def crossSourceOverlap(docs: DataFrame): DataFrame = {
    // NOT persisted (measured, r13): the cache write cost exceeded the
    // recompute it saved; AQE stage reuse shares the distinct exchange.
    val ng = wordNgrams(docs.select(col("doc_id"), col("text")), 5)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      // unhex: a true 16-byte binary key (md5() alone returns the
      // 32-char hex STRING, which would double the shuffle width)
      .select(unhex(md5(col("ng"))).as("ng"), col("source")).distinct()
    val counts = ng.groupBy(col("source")).agg(count(lit(1)).as("n_ngrams"))
    ng.as("a")
      .join(ng.as("b"),
        col("a.ng") === col("b.ng") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_ngrams").as("ngrams_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_ngrams").as("ngrams_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("ngrams_a"), col("ngrams_b"),
        r4(col("n_shared").cast("double") / col("ngrams_a").cast("double")).as("overlap_frac"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-node triangle count + local clustering coefficient over the
    * LSH near-dup pair graph — the graph-density diagnostic for a dedup
    * run (a boilerplate template shows up as a near-clique: high degree
    * AND local_cc ≈ 1; organic near-dups form sparse stars: high degree,
    * low cc). Triangle enumeration is the standard FORWARD algorithm on
    * the id-oriented edge list (every edge already has doc_a < doc_b, so
    * each triangle a<b<c is produced exactly once by joining its two
    * out-edges at b and closing on (a,c)): two equi-joins over id pairs,
    * fan-out = Σ_b out-deg·in-deg, bounded here by the 64-member LSH
    * bucket caps (at adversarial degree skew the classic refinement —
    * re-orient edges by (degree, id) instead of raw id — drops in
    * without changing this plan shape). The pair graph materializes ONCE
    * ([[Scope.persist]]) and feeds all three consumers (degrees, wedges,
    * closing edges). `local_cc = 2·triangles / (deg·(deg−1))` — exact
    * integers into one double division at the edge. */
  def graphCc(docs: DataFrame): DataFrame =
    graphCcFromPairs(Scope.persist(minhashLshPairs(docs)))

  /** [[graphCc]]'s core over an already-built pair list (doc_a < doc_b,
    * distinct) — the compute-once entry point for pipelines that share
    * the pair graph across consumers (the [[dedupPairGraph]] pattern). */
  def graphCcFromPairs(p: DataFrame): DataFrame = {
    val deg = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tri = p.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(p.select(col("doc_a").as("b2"), col("doc_b").as("c")),
        col("b") === col("b2"))
      .join(p.select(col("doc_a").as("a3"), col("doc_b").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val tcnt = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("triangles"))
    deg.join(tcnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .select(col("doc_id"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          r4(lit(2.0) * col("triangles") / (col("degree") * (col("degree") - lit(1.0)))))
          .as("local_cc"))
      .orderBy(col("doc_id"))
  }
}
