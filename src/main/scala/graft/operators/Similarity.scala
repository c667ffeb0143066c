package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * The query set is BOUNDED BY CONSTRUCTION: `vec_id < QueryCount` — a
  * fixed-size stand-in for an explicit query table, so every broadcast
  * below is O(|Q|·probes) or O(K) regardless of corpus size (unlike a
  * `% 100` corpus fraction, which grows with n).
  *
  * Variants:
  *  - [[annBruteforce]]: exact cosine top-k, O(Q·N) streaming scan with
  *    the bounded query side broadcast — the recall ceiling.
  *  - [[annLsh]]: L=12 random-hyperplane tables × 11 bits, candidates
  *    share a per-table bucket (equi-join). Multi-table union recovers
  *    the recall a single signature loses.
  *  - [[annLshMultiprobe]]: query-directed probing (Lv et al., VLDB'07):
  *    each query also probes buckets obtained by flipping its
  *    lowest-margin bits — 6 single flips + the 6 pairs from the 4
  *    lowest — 13 probes/table. Measured at sf0.01: top-1 recall 0.62
  *    vs the brute ceiling with ~9% of the corpus as candidates
  *    (spec-asserted).
  *  - [[annIvf]]: inverted-file with a SCALE-ADAPTIVE centroid count —
  *    K = clamp(⌈√N⌉, 32, 4096) ([[ivfKFor]]) deterministically
  *    sampled by md5 order, so the assignment broadcast is O(K) — and
  *    nprobe=6 nearest cells per query.
  *  - [[annIvfPq]]: IVF routing composed with PQ/ADC ranking — the
  *    billion-vector shape where raw vectors never join.
  *
  * The cosine itself is a native Catalyst expression
  * ([[graft.functions.CosineSim]]) — one fused codegen'd loop per pair,
  * accumulating in the same sequential order as the DuckDB oracle's
  * `list_reduce`, so values match bit-for-bit; the LSH projections run
  * through the native [[graft.functions.DotProduct]] against constant
  * ±1 sign arrays for the same reason. Null (zero-norm) cosines are
  * filtered identically to the oracle's `nrm > 0` guards.
  */
object Similarity {

  val Dim = 64

  /** Bounded query set: the first QueryCount vec_ids. */
  val QueryCount = 16

  // Multi-table LSH geometry (tuned at sf0.01: recall 0.62 @ 9.3%
  // candidates for the multiprobe variant); the sign matrix lives in
  // [[graft.functions.LshPlanes]] next to the fused bucket expression.
  val LshBits: Int = graft.functions.LshPlanes.Bits
  val LshTables: Int = graft.functions.LshPlanes.Tables
  val ProbeSingles = 6   // flip each of the 6 lowest-|proj| bits
  val ProbePairBits = 4  // plus the 6 pairs among the 4 lowest

  // IVF geometry: SCALE-ADAPTIVE centroid count (broadcast O(K)),
  // multi-cell probe. K ≈ √N balances cell population (≈√N vectors per
  // cell ⇒ probe cost nprobe·√N) against index-build cost (N·K
  // distance evaluations); the clamp keeps tiny corpora clustered
  // (≥32) and bounds the centroid broadcast on any corpus (4096 × 64
  // doubles ≈ 2 MB — well under the executor broadcast budget even at
  // 10⁹ vectors, where √N would want ~31k centroids; past the cap the
  // right move is IVF+PQ composition, [[annIvfPq]], not more cells).
  val IvfKMin = 32
  val IvfKMax = 4096
  val IvfProbes = 6

  /** K = clamp(⌈√N⌉, IvfKMin, IvfKMax) — exact integer/double math,
    * mirrored verbatim by the oracle's `ceil(sqrt(count(*)))`. */
  def ivfKFor(n: Long): Int =
    math.min(IvfKMax.toLong,
      math.max(IvfKMin.toLong, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  // Content-driven near-dup: cosine floor + bucket-size cap for the
  // all-corpus LSH-bucket pair join.
  val NeardupThreshold = 0.25
  val NeardupMaxBucket = 256

  // Product quantization geometry: Dim = PqM × PqSubDim, one nibble per
  // subspace code (PqKs = 16) → a 64-float vector compresses to one
  // 32-bit code word (8 nibbles). The memory math is the point at scale:
  // 100 TB of raw fp32 embeddings become ~1.6 TB of codes + an O(M·Ks)
  // broadcast codebook, so ADC search never touches the raw vectors.
  val PqM = 8
  val PqSubDim = 8
  val PqKs = 16

  /** Float embedding → double array (exact widening). */
  private def vecd(c: Column): Column = transform(c, x => x.cast("double"))

  /** 6dp rounding as floor(x·10⁶ + 0.5)/10⁶: both engines compute the
    * same double ops on the same input, so the result is bit-identical —
    * unlike round(x, 6), whose half-tie algorithm differs (Spark rounds
    * the shortest decimal repr, DuckDB the binary value; one sf0.01
    * recon_err cell landed on the disagreement). Non-negative inputs. */
  private def floor6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  private def withVec(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), vecd(col("embedding")).as("v"))
  }

  /** Deterministic ±1 hyperplane signs (delegates to the sign matrix the
    * fused expressions embed): sign(t,j,d) = +1 iff the first 32 md5
    * bits of the string (t·100000 + j·64 + d) are even. Table 0
    * reproduces the round-1 single-table signs. */
  def lshSign(t: Int, j: Int, d: Int): Double =
    graft.functions.LshPlanes.sign(t, j, d)

  /** Corpus side: one (t, bucket) row per vector per table, via the ONE
    * fused [[graft.functions.LshBuckets]] expression — 132 separate
    * dot-product expressions made the Catalyst tree so large that
    * per-query analysis+codegen dominated runtime. */
  private def corpusBuckets(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"),
      posexplode(expr("lsh_buckets(v)")).as(Seq("t", "bucket")))

  /** The by-construction-bounded default query table: the first
    * QueryCount vec_ids of the corpus itself, already (q_id, qv). */
  private def defaultQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Normalize an ARBITRARY query table to (q_id, qv): accepts
    * (q_id, qv: Array[Double]) as-is, or raw (vec_id,
    * embedding: Array[Float]) rows in the corpus schema. Query ids
    * share the corpus id namespace for self-pair exclusion; external
    * ids simply never collide. */
  private def normalizeQueries(queries: DataFrame): DataFrame = {
    val cols = queries.columns.toSet
    if (cols.contains("q_id") && cols.contains("qv"))
      queries.select(col("q_id"), col("qv"))
    else queries.select(col("vec_id").as("q_id"), vecd(col("embedding")).as("qv"))
  }

  /** Auto-broadcast size gate: broadcast the query side only when it
    * actually is bounded. One cheap limit-count action on the QUERY
    * table (by definition metadata-scale relative to the corpus). */
  private def fitsBroadcast(q0: DataFrame, max: Int): Boolean =
    q0.limit(max + 1).count() <= max

  /** Default query-broadcast ceiling. LSH probes multiply this by
    * tables × probes (≤ 156) and PQ distance tables by M·Ks = 128 —
    * both still well under executor broadcast budgets at this count. */
  val DefaultMaxBroadcastQueries = 65536

  /** Query side: one (qt, probe) row per query per table per probe.
    * `probed = false` → the query's own bucket only; `probed = true` →
    * query-directed multiprobe (lowest-margin single and pair bit
    * flips, margins ranked by (|proj|, bit) for determinism). */
  private def queryProbes(q0: DataFrame, probed: Boolean): DataFrame = {
    var q = q0.withColumn("bks", expr("lsh_buckets(qv)"))
    if (probed) q = q.withColumn("pjs", expr("lsh_proj(qv)"))
    val probeArrays = (0 until LshTables).map { t =>
      val qb = s"element_at(bks, ${t + 1})"
      if (!probed) s"array($qb)"
      else {
        val srt = s"array_sort(transform(sequence(0, ${LshBits - 1}), " +
          s"j -> struct(abs(element_at(element_at(pjs, ${t + 1}), j + 1)) as a, cast(j as long) as j)))"
        q = q.withColumn(s"srt_$t", expr(srt))
        val singles = s"transform(slice(srt_$t, 1, $ProbeSingles), " +
          s"s -> $qb ^ shiftleft(1L, cast(s.j as int)))"
        val pairs = (for {
          i <- 0 until ProbePairBits; k <- i + 1 until ProbePairBits
        } yield s"$qb ^ shiftleft(1L, cast(element_at(srt_$t, ${i + 1}).j as int))" +
          s" ^ shiftleft(1L, cast(element_at(srt_$t, ${k + 1}).j as int))")
          .mkString("array(", ", ", ")")
        s"concat(array($qb), $singles, $pairs)"
      }
    }
    q.select(col("q_id"), col("qv"),
        posexplode(array(probeArrays.map(expr): _*)).as(Seq("qt", "parr")))
      .select(col("q_id"), col("qv"), col("qt"), explode(col("parr")).as("probe"))
  }

  /** Distinct LSH candidate pairs with their exact cosine — shared by
    * [[annLsh]] / [[annLshMultiprobe]] and the recall/candidate-bound
    * spec. Broadcasts only the bounded probe rows (|Q|·L·13 max). */
  def lshCandidatePairs(embeddings: DataFrame, probed: Boolean): DataFrame = {
    val e = withVec(embeddings)
    lshCandidatePairsFor(e, defaultQueries(e), probed, broadcastQ = true)
  }

  /** Candidate pairs for an arbitrary normalized (q_id, qv) query
    * frame. `broadcastQ = false` is the over-threshold fallback: the
    * probe rows flow through the SAME (t, bucket) equi-join as a
    * shuffle join — both sides hash-partition on the bucket keys, so
    * a query table of any size co-locates with its candidate corpus
    * buckets instead of replicating to every task. */
  private def lshCandidatePairsFor(e: DataFrame, q0: DataFrame,
      probed: Boolean, broadcastQ: Boolean): DataFrame = {
    val probes = queryProbes(q0, probed)
    corpusBuckets(e)
      .join(if (broadcastQ) broadcast(probes) else probes,
        col("t") === col("qt") && col("bucket") === col("probe") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        expr("cosine_sim(v, qv)").as("cos"))
      .filter(col("cos").isNotNull)
      .distinct()
  }

  private def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nn_id"))
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"),
        round(col("cos") + lit(5e-9), 4).as("cos"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  private def bruteCandidates(e: DataFrame, q: DataFrame): DataFrame =
    e.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        expr("cosine_sim(v, qv)").as("cos"))
      .filter(col("cos").isNotNull)

  /** Brute-force cosine top-k per query vector — the recall ceiling.
    * Deterministic tie-break on neighbor id; self-pairs excluded. */
  def annBruteforce(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = withVec(embeddings)
    rankTopK(bruteCandidates(e, broadcast(defaultQueries(e))), k)
  }

  /** Brute force over an ARBITRARY query table (see
    * [[normalizeQueries]] for accepted shapes). Queries at or under
    * the gate broadcast (one corpus scan, no shuffle); beyond it the
    * cross join runs partition-blocked — still exact, and still the
    * stated O(Q·N) cost brute force is only ever the baseline for.
    * The scale answer to a big query side is [[annLshFor]]/[[annPqFor]],
    * not a bigger broadcast. */
  def annBruteforceFor(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val e = withVec(embeddings)
    val q0 = normalizeQueries(queries)
    val q = if (fitsBroadcast(q0, maxBroadcastQueries)) broadcast(q0) else q0
    rankTopK(bruteCandidates(e, q), k)
  }

  /** Multi-table LSH top-k: candidates share any per-table bucket. */
  def annLsh(embeddings: DataFrame, k: Int = 3): DataFrame =
    rankTopK(lshCandidatePairs(embeddings, probed = false), k)

  /** Multi-table LSH with query-directed multiprobe — see object doc. */
  def annLshMultiprobe(embeddings: DataFrame, k: Int = 3): DataFrame =
    rankTopK(lshCandidatePairs(embeddings, probed = true), k)

  /** LSH top-k over an ARBITRARY query table with the auto-broadcast
    * gate: a bounded query set broadcasts its probe rows (map-side
    * join, zero query shuffle); an over-threshold set falls back to
    * the shuffle equi-join on the (table, bucket) keys — the bucket
    * co-location path that scales to a query side as big as the
    * corpus. Same candidate semantics either way. */
  def annLshFor(embeddings: DataFrame, queries: DataFrame, k: Int = 3,
      probed: Boolean = false,
      maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val e = withVec(embeddings)
    val q0 = normalizeQueries(queries)
    rankTopK(lshCandidatePairsFor(e, q0, probed,
      broadcastQ = fitsBroadcast(q0, maxBroadcastQueries)), k)
  }

  /** Squared L2 distance — the native fused loop
    * ([[graft.functions.Dist2]]); same left-to-right fold from 0.0 as
    * the `aggregate(zip_with(...))` formulation it replaced (which ran
    * interpreted, allocating the zipped array per evaluation), so
    * bit-identical to the oracle's sequential list fold. Every caller
    * goes through [[withVec]], which registers the function. */
  private def dist2(a: Column, b: Column): Column =
    call_function("dist2", a, b)

  /** Deterministic centroid sample: the first k corpus vectors in
    * (md5(vec_id), vec_id) order — a distributed TakeOrdered, O(k)
    * result regardless of corpus size. Shared by every IVF variant and
    * mirrored by the oracle's `row_number() OVER (ORDER BY md5...)`. */
  private def sampledCentroids(e: DataFrame, k: Int): DataFrame =
    e.select(col("vec_id").as("cent_id"), col("v").as("cv"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("cent_id")).limit(k)
      .select(col("cent_id"), col("cv"))

  /** Adaptive K for a corpus frame: ONE driver-visible scalar (a
    * column-pruned count — parquet answers it from row-group metadata)
    * feeding the sample's `limit`. The only per-corpus driver value in
    * the family; everything downstream stays distributed. */
  private def adaptiveK(corpus: DataFrame): Int = ivfKFor(corpus.count())

  /** The centroid set as ONE id-sorted array row — the broadcast
    * payload of the fused [[graft.functions.NearestCell]] assignment.
    * O(K ≤ 4096) structs ≈ 2 MB max, the same budget the per-row
    * centroid broadcast already spent. */
  private def cellsRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cent_id"), col("cv"))))
      .as("cells"))

  /** Fused nearest-centroid assignment: (vec_id, v, cell) in ONE narrow
    * map over the corpus — the centroid array rides in as a one-row
    * broadcast column and the argmin runs inside the scan stage,
    * replacing the N×K crossJoin → corpus-scale min_by aggregate
    * exchange → vec_id re-join exchange shape (guide §2.4: remove
    * shuffles outright). Same (d2, cent_id) lexicographic argmin over
    * the same sequential [[graft.functions.Dist2]] fold — identical
    * cells for well-formed centroids, oracle unchanged. Ragged and
    * null-`cv` centroids are skipped, where `min_by`'s null-first
    * struct order would pick them ([[graft.functions.NearestCell]]
    * doc). */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cellsRow(cents)))
      .select(col("vec_id"), col("v"),
        expr("nearest_cell(v, cells).cell").as("cell"))

  /** IVF-flat ANN: K = clamp(⌈√N⌉, 32, 4096) centroids ([[ivfKFor]])
    * sampled deterministically by md5 order (top-K is a distributed
    * TakeOrdered — O(K) result no matter the corpus), every vector
    * assigned to its nearest centroid by squared L2, queries probe
    * their `IvfProbes` nearest cells and rank candidates by exact
    * cosine. Broadcast sizes: centroids O(K), query probes
    * O(|Q|·nprobe). */
  def annIvf(embeddings: DataFrame, k: Int = 3,
      nprobe: Int = IvfProbes): DataFrame = {
    val e = withVec(embeddings)
    ivfProbe(e, sampledCentroids(e, adaptiveK(e)), k, nprobe)
  }

  /** Embedding-cluster × metadata profile — the curation view a
    * training-data pipeline builds over a clustered corpus: every vector
    * assigned to its nearest sampled IVF centroid (the [[annIvf]]
    * assignment, verbatim: O(K) broadcast centroids, map-side
    * combinable `min_by`, no full-corpus window), then joined to the
    * documents table on the shared id space and rolled up per
    * (cell, source) with exact integer char sums. The join ships only
    * (vec_id, cell) against projection-pruned metadata columns — the
    * embedding vectors and the document text never meet the shuffle. */
  def clusterSourceProfile(embeddings: DataFrame,
      documents: DataFrame): DataFrame = {
    val e = withVec(embeddings)
    // fused assignment (assignCells): cell decided inside the scan
    // stage — no N×K stream, no aggregate exchange (guide §2.4)
    val assign = assignCells(e, sampledCentroids(e, adaptiveK(e)))
      .select(col("vec_id"), col("cell"))
    assign.join(documents.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars")),
        col("vec_id") === col("doc_id"))
      .groupBy(col("cell"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")
          + lit(5e-9), 4).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("cell"), col("source"))
  }

  /** Shared IVF probe: nearest-centroid assignment as a map-side
    * combinable `min_by` over the (d2, cent_id) struct — no full-corpus
    * window shuffle+sort; only the bounded query side uses a window for
    * its nprobe ranking. */
  private def ivfProbe(e: DataFrame, cents0: DataFrame, k: Int,
      nprobe: Int = IvfProbes): DataFrame = {
    // ONE evaluation of the centroid frame for its two consumers
    // (assignment array + query probe): K rows, lazily checkpointed —
    // without it each broadcast re-runs the TakeOrdered corpus pass.
    val cents = Checkpoints.truncateLazy(cents0)
    // Fused assignment (assignCells): the argmin runs inside the scan
    // stage against the one-row broadcast centroid array — no N×K row
    // stream, no corpus-scale aggregate exchange, no vec_id re-join.
    // The query side keeps the crossJoin+window form: its filter pushes
    // below the crossJoin, so that stream is |Q|·K — bounded.
    val assign = assignCells(e, cents)
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cent_id"))
    val qcells = e.filter(col("vec_id") < QueryCount)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        dist2(col("v"), col("cv")).as("d2"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("cent_id").as("qcell"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nn_id"))
    assign.join(broadcast(qcells),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"), col("cell"),
        expr("cosine_sim(v, qv)").as("cos"))
      .filter(col("cos").isNotNull)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"), col("cell"),
        round(col("cos") + lit(5e-9), 4).as("cos"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Lloyd-refined IVF centroids: start from the md5-sampled K, then
    * `iters` k-means iterations (mean of assigned vectors per cell, one
    * shuffle each). Means are rounded to 6dp so the refinement is stable
    * across partition orders (double summation order is otherwise
    * nondeterministic); cells that lose all members drop out. Spark-only
    * (spec-measured) — the oracle-gated [[annIvf]] keeps the sampled
    * centroids for engine reproducibility. */
  def ivfCentroidsLloyd(embeddings: DataFrame, iters: Int = 2): DataFrame =
    ivfCentroidsLloydFrom(Ema.persistTracked(withVec(embeddings)), iters)

  /** Lloyd loop over a (persisted) normalized-vector frame. The corpus
    * scan materializes ONCE and every assignment pass reads the cache —
    * without it, each iteration's broadcast side re-derives the whole
    * previous iteration (nested broadcasts re-scan the corpus once per
    * LEVEL of nesting). The K-row centroid frame is locally
    * checkpointed per iteration (the dedupClusters device) so iteration
    * i+1's plan starts from 32 materialized rows, not iteration i's
    * full lineage. */
  private def ivfCentroidsLloydFrom(e: DataFrame, iters: Int): DataFrame = {
    var cents = sampledCentroids(e, adaptiveK(e))
    for (_ <- 1 to iters) {
      // fused nearest-centroid assignment (assignCells): cell decided
      // inside the scan stage against the one-row broadcast centroid
      // array — each iteration is now ONE exchange (the map-side
      // combinable vec_mean6 update) instead of three (N×K min_by
      // aggregate + vec_id re-join + update). The update itself is the
      // ONE native vector-mean aggregate (6dp-rounded, ≡ the per-dim
      // round(avg(x), 6) the oracle mirrors).
      // truncateLazy: each round's K-row frame is consumed through one
      // broadcast whose build job materializes the checkpoint — no
      // per-round eager count job
      cents = Checkpoints.truncateLazy(assignCells(e, cents)
        .groupBy(col("cell"))
        .agg(expr("vec_mean6(v)").as("cv"))
        .select(col("cell").as("cent_id"), col("cv")))
    }
    cents
  }

  /** IVF probe against Lloyd-refined centroids — same nprobe machinery
    * as [[annIvf]]; recall improvement is measured in the spec suite.
    * The normalized corpus persists across the Lloyd iterations AND the
    * final probe's assignment pass (released by `Ema.unpersistAll` /
    * `catalog.clearCache`). */
  def annIvfLloyd(embeddings: DataFrame, k: Int = 3, iters: Int = 2): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    val cents = ivfCentroidsLloydFrom(e, iters)
    ivfProbe(e, cents, k)
  }

  /** Content-driven near-dup pairs over the WHOLE corpus: two vectors
    * are candidates iff they share any LSH table bucket (the scale path
    * — no id locality assumed), with the dedup family's bucket-size cap
    * bounding hot buckets, then exact cosine ≥ threshold.
    *
    * The vectors ride INTO the bucket join and the fused cosine +
    * threshold filter run BUCKET-LOCALLY on each candidate, so only
    * SURVIVORS reach the id-pair `distinct`. The cost trade is
    * T·N·|v| (vectors through the one reused bucket exchange) versus
    * P·|v| (distinct pairs through two re-join exchanges, the previous
    * shape) — and at corpus density the candidate-pair count P grows
    * quadratically in per-bucket occupancy while T·N stays linear: the
    * sf10 exercise measured P = 130.9M distinct pairs against
    * T·N = 2.4M bucket rows, i.e. the re-join shape shuffled ~69 GB of
    * vectors where this one moves 1.3 GB (149 → 5.8 s wall). Cross-table
    * duplicate candidates cost only redundant fused-kernel arithmetic
    * (bounded by T× worst-case, measured 1.007× here — near-dup pairs
    * that agree on many tables are exactly the ones the threshold
    * keeps, and those dedup AFTER the filter); the cosine is a pure
    * function of the pair, so duplicates carry bit-identical doubles
    * and the post-filter distinct collapses them exactly. */
  def embedNeardupLsh(embeddings: DataFrame,
      threshold: Double = NeardupThreshold,
      maxBucket: Int = NeardupMaxBucket): DataFrame = {
    val e = withVec(embeddings)
    val bk = corpusBuckets(e)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("t"), col("bucket"))))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    bk.as("l")
      .join(bk.as("r"),
        col("l.t") === col("r.t") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        expr("cosine_sim(l.v, r.v)").as("cos"))
      .filter(col("cos").isNotNull && col("cos") >= threshold)
      .distinct()
      .select(col("vec_a"), col("vec_b"),
        round(col("cos") + lit(5e-9), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // ------------------------------------------------------------------
  // Quantization family: the memory-bounded ANN path. Reference-scale
  // corpora keep raw vectors; at 100 TB the index must live in codes.
  // ------------------------------------------------------------------

  /** int8 scalar quantization: per-vector symmetric max-abs scale,
    * q_i = floor(x_i·127/maxabs + 0.5) ∈ [-127, 127] (the floor(+0.5)
    * form sidesteps the engines' differing round-half tie rules), plus
    * the reconstruction-error report a quantization job ships with.
    * Narrow no-shuffle projection; all folds are sequential (oracle's
    * `list_reduce` order), so every double matches bit-for-bit. */
  def embedQuantize(embeddings: DataFrame): DataFrame = {
    val e = withVec(embeddings)
    // The raw scale column must NOT share its name with the rounded
    // output alias: col("maxabs") references INSIDE the higher-order
    // lambdas below resolve in a later analyzer pass, where a same-name
    // alias earlier in the select wins over the child column — so dq
    // would silently use the floor6-ROUNDED scale (three sf0.1
    // recon_err cells flipped a 6dp digit that way; plain column refs
    // outside lambdas resolve to the child and are unaffected).
    e.withColumn("mxa",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("q",
        when(col("mxa") > 0,
          transform(col("v"), x =>
            floor(x * lit(127.0) / col("mxa") + lit(0.5))))
          .otherwise(transform(col("v"), _ => lit(0L))))
      .select(col("vec_id"),
        floor6(col("mxa")).as("maxabs"),
        // positional checksum of the code vector — exact integer parity
        aggregate(transform(col("q"), (qi, i) => qi * (i + 1).cast("long")),
          lit(0L), (acc, x) => acc + x).as("code_sum"),
        size(filter(col("q"), qi => abs(qi) === 127)).cast("long").as("n_sat"),
        size(filter(col("q"), qi => qi === 0)).cast("long").as("n_zero"),
        when(col("mxa") > 0,
          floor6(aggregate(zip_with(col("v"), col("q"), (x, qi) => {
            val d = x - qi.cast("double") * col("mxa") / lit(127.0)
            d * d
          }), lit(0.0), (acc, x) => acc + x)))
          .otherwise(lit(0.0)).as("recon_err"))
      .orderBy(col("vec_id"))
  }

  /** Deterministic PQ codebook: subspace m's codewords are the m-th
    * sub-vectors of the first PqKs corpus vectors in md5 order — the
    * same O(K) bounded-sample device as [[annIvf]]'s centroids, so the
    * codebook broadcast is O(PqM·PqKs) regardless of corpus size. */
  private def pqCodebook(e: DataFrame): DataFrame = pqCodebookFrom(e)

  /** Codebook over an arbitrary (vec_id, v) frame — [[annIvfPqResidual]]
    * trains its codewords in RESIDUAL space, so the sampling device is
    * shared rather than tied to the raw corpus. */
  private def pqCodebookFrom(e: DataFrame): DataFrame = {
    // the Ks-row sample is locally checkpointed: the self-join below
    // references it twice and every caller joins it twice more — the
    // checkpoint makes that ONE TakeOrdered corpus pass total, not one
    // per reference
    val sampled = e.select(col("vec_id").as("cent_id"), col("v").as("cv"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("cent_id")).limit(PqKs)
      .localCheckpoint(true)
    // code_id = count of strictly-smaller (h, cent_id) keys, via a
    // broadcast self-join of the 16 sampled rows — ≡ row_number() − 1
    // in (h, cent_id) order without an unpartitioned WindowExec (the
    // count is exact: cent_id makes the key unique).
    sampled
      .crossJoin(broadcast(
        sampled.select(col("h").as("qh"), col("cent_id").as("qc"))))
      .groupBy(col("cent_id"), col("h"))
      .agg(first(col("cv")).as("cv"),
        sum(when(struct(col("qh"), col("qc")) <
          struct(col("h"), col("cent_id")), 1L).otherwise(0L)).as("code_id"))
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("m"), col("code_id"),
        slice(col("cv"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("csub"))
  }

  /** k-means-TRAINED PQ codebook (the standard PQ training step,
    * Jégou et al. §III): start from the md5-sampled codewords, then
    * `iters` Lloyd iterations PER SUBSPACE — assignment is the same
    * map-side `min_by` as [[pqAssign]], the update is one native
    * `vec_mean6` aggregate per (subspace, code) (6dp-rounded means =
    * the ivfCentroidsLloyd determinism device, absorbing both
    * engines' avg() summation order). Codes that lose all members
    * drop out, exactly like empty IVF cells. The corpus's sliced
    * subvectors persist once and feed every iteration; each round is
    * one broadcast join + one M·Ks-sized aggregate — index-build
    * cost O(iters · N · Ks) distance evaluations, broadcast state
    * O(M · Ks) always. */
  private def pqCodebookTrained(e: DataFrame, iters: Int): DataFrame = {
    val sub = Ema.persistTracked(
      e.withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
        .select(col("vec_id"), col("m"),
          slice(col("v"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sv")))
    var cb = pqCodebookFrom(e)
    for (_ <- 1 to iters) {
      // truncateLazy: each round's cb is consumed through exactly one
      // broadcast (next round's join, or the caller's assignment), whose
      // build job materializes the checkpoint — the eager count job per
      // round was pure overhead
      // fused per-subspace assignment (the pqAssign device): the code
      // is decided inside the scan stage, so each training round is ONE
      // exchange (the map-side combinable vec_mean6 update over M·Ks
      // groups) instead of two (N·M min_by aggregate + update)
      cb = Checkpoints.truncateLazy(
        sub.join(broadcast(cbRow(cb)), Seq("m"))
          .select(col("m"), expr("nearest_cell(sv, cells).cell").as("code_id"),
            col("sv"))
          .groupBy(col("m"), col("code_id"))
          .agg(expr("vec_mean6(sv)").as("csub")))
    }
    cb
  }

  /** PQ/ADC top-k with the TRAINED codebook — [[annPq]] with
    * [[pqCodebookTrained]] codewords. Spec-measured: training lifts
    * recall over the sampled codebook at the same code budget. */
  def annPqTrained(embeddings: DataFrame, k: Int = 5, iters: Int = 2): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    val cb = pqCodebookTrained(e, iters)
    val codes = pqAssign(e, cb).select(col("vec_id"), col("m"), col("code"))
    val dtable = defaultQueries(e)
      .withColumn("qm", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("q_id"), col("qm"),
        slice(col("qv"), col("qm") * PqSubDim + 1, lit(PqSubDim)).as("qsv"))
      .join(broadcast(cb), col("qm") === col("m"))
      .select(col("q_id"), col("qm"), col("code_id"),
        dist2(col("qsv"), col("csub")).as("qd2"))
    val adc = codes
      .join(broadcast(dtable),
        col("m") === col("qm") && col("code") === col("code_id") &&
          col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("qd2")))).as("arr"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + s.qd2)").as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
    adc.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"), floor6(col("adc")).as("adc"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Per-subspace codebook as ONE code_id-sorted array row per m — the
    * broadcast payload of the fused per-subspace assignment (8 rows of
    * Ks structs; the per-m equi-join is a broadcast hash probe). */
  private def cbRow(cb: DataFrame): DataFrame =
    cb.groupBy(col("m")).agg(sort_array(collect_list(
      struct(col("code_id"), col("csub")))).as("cells"))

  /** Per-(vector, subspace) nearest-codeword assignment, fused: the
    * argmin over the Ks codewords runs inside the scan stage via
    * [[graft.functions.NearestCell]] against the per-m broadcast
    * codeword array — no N×M×Ks row stream and no (vec_id, m)
    * aggregate exchange (the previous min_by shape paid both). Same
    * (d2, code_id) lexicographic order over the same sequential
    * distance fold — identical codes for well-formed codewords; ragged
    * and null-`csub` codewords are skipped, where `min_by`'s null-first
    * struct order would pick them ([[graft.functions.NearestCell]]
    * doc). Carries (vec_id, m, code, d2). */
  private def pqAssign(e: DataFrame, cb: DataFrame): DataFrame =
    e.withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sv"))
      .join(broadcast(cbRow(cb)), Seq("m"))
      .select(col("vec_id"), col("m"),
        expr("nearest_cell(sv, cells)").as("nc"))
      .select(col("vec_id"), col("m"),
        col("nc.cell").as("code"), col("nc.d2").as("d2"))

  /** Product-quantization codes: each vector → one packed 32-bit word
    * (8 nibbles, subspace m at bits 4m) + total reconstruction error.
    * The per-vector fold runs over the m-sorted struct array so the
    * error summation order is fixed (matches the oracle's ORDER BY m
    * list fold). */
  def pqCodes(embeddings: DataFrame): DataFrame = {
    val e = withVec(embeddings)
    pqAssign(e, pqCodebook(e))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("code"), col("d2")))).as("arr"))
      .select(col("vec_id"),
        expr("aggregate(arr, 0L, (acc, s) -> acc + shiftleft(s.code, cast(s.m as int) * 4))")
          .as("pq_code"),
        floor6(expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + s.d2)"))
          .as("recon_err"))
      .orderBy(col("vec_id"))
  }

  /** PQ asymmetric-distance (ADC) top-k: queries precompute an
    * O(|Q|·M·Ks) distance table to every codeword (broadcast), corpus
    * vectors participate ONLY through their 8 nibble codes — the raw
    * vectors never join, which is the whole point of PQ at 100 TB.
    * Approximate d² = Σ_m dtable[q][m][code_m], folded over the m-sorted
    * array for a fixed summation order. */
  def annPq(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = withVec(embeddings)
    annPqImpl(e, defaultQueries(e), k, broadcastD = true)
  }

  /** PQ/ADC top-k over an ARBITRARY query table with the
    * auto-broadcast gate: the O(|Q|·M·Ks) distance table broadcasts
    * when the query side is bounded; beyond the gate the ADC join
    * becomes a shuffle equi-join on the (subspace, code) keys — the
    * corpus still participates only through its nibble codes, so the
    * fallback shuffles codes, never raw vectors. */
  def annPqFor(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val e = withVec(embeddings)
    val q0 = normalizeQueries(queries)
    annPqImpl(e, q0, k, broadcastD = fitsBroadcast(q0, maxBroadcastQueries))
  }

  private def annPqImpl(e: DataFrame, q0: DataFrame, k: Int,
      broadcastD: Boolean): DataFrame = {
    // ONE codebook evaluation feeds both the corpus assignment and the
    // query distance table (its 16-row sample is checkpointed, so the
    // TakeOrdered corpus pass happens once per query, not per join)
    val cb = pqCodebook(e)
    val codes = pqAssign(e, cb).select(col("vec_id"), col("m"), col("code"))
    val dtable = q0
      .withColumn("qm", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("q_id"), col("qm"),
        slice(col("qv"), col("qm") * PqSubDim + 1, lit(PqSubDim)).as("qsv"))
      .join(broadcast(cb), col("qm") === col("m"))
      .select(col("q_id"), col("qm"), col("code_id"),
        dist2(col("qsv"), col("csub")).as("qd2"))
    val adc = codes
      .join(if (broadcastD) broadcast(dtable) else dtable,
        col("m") === col("qm") && col("code") === col("code_id") &&
          col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("qd2")))).as("arr"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + s.qd2)").as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
    adc.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"), floor6(col("adc")).as("adc"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** IVF+PQ composed ANN — the billion-vector architecture: the coarse
    * quantizer (adaptive-K md5-sampled centroids, [[ivfKFor]]) ROUTES
    * each query to its `IvfProbes` nearest cells, and PQ/ADC RANKS the
    * candidates within the probed cells. The corpus contributes only
    * (vec_id, cell) plus its 8 nibble codes to the join graph — raw
    * vectors never shuffle, which is what makes the shape hold at
    * 100 TB: centroid broadcast O(K ≤ 4096), codebook O(M·Ks), query
    * distance table O(|Q|·M·Ks), candidate set ≈ nprobe·N/K rows of
    * (q_id, vec_id, cell) ids. Versus [[annPq]] (ADC over the WHOLE
    * corpus) the routed candidate set shrinks by ~K/nprobe; versus
    * [[annIvf]] (exact cosine in-cell) the ranking never touches raw
    * vectors. ADC folds over the m-sorted struct array for a fixed
    * summation order (the [[annPq]] device). */
  def annIvfPq(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    annIvfPqImpl(e, defaultQueries(e), k, broadcastQ = true)
  }

  /** IVF+PQ over an ARBITRARY query table with the auto-broadcast gate
    * (the [[annLshFor]]/[[annPqFor]] device): a bounded query set
    * broadcasts its probe rows and ADC distance table; an
    * over-threshold set falls back to shuffle equi-joins on the cell /
    * (subspace, code) keys — either way the corpus side still joins
    * only through ids and nibble codes. */
  def annIvfPqFor(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    val q0 = normalizeQueries(queries)
    annIvfPqImpl(e, q0, k, broadcastQ = fitsBroadcast(q0, maxBroadcastQueries))
  }

  private def annIvfPqImpl(e: DataFrame, q0: DataFrame, k: Int,
      broadcastQ: Boolean): DataFrame =
    adcTopK(ivfPqAdcFrame(e, q0, broadcastQ), k)

  /** Rank an ADC candidate frame to its top-k — [[annIvfPq]]'s output
    * shape, split out so a shared [[ivfPqAdcFrame]] can feed both the
    * ADC ranking and the refine shortlist without rebuilding the
    * index (the compute-once device [[annRecallReport]] rides). */
  private def adcTopK(adc: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
    adc.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"), col("cell"),
        floor6(col("adc")).as("adc"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The IVF-routed ADC candidate frame (q_id, nn_id, cell, adc) —
    * [[annIvfPq]]'s core before ranking, shared with the refine stage
    * ([[annIvfPqRefine]]), which ranks a LONGER shortlist from the same
    * frame before the exact re-rank. */
  private def ivfPqAdcFrame(e: DataFrame, q0: DataFrame,
      broadcastQ: Boolean): DataFrame = {
    // K rows, lazily checkpointed: ONE TakeOrdered pass for the
    // centroid frame's two consumers (assignment array + query probe)
    val cents = Checkpoints.truncateLazy(sampledCentroids(e, adaptiveK(e)))
    // corpus routing, fused (assignCells): the cell is decided inside
    // the scan stage — no N×K stream, no aggregate exchange
    val assign = assignCells(e, cents).select(col("vec_id"), col("cell"))
    // query routing: nprobe nearest cells; the window partitions by
    // q_id, so even the over-gate fallback never sorts the corpus
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cent_id"))
    val qcells = q0.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cent_id"), dist2(col("qv"), col("cv")).as("d2"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= IvfProbes)
      .select(col("q_id"), col("cent_id").as("qcell"))
    // ONE codebook evaluation feeds the corpus codes and the query
    // distance table (its Ks-row sample is checkpointed — one
    // TakeOrdered corpus pass total, the annPq device)
    val cb = pqCodebook(e)
    val codes = pqAssign(e, cb).select(col("vec_id"), col("m"), col("code"))
    val dtable = q0
      .withColumn("qm", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("q_id").as("dq_id"), col("qm"),
        slice(col("qv"), col("qm") * PqSubDim + 1, lit(PqSubDim)).as("qsv"))
      .join(broadcast(cb), col("qm") === col("m"))
      .select(col("dq_id"), col("qm"), col("code_id"),
        dist2(col("qsv"), col("csub")).as("qd2"))
    val cand = assign.join(
        if (broadcastQ) broadcast(qcells) else qcells,
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"))
    cand.join(codes, Seq("vec_id"))
      .join(if (broadcastQ) broadcast(dtable) else dtable,
        col("q_id") === col("dq_id") && col("m") === col("qm") &&
          col("code") === col("code_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        sort_array(collect_list(struct(col("m"), col("qd2")))).as("arr"))
      .select(col("q_id"), col("vec_id").as("nn_id"), col("cell"),
        expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + s.qd2)").as("adc"))
  }

  /** Shortlist length for the refine stage: how many ADC-ranked
    * candidates get their exact distance recomputed per query. */
  val RefineShortlist = 32

  /** IVF+PQ with EXACT RE-RANKING — the recall fix every production
    * ANN deployment ships (FAISS's `IndexRefineFlat` pattern): the
    * compressed index only SHORTLISTS. ADC's 4-bit codes rank a
    * `shortlist`-deep candidate set per query (cheap, code-only joins,
    * [[ivfPqAdcFrame]]), then ONLY those |Q|·shortlist ids join back to
    * raw vectors for the exact cosine that decides the final top-k.
    *
    * Scale shape: the shortlist is bounded by construction, so it
    * BROADCASTS and the raw-vector rejoin is a broadcast-hash probe of
    * the corpus scan — the 100 TB corpus contributes (vec_id, cell) +
    * nibble codes to the search and streams only |Q|·shortlist full
    * vectors to the refine, never shuffling them. Output carries both
    * ranks (`ark` = ADC shortlist rank, `rk` = exact-cosine rank) so
    * the re-ranking effect is visible in the gated result; recall vs
    * the brute ceiling is spec-asserted (refine ≥ unrefined E11). */
  def annIvfPqRefine(embeddings: DataFrame, k: Int = 5,
      shortlist: Int = RefineShortlist): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    val q0 = defaultQueries(e)
    refineFromAdc(e, q0, ivfPqAdcFrame(e, q0, broadcastQ = true), k, shortlist)
  }

  /** The exact re-rank stage over an ALREADY-BUILT ADC frame: shortlist
    * the frame's top-`shortlist` per query, broadcast it, and recompute
    * exact cosine against streamed raw vectors. Split out so the
    * recall report can feed ADC ranking and refine from ONE shared
    * index build instead of two. */
  private def refineFromAdc(e: DataFrame, q0: DataFrame, adc: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val wa = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
    val sl = adc.withColumn("ark", row_number().over(wa).cast("long"))
      .filter(col("ark") <= shortlist)
      .select(col("q_id"), col("nn_id"), col("ark"))
    val refined = e.select(col("vec_id").as("nn_id"), col("v"))
      .join(broadcast(sl), Seq("nn_id"))
      .join(broadcast(q0), Seq("q_id"))
      .select(col("q_id"), col("nn_id"), col("ark"),
        expr("cosine_sim(v, qv)").as("cos"))
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nn_id"))
    refined.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"),
        round(col("cos") + lit(5e-9), 4).as("cos"), col("ark"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Residual IVF+PQ — IVFADC proper (Jégou, Douze, Schmid, TPAMI'11):
    * the product quantizer encodes RESIDUALS r = x − centroid(cell)
    * instead of raw vectors, and each query builds a distance table
    * per PROBED CELL against its own residual q − centroid. On real
    * (clustered) corpora residuals concentrate around the origin and
    * the same 8-nibble budget buys more resolution — the reason IVFADC
    * is the billion-vector standard. On THIS repo's near-uniform
    * synthetic embeddings the premise inverts: a residual is the
    * difference of two nearly-independent vectors, so its per-subspace
    * variance is ~2× the raw subvectors' and it is strictly HARDER to
    * quantize at the same code budget — measured recall@5 is ~half of
    * raw-space [[annIvfPq]] (0.09 vs 0.18), and `trainIters > 0`
    * (k-means on the pooled residual distribution) does not close the
    * gap (0.088 trained vs 0.088 sampled) because the deficit is
    * variance, not codeword placement. All spec-documented; the oracle
    * row gates exactness either way. Join discipline is unchanged: the
    * corpus contributes (vec_id, cell) + codes; the
    * dtable broadcast grows to O(|Q|·nprobe·M·Ks) — still bounded by
    * the query side. Residual subtraction is one exact per-element
    * zip_with (order-free, identical doubles in both engines). */
  def annIvfPqResidual(embeddings: DataFrame, k: Int = 5,
      trainIters: Int = 0): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    // K rows, lazily checkpointed: ONE TakeOrdered pass for the
    // centroid frame's three consumers (assignment array, residual
    // centroid re-attach, query probe)
    val cents = Checkpoints.truncateLazy(sampledCentroids(e, adaptiveK(e)))
    // Fused assignment (assignCells): the cell is decided inside the
    // scan stage and v is already on the row, so the former N×K
    // expansion, its corpus-scale min_by exchange AND the vec_id
    // re-join are all gone. The residual is built right after:
    // centroid vectors come back via the same ≤~2 MB broadcast the
    // assignment array rode in on.
    val assign = Ema.persistTracked(
      assignCells(e, cents)
        .join(broadcast(cents.select(col("cent_id").as("cell"), col("cv"))),
          Seq("cell"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("r")))
    // trainIters > 0: k-means-train the codebook ON THE RESIDUAL
    // DISTRIBUTION (pooled across cells) — the piece that was missing
    // when the sampled residual codebook lost to raw-space PQ: training
    // learns where the residuals actually live
    val resFrame = assign.select(col("vec_id"), col("r").as("v"))
    val cb = if (trainIters > 0) pqCodebookTrained(resFrame, trainIters)
      else pqCodebookFrom(resFrame)
    val codes = pqAssign(assign.select(col("vec_id"), col("r").as("v")), cb)
      .select(col("vec_id"), col("m"), col("code"))
    // query side: nprobe cells, one residual per (query, probed cell)
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cent_id"))
    val qprobe = defaultQueries(e).crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("cent_id"), col("cv"),
        dist2(col("qv"), col("cv")).as("d2"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= IvfProbes)
      .select(col("q_id"), col("cent_id").as("qcell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))
    val dtable = qprobe
      .withColumn("qm", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("q_id").as("dq_id"), col("qcell").as("dcell"), col("qm"),
        slice(col("qr"), col("qm") * PqSubDim + 1, lit(PqSubDim)).as("qsv"))
      .join(broadcast(cb), col("qm") === col("m"))
      .select(col("dq_id"), col("dcell"), col("qm"), col("code_id"),
        dist2(col("qsv"), col("csub")).as("qd2"))
    val cand = assign.select(col("vec_id"), col("cell"))
      .join(broadcast(qprobe.select(col("q_id"), col("qcell"))),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"))
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(dtable),
        col("q_id") === col("dq_id") && col("cell") === col("dcell") &&
          col("m") === col("qm") && col("code") === col("code_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        sort_array(collect_list(struct(col("m"), col("qd2")))).as("arr"))
      .select(col("q_id"), col("vec_id").as("nn_id"), col("cell"),
        expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + s.qd2)").as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
    adc.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"), col("cell"),
        floor6(col("adc")).as("adc"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** ANN recall report — the evaluation a 100 TB vector deployment
    * publishes BEFORE switching search paths: per query, how many of
    * the exact cosine top-k ([[annBruteforce]], the ceiling) the
    * compressed index recovers, ADC-only ([[annIvfPq]]) next to
    * exact-re-ranked ([[annIvfPqRefine]]) and the graph walk
    * ([[annGraph]]) so the refine lift AND the graph method's recall
    * are themselves oracle-gated numbers rather than spec-only
    * measurements. All
    * hit counts are exact integers; the recall ratios divide the same
    * integers in both engines (bit-identical doubles).
    *
    * COMPUTE-ONCE: the IVF assignment + PQ codebook/codes (the full
    * corpus passes of the index build) are built ONCE as a shared,
    * persisted [[ivfPqAdcFrame]]; the ADC top-k and the refine
    * shortlist both rank that one frame, so the report pays one index
    * build instead of two (plus the brute ceiling's one corpus scan).
    * Identical results to running the three public pipelines
    * back-to-back — the sampling is md5-deterministic — and
    * parity-spec'd against them; the report then joins only bounded
    * (q_id, nn_id) id sets, |Q|·k rows each. */
  def annRecallReport(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    val q0 = defaultQueries(e)
    val adcF = Ema.persistTracked(ivfPqAdcFrame(e, q0, broadcastQ = true))
    val brute = rankTopK(bruteCandidates(e, broadcast(q0)), k)
      .select(col("q_id"), col("nn_id"))
    val adc = adcTopK(adcF, k).select(col("q_id"), col("nn_id"))
    val ref = refineFromAdc(e, q0, adcF, k, RefineShortlist)
      .select(col("q_id"), col("nn_id"))
    val gr = annGraphFrom(e, q0, k).select(col("q_id"), col("nn_id"))
    val b = brute.groupBy(col("q_id")).agg(count(lit(1)).as("n_brute"))
    val hA = brute.join(adc, Seq("q_id", "nn_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("h_adc"))
    val hR = brute.join(ref, Seq("q_id", "nn_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("h_ref"))
    val hG = brute.join(gr, Seq("q_id", "nn_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("h_graph"))
    b.join(hA, Seq("q_id"), "left").join(hR, Seq("q_id"), "left")
      .join(hG, Seq("q_id"), "left")
      .select(col("q_id"), col("n_brute"),
        coalesce(col("h_adc"), lit(0L)).as("hits_adc"),
        coalesce(col("h_ref"), lit(0L)).as("hits_refined"),
        coalesce(col("h_graph"), lit(0L)).as("hits_graph"),
        round(coalesce(col("h_adc"), lit(0L)).cast("double")
          / col("n_brute").cast("double") + lit(5e-9), 4).as("recall_adc"),
        round(coalesce(col("h_ref"), lit(0L)).cast("double")
          / col("n_brute").cast("double") + lit(5e-9), 4).as("recall_refined"),
        round(coalesce(col("h_graph"), lit(0L)).cast("double")
          / col("n_brute").cast("double") + lit(5e-9), 4).as("recall_graph"))
      .orderBy(col("q_id"))
  }

  /** nprobe grid for the IVF probe-budget tuning contract. */
  val IvfTuningGrid: Seq[Int] = Seq(1, 2, 4, 6, 8, 12)

  /** IVF probe-budget tuning contract — the E-family twin of the dedup
    * family's `q_lsh_tuning`: for each nprobe on [[IvfTuningGrid]], the
    * MEASURED recall against the brute ceiling plus the candidate rows
    * that recall cost, so a user choosing nprobe for [[annIvf]] has a
    * gated trade-off curve instead of a fixed constant. Per grid row:
    * the probed-cell fraction (`cells_ppm` = nprobe/K), the exact
    * candidate count (`cand_rows` — the number of exact-cosine
    * evaluations the probe pays), brute hits recovered, `recall_ppm`,
    * and `eff_ppm` = hits per million candidates (recall-per-candidate,
    * the budget-normalized score). The `chosen` flag marks the argmax
    * of (eff_ppm, then smaller nprobe) via a one-row min(struct)
    * broadcast — no global window. All ratios divide exact integers
    * (`DIV`), so both engines produce bit-identical rows.
    *
    * COMPUTE-ONCE at corpus scale: ONE narrow N×K assignment pass
    * (ids + distances, the [[ivfProbe]] discipline) shared by every
    * grid point — the per-nprobe candidate sets are nested by
    * construction (cell rank ≤ nprobe), so one candidate frame tagged
    * with the probe rank serves the whole grid — plus the brute
    * ceiling's one corpus scan (inherent to measuring recall, same as
    * [[annRecallReport]]). Everything downstream is |Q|-bounded. */
  def ivfTuning(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = Ema.persistTracked(withVec(embeddings))
    val kCent = adaptiveK(e)
    // K rows, lazily checkpointed: one TakeOrdered pass for the two
    // consumers (assignment array + query probe)
    val cents = Checkpoints.truncateLazy(sampledCentroids(e, kCent))
    val maxNp = IvfTuningGrid.max
    // fused assignment (assignCells): cell decided in the scan stage
    val assign = assignCells(e, cents)
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cent_id"))
    val qcells = e.filter(col("vec_id") < QueryCount)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        dist2(col("v"), col("cv")).as("d2"))
      .withColumn("prk", row_number().over(wProbe).cast("long"))
      .filter(col("prk") <= maxNp)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("cent_id").as("qcell"), col("prk"))
    // candidate frame tagged with the probe rank of its cell — persisted
    // once for its two consumers (per-nprobe counts and per-nprobe
    // top-k); |Q|·maxNp·cellsize bounded
    val cand = Ema.persistTracked(
      assign.join(broadcast(qcells),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nn_id"), col("prk"),
          expr("cosine_sim(v, qv)").as("cos"))
        .filter(col("cos").isNotNull))
    val brute = Ema.persistTracked(
      rankTopK(bruteCandidates(e, broadcast(defaultQueries(e))), k)
        .select(col("q_id"), col("nn_id")))
    val grid = IvfTuningGrid.map(_.toLong).toDF("nprobe")
    val candg = cand.crossJoin(broadcast(grid)).filter(col("prk") <= col("nprobe"))
    val wk = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    val topk = candg.withColumn("rk", row_number().over(wk)).filter(col("rk") <= k)
    val hits = topk.join(brute, Seq("q_id", "nn_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    val candRows = candg.groupBy(col("nprobe")).agg(count(lit(1)).as("cand_rows"))
    val nb = brute.agg(count(lit(1)).as("n_brute"))
    val scored = grid
      .join(candRows, Seq("nprobe"), "left")
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nb))
      .select(col("nprobe"),
        lit(kCent.toLong).as("n_cells"),
        expr(s"nprobe * 1000000 DIV ${kCent}L").as("cells_ppm"),
        coalesce(col("cand_rows"), lit(0L)).as("cand_rows"),
        col("n_brute"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000 DIV n_brute"))
      .withColumn("eff_ppm", expr(
        "CASE WHEN cand_rows = 0 THEN 0L ELSE hits * 1000000 DIV cand_rows END"))
      .withColumn("neg_eff", -col("eff_ppm"))
    val mn = scored.agg(min(struct(col("neg_eff"), col("nprobe"))).as("mn"))
    scored.crossJoin(broadcast(mn))
      .select(col("nprobe"), col("n_cells"), col("cells_ppm"), col("cand_rows"),
        col("n_brute"), col("hits"), col("recall_ppm"), col("eff_ppm"),
        (struct(col("neg_eff"), col("nprobe")) === col("mn")).as("chosen"))
      .orderBy(col("nprobe"))
  }

  /** Driver-side twin of [[ivfTuning]]'s argmax: the nprobe whose
    * recall-per-candidate is best on THIS corpus — the value a pipeline
    * passes straight into [[annIvf]]. The one-row collect is parameter
    * selection (the [[graft.operators.Dedup.lshChoose]] discipline):
    * it happens before — and configures — the production probe pass. */
  def ivfChooseNprobe(embeddings: DataFrame, k: Int = 5): Int =
    ivfTuning(embeddings, k).filter(col("chosen"))
      .select(col("nprobe")).head.getLong(0).toInt

  /** Bounded out-degree of the ANN neighbor graph. */
  val GraphDegree = 8
  /** Beam width of the graph search (≥ 2·k so the entry beam's top-k
    * already equals the full LSH candidate top-k — the monotonicity the
    * recall spec leans on). */
  val GraphBeam = 16
  /** Fixed expansion rounds — deterministic, oracle-unrollable. */
  val GraphRounds = 2

  /** GRAPH-BASED ANN — the fourth production index architecture beside
    * LSH / IVF / PQ (the HNSW/NSG family, flattened to one layer): a
    * bounded-degree kNN neighbor GRAPH built offline, then per-query
    * BEAM SEARCH walking it — candidates reached by graph hops that no
    * hash bucket or coarse cell would have surfaced.
    *
    * Build: the capped LSH band pair join ([[embedNeardupLsh]]'s
    * discipline — bucket size ≤ [[NeardupMaxBucket]], so pair fan-out
    * is bounded on any corpus) scores candidate pairs once with exact
    * cosine; each vector keeps its [[GraphDegree]] best out-edges
    * (cos desc, dst asc — one bounded-partition window over capped
    * buckets, never a corpus sort). Edges are (src, dst) id pairs: at
    * 100 TB the graph is id-narrow and the vectors never shuffle.
    *
    * Search: the entry beam is the query's multiprobe LSH candidates
    * ([[annLshMultiprobe]]'s probes) ranked to [[GraphBeam]]; each of
    * [[GraphRounds]] rounds expands the beam through the edge list
    * (id-only equi-join), scores ONLY the newly reached ids with exact
    * cosine (corpus vectors stream into a broadcast-query probe), and
    * re-ranks to the beam width. Fixed rounds keep the plan static and
    * the DuckDB oracle an unrolled CTE chain; every per-round frame is
    * |Q|·beam·degree bounded. Monotone by construction: the candidate
    * pool only grows and the final top-k ranks exact cosines, so
    * recall ≥ the entry-only LSH multiprobe top-k — spec-asserted,
    * with the measured lift vs IVF+PQ-refine reported. */
  def annGraph(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = Ema.persistTracked(withVec(embeddings))
    annGraphFrom(e, defaultQueries(e), k)
  }

  /** [[annGraph]]'s core over an already-prepared corpus/query pair —
    * shared with [[annRecallReport]] so the report gates the graph
    * method without a second corpus preparation. */
  private def annGraphFrom(e: DataFrame, q0: DataFrame, k: Int): DataFrame = {
    // ---- build: capped pairs -> bounded-degree out-edges
    val bk = corpusBuckets(e)
      .select(col("vec_id"), col("v"), col("t"), col("bucket"))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("t"), col("bucket"))))
      .filter(col("bsz") <= NeardupMaxBucket)
    // ONE candidate exchange, not two: the r12 shape shuffled all
    // ~131M candidate pairs TWICE (a full-width distinct exchange,
    // then the ranking window's src exchange over the distinct pairs —
    // 40.4 s of the 54.8 s sf10 wall). Here the RAW (duplicated)
    // stream ranks first — WindowGroupLimit retains top-(degree·tables)
    // per src map-side before the single src exchange — and the
    // per-pair dedupe is a LAG pass in the SAME window (no second
    // exchange at all): duplicates of a (src, dst) pair carry
    // bit-identical ecos (a pure function of the pair), so under
    // (ecos DESC, dst ASC) they are ADJACENT and `lag(dst) <> dst`
    // keeps exactly one. EXACT by construction: each pair appears
    // ≤ LshTables times, so every member of the distinct
    // top-GraphDegree sits within raw rank ≤ GraphDegree·LshTables —
    // the cap drops nothing that could rank. Equality with the
    // two-exchange shape is spec-gated (PlanShapeSpec exchange bound +
    // Round13OpsSpec set equality) and was diffed empty at sf0.1 and
    // sf10 (edge build 39.3 → 18.9 s; q_ann_graph 54.8 → 30.6 s sf10).
    val wd = Window.partitionBy(col("src")).orderBy(col("ecos").desc, col("dst"))
    val rawPairs = bk.as("l")
      .join(bk.as("r"),
        col("l.t") === col("r.t") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.vec_id").as("src"), col("r.vec_id").as("dst"),
        expr("cosine_sim(l.v, r.v)").as("ecos"))
      .filter(col("ecos").isNotNull)
    val edges = Ema.persistTracked(
      rawPairs.withColumn("rrk", row_number().over(wd))
        .filter(col("rrk") <= GraphDegree * LshTables)
        .withColumn("prev", lag(col("dst"), 1).over(wd))
        .filter(col("prev").isNull || col("prev") =!= col("dst"))
        .withColumn("erk", row_number().over(wd))
        .filter(col("erk") <= GraphDegree)
        .select(col("src"), col("dst")))
    // ---- search: multiprobe entries, then fixed-round beam expansion
    val wb = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nn_id"))
    var beam = Ema.persistTracked(
      lshCandidatePairsFor(e, q0, probed = true, broadcastQ = true)
        .withColumn("brk", row_number().over(wb))
        .filter(col("brk") <= GraphBeam)
        .select(col("q_id"), col("nn_id"), col("cos")))
    for (_ <- 1 to GraphRounds) {
      // ONE distinct over (surviving beam ids ∪ newly reached ids), then
      // ONE scoring join over that candidate set. The r12 shape scored
      // only the new ids and then deduped old-vs-new with a
      // union+groupBy(max) — a second (q_id, nn_id) exchange per round.
      // cos is a pure function of the pair (the identical double fold),
      // so re-scoring a kept beam member reproduces its value exactly
      // and max()-dedupe was never a choice — the candidate-set form is
      // the same set of (q_id, nn_id, cos) rows with one exchange less;
      // the re-scored rows are |Q|·beam — metadata-scale at any corpus.
      val cand = beam.select(col("q_id"), col("nn_id"))
        .unionByName(
          beam.select(col("q_id"), col("nn_id").as("src"))
            .join(edges, Seq("src"))
            .select(col("q_id"), col("dst").as("nn_id"))
            .filter(col("nn_id") =!= col("q_id")))
        .distinct()
      beam = Ema.persistTracked(
        cand
          .join(e.select(col("vec_id").as("nn_id"), col("v")), Seq("nn_id"))
          .join(broadcast(q0), Seq("q_id"))
          .select(col("q_id"), col("nn_id"), expr("cosine_sim(v, qv)").as("cos"))
          .filter(col("cos").isNotNull)
          .withColumn("brk", row_number().over(wb))
          .filter(col("brk") <= GraphBeam)
          .select(col("q_id"), col("nn_id"), col("cos")))
    }
    beam.withColumn("rk", row_number().over(wb).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("nn_id"),
        round(col("cos") + lit(5e-9), 4).as("cos"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Embedding-cosine near-dup pairs in an id-banded candidate window
    * (offset-explode equi-join: b.vec_id = a.vec_id + off, off ∈ 1..10). */
  /** kNN majority-vote classification over the `label` column — the
    * standard embedding-quality eval (a good embedding space puts
    * same-label points together): each bounded query's k exact nearest
    * neighbours ([[annBruteforce]], the recall ceiling) vote with their
    * labels; prediction = (votes DESC, label ASC) argmax via map-side
    * `max_by`, compared against the query's own label.
    *
    * Scale shape: inherits the brute scan's one-corpus-pass cost (the
    * documented bounded crossJoin); everything after it is |Q|·k rows,
    * and the label join back to the corpus BROADCASTS the |Q|-row
    * prediction table — the corpus-sized label projection is never
    * shuffled. Swap [[annBruteforce]] for any indexed variant to eval
    * the index's end-task cost, not just its recall. */
  def knnClassify(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val lbl = embeddings.select(col("vec_id"), col("label").cast("long"))
    val pred = lbl.toDF("nn_id", "nn_label")
      .join(broadcast(annBruteforce(embeddings, k)), Seq("nn_id"))
      .groupBy(col("q_id"), col("nn_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(max_by(struct(col("nn_label"), col("votes")),
        struct(col("votes"), negate(col("nn_label")))).as("best"),
        sum(col("votes")).as("n_neighbors"))
      .select(col("q_id"), col("best.nn_label").as("pred_label"),
        col("best.votes").as("votes"), col("n_neighbors"))
    lbl.toDF("q_id", "own_label")
      .join(broadcast(pred), Seq("q_id"))
      .select(col("q_id"), col("own_label"), col("pred_label"), col("votes"),
        col("n_neighbors"),
        (col("own_label") === col("pred_label")).as("correct"))
      .orderBy(col("q_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication over embedding clusters — cluster the corpus, compare
    * only within-cluster members, remove every vector that has a
    * higher-priority near-duplicate (cosine ≥ τ) in its cluster. The
    * published recipe's k-means is the [[annIvf]] assignment verbatim
    * (scale-adaptive K = clamp(⌈√N⌉, 32, 4096) md5-sampled centroids,
    * O(K) broadcast, map-side-combinable `min_by` — no corpus window);
    * keep-priority is min vec_id, the engine's deterministic stand-in
    * for the paper's distance-to-centroid tie-break.
    *
    * Scale shape: the N×K assignment stream carries (vec_id, cent_id,
    * d2) only — vectors rejoin ONCE after the cell is decided (the
    * narrow-expansion rule measured 15× on the residual ANN variant).
    * Pair fan-out is bounded by a per-cell membership cap (md5-rank ≤
    * `cap`, the LSH family's 64-member device): pairs per cell ≤
    * cap·(cap−1)/2 no matter how skewed the clustering, so the pair join
    * is O(K·cap²) globally — vectors beyond the cap are admitted
    * uncompared (a documented recall bound, not a correctness one; at
    * 100 TB raise K, not the cap). The final per-victim argmax collapses
    * map-side via `max_by` — no pair-stream window.
    *
    * Output: one row per REMOVED vector — (vec_id, cell, dup_of = its
    * highest-cosine lower-id duplicate, cos 4dp) — deterministic under
    * (cos DESC, dup_of ASC) tie-break in both engines. */
  def semDedup(embeddings: DataFrame, tau: Double = 0.2,
      cap: Int = 64): DataFrame = {
    val e = withVec(embeddings)
    val wCap = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    // fused assignment (assignCells): the cell is decided inside the
    // scan stage and v is already on the row — no N×K stream, no
    // min_by aggregate exchange, and the post-cap vec_id re-join is
    // gone (the cap window's one cell-keyed exchange now carries v)
    val member = assignCells(e, sampledCentroids(e, adaptiveK(e)))
      .withColumn("rn", row_number().over(wCap)).filter(col("rn") <= cap)
      .select(col("vec_id"), col("cell"), col("v"))
    val a = member.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"))
    val b = member.select(col("cell"), col("vec_id").as("vec_b"),
      col("v").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") > col("vec_b"))
      .select(col("vec_a"), col("cell"), col("vec_b"),
        expr("cosine_sim(va, vb)").as("cos"))
      .filter(col("cos").isNotNull && col("cos") >= tau)
      .groupBy(col("vec_a"), col("cell"))
      .agg(max_by(struct(col("vec_b").as("dup_of"), col("cos")),
        struct(col("cos"), negate(col("vec_b")))).as("best"))
      .select(col("vec_a").as("vec_id"), col("cell"),
        col("best.dup_of").as("dup_of"),
        round(col("best.cos") + lit(5e-9), 4).as("cos"))
      .orderBy(col("vec_id"))
  }

  def embedNeardup(embeddings: DataFrame, maxOffset: Int = 10,
      threshold: Double = 0.25): DataFrame = {
    val e = withVec(embeddings)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .withColumn("off", explode(sequence(lit(1), lit(maxOffset))))
      .withColumn("b_id", col("vec_a") + col("off"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("b_id") === col("vec_b"))
      .select(col("vec_a"), col("vec_b"), expr("cosine_sim(va, vb)").as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos") + lit(5e-9), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
