package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Training-data export operators: the steps between a cleaned corpus and
  * a training run at 100 TB.
  *
  * All randomness is md5-derived from stable ids, so splits/shuffles are
  * deterministic, reproducible across engines (oracle-checked) and across
  * cluster re-runs — the property a production data pipeline needs for
  * resumable exports.
  *
  * Scale notes: split/redact are per-row projections (no shuffle);
  * shard-pack shuffles once on the shard key and packs with a running
  * token sum per shard; decontamination is an n-gram semi-join where only
  * (doc_id, ngram-hash) pairs cross the wire.
  */
object TrainingData {

  /** Stable 0..99 bucket from the doc id (first 4 md5 hex digits). */
  private val bucket: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** Deterministic 90/10 train/eval split on hashed doc_id. */
  def trainSplit(docs: DataFrame, trainPct: Int = 90): DataFrame =
    docs.select(col("doc_id"), bucket.as("bucket"),
        when(bucket < trainPct, "train").otherwise("eval").as("split"))
      .orderBy(col("doc_id"))

  /** Shard count targeting ~`tokensPerShard` tokens per output shard —
    * [[shardPack]]'s default `shards = 8` keeps the oracle reproducible,
    * but at corpus scale the caller should size shards to the data (8
    * sorted partitions would cap write parallelism). */
  def autoShards(totalTokens: Long, tokensPerShard: Long = 100000000L): Int =
    math.max(8, math.min(1 << 20, totalTokens / tokensPerShard).toInt)

  /** Global pseudo-shuffle + shard assignment + greedy token packing:
    * order docs by a stable hash, deal them into `shards`, and bin each
    * shard's stream into ~`packTokens`-token packs by running token count
    * (a doc starting before a boundary joins the earlier pack — the usual
    * streaming-packing approximation). */
  def shardPack(docs: DataFrame, shards: Int = 8, packTokens: Int = 4096): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val tokens = size(split(trim(col("text")), "\\s+")).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val cum = sum(col("tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0))
    docs.select(col("doc_id"), h.as("h"), (h % shards).as("shard"), tokens.as("tokens"))
      .select(col("doc_id"), col("shard"), col("tokens"),
        row_number().over(w).cast("long").as("pos"),
        cum.as("cum_tokens"))
      .withColumn("pack_id", expr(s"(cum_tokens - tokens) div $packTokens"))
      .drop("cum_tokens")
      .orderBy(col("shard"), col("pos"))
  }

  /** Benchmark decontamination: flag corpus docs sharing any word-5-gram
    * with the benchmark set (here: source = 'src0' plays the benchmark).
    * Only (doc_id, ngram) pairs shuffle; the verdict is a grouped count
    * over the n-gram equi-join. */
  def decontaminate(docs: DataFrame, benchmarkSource: String = "src0"): DataFrame = {
    // NOT persisted (measured, r13): recompute beats the string-cache
    // write; AQE stage reuse shares the shingle distinct at runtime.
    val ng5 = Dedup.wordNgrams(docs.select(col("doc_id"), col("text")), 5)
    val sources = docs.select(col("doc_id"), col("source"))
    val bench = ng5.join(sources.filter(col("source") === benchmarkSource), Seq("doc_id"))
      .select(col("ng")).distinct()
    val candidates = sources.filter(col("source") =!= benchmarkSource)
    val shared = ng5.join(candidates, Seq("doc_id"))
      .join(bench, Seq("ng"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    candidates.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1L).otherwise(0L).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic data mixing: sample each source at its own rate via a
    * stable per-doc hash bucket (src0 fully, others at `defaultPct`%) —
    * the corpus-weighting step of a training mix, reproducible across
    * runs and engines. */
  def dataMix(docs: DataFrame, defaultPct: Int = 50,
      fullSources: Seq[String] = Seq("src0")): DataFrame = {
    val keep = col("source").isin(fullSources.map(x => x: Any): _*) ||
      bucket < defaultPct
    docs.filter(keep)
      .select(col("doc_id"), col("source"), bucket.as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-balanced source mixing (α = 0.5): per-source weights
    * w_s = √n_s flatten the corpus mix the way multilingual training
    * mixes flatten language skew; sampling rate r_s = min(1,
    * target·share_s/n_s) and the per-doc keep is the same md5-bucket
    * device as [[dataMix]]. √ is IEEE-correctly-rounded in BOTH engines
    * (unlike pow, whose last ulp differs — that's why α is 1/2), and
    * the weight total folds over the source-sorted list so the 3-term
    * double sum has one fixed order. Stats are dictionary-sized and
    * broadcast; docs never shuffle. */
  def temperatureMix(docs: DataFrame, targetTotal: Int = 300): DataFrame = {
    val stats = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      .withColumn("w", sqrt(col("n_source").cast("double")))
    val tot = stats
      .agg(sort_array(collect_list(struct(col("source"), col("w")))).as("arr"))
      .select(expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + s.w)")
        .as("tw"))
    val rate = least(lit(1.0),
      lit(targetTotal.toDouble) * (col("w") / col("tw")) / col("n_source")
        .cast("double"))
    val withRate = stats.crossJoin(broadcast(tot))
      .select(col("source"), col("n_source"), rate.as("rate"))
    docs.join(broadcast(withRate), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_source"),
        bucket.as("bucket"),
        r4(col("rate")).as("rate"),
        (bucket.cast("double") < col("rate") * 100).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Pack-efficiency report over [[shardPack]]'s greedy packing: docs,
    * token total, and fill ratio per (shard, pack) — the "how full are
    * my context windows" QA step of an export. A pack can overflow its
    * nominal budget by its last document (greedy boundary rule), so
    * fill > 1 is expected and reported, not clamped. Pure composition:
    * one extra dictionary-sized aggregate over the packing output. */
  def packEfficiency(docs: DataFrame, shards: Int = 8,
      packTokens: Int = 4096): DataFrame =
    shardPack(docs, shards, packTokens)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("pack_tokens"))
      .select(col("shard"), col("pack_id"), col("n_docs"), col("pack_tokens"),
        r4(col("pack_tokens").cast("double") / packTokens)
          .as("fill"))
      .orderBy(col("shard"), col("pack_id"))

  /** Sliding-window document chunking: split each document into
    * `size`-char windows advancing by `size - overlap` — the
    * context-window packing step before tokenization in a training-data
    * export. Chunk starts are 0, stride, 2·stride, …; a final window
    * whose text is entirely contained in the previous one (i.e.
    * n_chars ≤ start + overlap) is dropped. Pure integer + substring
    * arithmetic so the oracle reproduces chunks bit-for-bit; output
    * carries the chunk md5 (not the text) to keep the dump compact.
    *
    * Scale: a narrow per-row explode — no shuffle; each doc expands to
    * ceil(n_chars/stride) rows partition-locally, so the operator
    * streams at scan speed on any corpus size. */
  def docChunk(docs: DataFrame, size: Int = 200, overlap: Int = 50): DataFrame = {
    require(overlap < size, "overlap must be < size")
    val stride = size - overlap
    docs
      // empty docs contribute no chunks (and sequence(0, -1, stride)
      // would throw); mirrors the oracle's empty generate_series
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("text"), col("n_chars"),
        posexplode(sequence(lit(0L), col("n_chars") - 1, lit(stride.toLong)))
          .as(Seq("chunk_id", "chunk_start")))
      .filter(col("chunk_start") === 0 || col("n_chars") > col("chunk_start") + overlap)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_start"),
        length(expr(s"substring(text, chunk_start + 1, $size)")).cast("long").as("chunk_len"),
        md5(expr(s"substring(text, chunk_start + 1, $size)")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Bloom-filter decontamination — the constant-memory scale path for
    * [[decontaminate]]'s n-gram semi-join. The benchmark side's distinct
    * 5-grams are folded into a single Bloom filter (one aggregation pass;
    * the filter is megabytes even for 10⁸ n-grams at 1% fpp), broadcast
    * to every executor, and each candidate doc's n-grams probe it
    * partition-locally — NO shuffle of the corpus n-grams at all, which
    * at 100 TB replaces the semi-join's biggest exchange with a
    * broadcast. Bloom semantics: zero false negatives (every truly
    * contaminated doc is flagged) with an fpp-bounded rate of clean docs
    * flagged spuriously — the conservative direction for
    * decontamination. Spec-gated (the filter's bit layout is
    * engine-specific, so no DuckDB oracle). */
  def decontaminateBloom(docs: DataFrame, benchmarkSource: String = "src0",
      expectedNgrams: Long = -1L, fpp: Double = 1e-4): DataFrame = {
    // Persist ONLY the benchmark-side shingles (the bounded side by
    // construction): they are scanned by two separate ACTIONS (the
    // sizing count and the Bloom build) that no stage reuse can share.
    // Persisting the full corpus ng5 instead was measured FASTER at
    // sf0.1 but 23% SLOWER at sf10 — the columnar cache write of the
    // corpus-scale string stream outgrows the tokenize pass it saves
    // (the same recompute-beats-cache result as the other shingle
    // consumers); the small side keeps the win at every scale.
    val ng5 = Dedup.wordNgrams(docs.select(col("doc_id"), col("text")), 5)
    val sources = docs.select(col("doc_id"), col("source"))
    val benchNg = Scope.persist(
      ng5.join(sources.filter(col("source") === benchmarkSource), Seq("doc_id"))
        .select(col("ng")))
    // Size the filter FROM the benchmark side (one count over the small
    // side — it IS the bounded input by construction) unless the caller
    // provisions explicitly. An undersized filter silently blows the
    // realized fpp: the r9 sf1.0 run had 123k bench 5-grams against the
    // old fixed 100k capacity and the doc-level fp rate breached its
    // contract. fpp is per-PROBE; a doc with g n-grams false-positives
    // at ~g·fpp, so the default 1e-4 keeps ~100-gram docs under 1%.
    val sized = if (expectedNgrams > 0) expectedNgrams
      else math.max(1000L, benchNg.count())
    val bloom = benchNg.stat.bloomFilter("ng", sized, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val spark = docs.sparkSession
    import spark.implicits._
    val candNg = ng5.join(sources.filter(col("source") =!= benchmarkSource), Seq("doc_id"))
      .select(col("doc_id"), col("ng")).as[(Long, String)]
    // mapPartitions (not a per-row UDF) so the broadcast value is bound
    // once per partition; Catalyst has no native bloom-probe expression.
    val hits = candNg.mapPartitions { it =>
      val f = bc.value
      it.collect { case (id, ng) if f.mightContainString(ng) => id }
    }.toDF("doc_id").groupBy(col("doc_id")).agg(count(lit(1)).as("n_flagged"))
    sources.filter(col("source") =!= benchmarkSource)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("n_flagged"), lit(0L)) > 0, 1L).otherwise(0L).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Oracle-gated contract for [[decontaminateBloom]] (q_decontam_bloom)
    * — the filter's bit layout is engine-specific, so the gated surface
    * is the GUARANTEE, per source: (1) zero false negatives — every doc
    * the exact 5-gram semi-join ([[decontaminate]]) flags is also
    * Bloom-flagged (structural: a Bloom filter never reports a true
    * member absent); (2) the measured doc-level false-positive rate
    * among exactly-clean docs stays under `fpBound` (the filter is
    * provisioned for `expectedNgrams` entries, so its realized bit
    * density — and hence fpp — is far below nominal at test scale).
    * Exact anchors (doc and contamination counts) ride along so the
    * oracle recomputes them and expects the verdicts literally TRUE. */
  def decontamBloomContract(docs: DataFrame, benchmarkSource: String = "src0",
      fpBound: Double = 0.05): DataFrame = {
    val exact = decontaminate(docs, benchmarkSource)
      .select(col("doc_id"), col("is_contaminated").as("c_exact"))
    val bloom = decontaminateBloom(docs, benchmarkSource)
      .select(col("doc_id"), col("is_contaminated").as("c_bloom"))
    val sources = docs.select(col("doc_id"), col("source"))
    exact.join(bloom, Seq("doc_id")).join(sources, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c_exact")).as("n_contaminated_exact"),
        sum(when(col("c_exact") === 1 && col("c_bloom") === 0, 1L)
          .otherwise(0L)).as("_fn"),
        sum(when(col("c_exact") === 0 && col("c_bloom") === 1, 1L)
          .otherwise(0L)).as("_fp"),
        sum(when(col("c_exact") === 0, 1L).otherwise(0L)).as("_clean"))
      .select(col("source"), col("n_docs"), col("n_contaminated_exact"),
        (col("_fn") === 0).as("zero_false_negatives"),
        (col("_clean") === 0 ||
          col("_fp").cast("double") / col("_clean") <= lit(fpBound))
          .as("fp_rate_within_bound"))
      .orderBy(col("source"))
  }

  /** Capstone export plan — the END-TO-END curation decision per doc,
    * composing the pipeline a training export actually runs:
    * quality filter ([[TextAnalysis.qualityFilter]]) → near-dup
    * canonicalization ([[Dedup.dedupClusters]], keep only cluster
    * representatives) → benchmark decontamination ([[decontaminate]])
    * → deterministic split ([[trainSplit]]). `final_keep` = passes
    * quality AND is its cluster's canonical doc AND shares no 5-gram
    * with the benchmark AND is not itself benchmark data.
    *
    * Composition is by doc_id equi-joins over the (tiny relative to
    * text) per-doc verdict tables — at 100 TB each stage shuffles only
    * (doc_id, flags), never documents; the stages themselves are the
    * already-audited operators. */
  def exportPlan(docs: DataFrame, benchmarkSource: String = "src0"): DataFrame = {
    val qf = TextAnalysis.qualityFilter(docs)
      .select(col("doc_id"), col("keep").as("keep_quality"))
    // labels-only fixpoint: the plan needs cluster_id + the canonical
    // test (doc_id = min label) but never cluster_size, so the
    // annotateClusters size join (a full-corpus shuffle) is skipped
    val cl = Dedup.clusterLabelsFromPairs(
        Dedup.dedupPairGraph(docs), docs.select(col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
    val dc = decontaminate(docs, benchmarkSource)
      .select(col("doc_id"), col("is_contaminated"))
    val sp = trainSplit(docs).select(col("doc_id"), col("split"))
    docs.select(col("doc_id"), col("source"))
      .join(qf, Seq("doc_id"))
      .join(cl, Seq("doc_id"))
      .join(sp, Seq("doc_id"))
      .join(dc, Seq("doc_id"), "left") // benchmark docs carry no verdict
      .select(col("doc_id"), col("source"), col("keep_quality"),
        col("cluster_id"), col("is_canonical"),
        coalesce(col("is_contaminated"), lit(0L)).as("is_contaminated"),
        col("split"),
        (col("keep_quality") && col("is_canonical") &&
          coalesce(col("is_contaminated"), lit(0L)) === 0 &&
          col("source") =!= benchmarkSource).as("final_keep"))
      .orderBy(col("doc_id"))
  }

  /** PII-style redaction: emails then 3+-digit runs, with counts. Output
    * carries the redacted-text hash so the check stays compact. */
  def redact(docs: DataFrame): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val numPat = "[0-9]{3,}"
    val redacted = regexp_replace(
      regexp_replace(col("text"), emailPat, "<EMAIL>"), numPat, "<NUM>")
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(numPat)).cast("long").as("n_numbers"),
        md5(redacted).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Contamination report from the benchmark's side: for every
    * benchmark document, how many of its distinct word-5-grams occur
    * anywhere in the candidate corpus, and the overlap fraction — the
    * audit a decontamination run publishes ([[decontaminate]] gives the
    * per-candidate verdict; this gives the per-benchmark exposure).
    * Docs with fewer than 5 words carry no 5-grams and are absent on
    * both engines. Same scale shape as the semi-join: only (doc_id,
    * ngram) pairs shuffle, and the corpus side collapses to distinct
    * n-grams before the join. */
  def contamReport(docs: DataFrame, benchmarkSource: String = "src0"): DataFrame = {
    // NOT persisted (measured, r13): same recompute-beats-cache result
    // as the other shingle consumers
    val ng5 = Dedup.wordNgrams(docs.select(col("doc_id"), col("text")), 5)
    val sources = docs.select(col("doc_id"), col("source"))
    val benchNg = ng5.join(sources.filter(col("source") === benchmarkSource),
      Seq("doc_id")).select(col("doc_id"), col("ng"))
    val corpusNg = ng5.join(sources.filter(col("source") =!= benchmarkSource),
      Seq("doc_id")).select(col("ng")).distinct()
    val hits = benchNg.join(corpusNg, Seq("ng"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_in_corpus"))
    benchNg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_in_corpus"), lit(0L)).as("n_in_corpus"),
        r4(coalesce(col("n_in_corpus"), lit(0L)).cast("double")
          / col("n_ngrams").cast("double")).as("overlap_frac"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup train/eval LEAKAGE audit: every LSH near-dup pair whose
    * endpoints landed in different [[trainSplit]] splits — the
    * contamination mode a hash split cannot prevent (near-duplicates
    * hash independently, so ~2·p·(1−p) of near-dup pairs straddle the
    * boundary and leak eval content into train). The split is a pure
    * function of doc_id, so it is RECOMPUTED on the pair side — zero
    * joins beyond the pair graph itself; at 100 TB the audit costs one
    * projection over the already-built pair list. */
  def splitLeakage(docs: DataFrame, trainPct: Int = 90): DataFrame = {
    def splitOf(c: Column): Column = {
      val b = conv(substring(md5(c.cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      when(b < trainPct, "train").otherwise("eval")
    }
    Dedup.minhashLshPairs(docs)
      .select(col("doc_a"), col("doc_b"),
        splitOf(col("doc_a")).as("split_a"), splitOf(col("doc_b")).as("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leaked"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-source quality quota (RefinedWeb-style curation cap): rank each
    * source's docs by (quality_score DESC, doc_id) and keep the top 40%
    * — the "no source dominates, keep each source's best" mixing rule.
    * The quota is the exact integer ceiling `⌈2n/5⌉ = (2n+4) div 5` (no
    * float boundary), source sizes broadcast; document text never
    * shuffles — the rank runs on the (doc_id, source, score) projection.
    * Per-source rank is a single-task-per-source window at this scale
    * axis; a source with 10⁹ docs would lift onto the q_rfm
    * range-partition device unchanged. */
  def domainQuota(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("quality_score"))
    val scored = docs.select(col("doc_id"), col("source"))
      .join(q, Seq("doc_id"))
    val n = Window.partitionBy(col("source"))
    val wq = n.orderBy(col("quality_score").desc_nulls_last, col("doc_id"))
    scored
      .select(col("doc_id"), col("source"), col("quality_score"),
        row_number().over(wq).cast("long").as("src_rank"),
        count(lit(1)).over(n).as("src_docs"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("src_rank"), col("src_docs"),
        (col("src_rank") <= expr("(2 * src_docs + 4) div 5")).as("kept"))
      .orderBy(col("doc_id"))
  }


  /** fastText-style quality classifier scoring (Joulin et al. 2016,
    * arXiv:1607.01759 — the linear bag-of-hashed-ngrams classifier
    * CCNet uses as its quality filter beside the LM score): per doc,
    * score = Σ_bigrams w[bucket(bigram)] over word bigrams hashed into
    * the same 4096-bucket md5 space as [[dsirWeights]]. The model is
    * TRAINED OFFLINE and declared as DATA ([[QualityClassifierWeights]]
    * — frozen integer nano-weights: repeated-word bigrams negative, the
    * function-word-led bigrams positive; buckets not in the table weigh
    * 0), so scoring is pure inference — the deployment shape of a real
    * fastText filter, where training happened elsewhere and the engine
    * only evaluates the frozen linear model at corpus scale.
    *
    * Float parity: scores are exact BIGINT nano-sums (the q_dsir
    * device) — order-free addition, no float until the rounded display
    * column. Scale shape: features explode to (doc_id, bucket) 12-byte
    * rows; the ≤4096-row weight table BROADCASTS; one doc-keyed
    * aggregate is the only corpus-scale shuffle. */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = QualityClassifierWeights.toDF("bucket", "w_nano")
    val lws = split(trim(lower(col("text"))), "\\s+")
    val grams = expr(
      """transform(sequence(1, size(lw) - 1),
           i -> concat(element_at(lw, i), ' ', element_at(lw, i + 1)))""")
    val feats = docs
      .select(col("doc_id"), lws.as("lw"))
      .filter(size(col("lw")) >= 2)
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"),
        pmod(expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"),
          lit(4096L)).as("bucket"))
    val scored = feats.join(broadcast(w), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("w_nano"), lit(0L))).as("score_nano"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("score_nano"), lit(0L)).as("score_nano"),
        r4(coalesce(col("score_nano"), lit(0L)).cast("double") / lit(1e9)).as("score"),
        (coalesce(col("score_nano"), lit(0L)) > 0L).as("pred_keep"))
      .orderBy(col("doc_id"))
  }

  /** The frozen quality-classifier model: (md5-bucket, nano-weight)
    * rows, declared as data (see [[qualityClassifier]]). Two marker
    * families trained offline: every repeated-word bigram "w w" of the
    * corpus vocabulary at −10⁶ nano (repetition = the Gopher spam
    * signal), every "the w" / "a w" bigram at +5·10⁵ (function-word
    * fluency); colliding buckets carry the summed weight. The oracle
    * declares the identical VALUES table. */
  val QualityClassifierWeights: Seq[(Long, Long)] = Seq(
    (6L, -1000000L), (96L, -1000000L), (264L, -500000L), (306L, 500000L),
    (439L, 500000L), (459L, -1000000L), (471L, 500000L), (557L, 500000L),
    (655L, -1000000L), (673L, -1000000L), (725L, 500000L),
    (752L, -1000000L), (776L, -1000000L), (826L, 500000L), (875L, 500000L),
    (880L, 500000L), (897L, 500000L), (908L, 500000L), (930L, 500000L),
    (977L, 500000L), (984L, -1000000L), (1031L, -1000000L),
    (1180L, 500000L), (1270L, 500000L), (1354L, 500000L), (1365L, 500000L),
    (1411L, 500000L), (1562L, 500000L), (1565L, 500000L),
    (1747L, -1000000L), (1759L, -1000000L), (1796L, 500000L),
    (1812L, -1000000L), (1954L, 500000L), (1980L, 500000L),
    (2119L, -1000000L), (2121L, -1000000L), (2147L, 500000L),
    (2323L, -1000000L), (2355L, 500000L), (2367L, 500000L),
    (2441L, 500000L), (2455L, -1000000L), (2463L, 500000L),
    (2465L, 500000L), (2596L, -1000000L), (2638L, -1000000L),
    (2755L, -1000000L), (2768L, -1000000L), (2779L, 500000L),
    (2807L, 500000L), (2808L, 500000L), (2834L, 500000L),
    (2878L, -1000000L), (2884L, 500000L), (2922L, 500000L),
    (2938L, -1000000L), (2986L, 500000L), (3005L, 500000L),
    (3019L, 500000L), (3085L, 500000L), (3099L, 500000L), (3117L, 500000L),
    (3174L, 500000L), (3176L, 500000L), (3224L, -1000000L),
    (3243L, 500000L), (3333L, 500000L), (3421L, 500000L), (3429L, 500000L),
    (3481L, 500000L), (3516L, 500000L), (3549L, -500000L),
    (3579L, -1000000L), (3624L, 500000L), (3632L, 500000L),
    (3638L, -1000000L), (3756L, 500000L), (3759L, -1000000L),
    (3828L, 500000L), (3845L, 500000L), (3877L, 500000L),
    (3920L, -1000000L), (3921L, -1000000L), (3957L, -1000000L),
    (3974L, 500000L), (4025L, 500000L))

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): rank raw docs by how target-like they are under
    * hashed n-gram features. Features are word BIGRAMS hashed into
    * `buckets` buckets (md5-prefix mod, the engine's stable hash); the
    * target distribution is the `lang = 'en'` slice, the raw
    * distribution the whole corpus; per-doc importance =
    * Σ_features [ln p̂_T(bucket) − ln p̂_R(bucket)] with add-one
    * smoothing over the bucket space.
    *
    * Scale shape: features explode to (doc_id, is_target, bucket) — a
    * 12-byte-wide stream; the bucket model collapses to ≤`buckets` rows
    * in ONE corpus aggregate (raw count and target count together, no
    * second pass), totals are a one-row broadcast over it, and the
    * scored stream joins the ≤4096-row weight table by BROADCAST — so
    * the whole selection is two narrow shuffles (bucket agg, doc agg)
    * plus a TakeOrdered, at any corpus size.
    *
    * Float parity: the ln-ratio is frozen per BUCKET as an integer
    * nano-weight (floor(w·1e9 + 0.5), the floor6 device), so the
    * per-doc sum is an exact BIGINT in both engines — order-free,
    * and the RANKING key (log_w_nano DESC) never touches a float. */
  def dsirWeights(docs: DataFrame, buckets: Int = 4096,
      k: Int = 100): DataFrame = {
    val lws = split(trim(lower(col("text"))), "\\s+")
    val grams = expr(
      """transform(sequence(1, size(lw) - 1),
           i -> concat(element_at(lw, i), ' ', element_at(lw, i + 1)))""")
    // persisted: the feature stream feeds BOTH the bucket model and the
    // final scoring join — without it the tokenize + per-gram md5 pass
    // (the dominant per-task cost) runs twice over the corpus. The
    // persisted rows are (doc_id, bool, bucket) — 17 bytes, far narrower
    // than the text they derive from.
    val feats = Scope.persist(docs
      .select(col("doc_id"), (col("lang") === "en").as("is_t"), lws.as("lw"))
      .filter(size(col("lw")) >= 2)
      .select(col("doc_id"), col("is_t"), explode(grams).as("g"))
      .select(col("doc_id"), col("is_t"),
        pmod(expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"),
          lit(buckets.toLong)).as("bucket")))
    val bt = feats.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cr"), sum(col("is_t").cast("long")).as("ct"))
    val tot = bt.agg(sum(col("cr")).as("tot_r"), sum(col("ct")).as("tot_t"))
    val bd = lit(buckets.toDouble)
    val w = bt.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor((log((col("ct") + lit(1L)).cast("double") / (col("tot_t").cast("double") + bd))
             - log((col("cr") + lit(1L)).cast("double") / (col("tot_r").cast("double") + bd)))
            * lit(1e9) + lit(0.5)).as("w_nano"))
    feats.join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w_nano")).as("log_w_nano"))
      .select(col("doc_id"), col("n_feats"), col("log_w_nano"),
        r4(col("log_w_nano").cast("double") / lit(1e9)).as("log_w"))
      .orderBy(col("log_w_nano").desc, col("doc_id"))
      .limit(k)
  }
}
