package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Text-analysis operators for LLM-data pipelines over `documents`.
  *
  * All heuristics are deliberately expressible as codegen'd SQL
  * expressions (no UDFs) so they run inside whole-stage codegen and can
  * be mirrored exactly by the DuckDB oracle: language-ID via marker-word
  * counts, quality scoring via length/punct/stopword ratios, token
  * counting via whitespace + BPE-ish regex, and document fingerprinting
  * via normalized md5 + a 32-bit polynomial rolling hash.
  *
  * Scale notes: every operator is a narrow per-row projection — no
  * shuffle at all; reads prune to (doc_id, text).
  */
object TextAnalysis {

  /** Canonical normalization shared by fingerprint + exact dedup:
    * lowercase, strip non-[a-z0-9 ], collapse runs of spaces, trim. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]+", ""), " +", " "))

  private val ws = split(trim(col("text")), "\\s+")

  /** Whitespace tokens, BPE-ish regex tokens, and byte length per doc. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(ws).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Unigram language-model score per doc — the perplexity-proxy
    * curation signal (CCNet orders a corpus by LM perplexity before
    * keeping the best tail; a unigram model is its engine-checkable
    * core): train word → count over the WHOLE corpus, then score each
    * doc by the average negative log-likelihood of its tokens,
    * avg(−ln(c_w/T)) = ln T − (Σ ln c_w)/n. Low score = stereotypical
    * text, high = rare-token-heavy.
    *
    * Float parity: this file avoids log() where it would decide a
    * RANKING (q_distinctive_terms, q_lexical_diversity — an ulp flip
    * reorders rows and no rounding can absorb it). Here ln only feeds
    * an output VALUE: per-term ln differs across engines by ≤ ~2 ulp
    * (~5e-15 at ln≈10), the per-doc sum stays < 1e-11 even at
    * thousands of tokens, and the standard `+ 5e-9, 4dp` edge rounding
    * absorbs it — same risk class as every rounded double in the tree.
    * The Σ ln c_w fold runs over the word-sorted struct array on both
    * engines (one fixed summation order, the temperatureMix device).
    *
    * Scale shape: only (doc_id, word) and dictionary-sized (word,
    * count) rows shuffle — text never does; the count join reuses the
    * token shuffle's partitioning; T is a one-row broadcast. */
  def lmScore(docs: DataFrame): DataFrame = {
    val toks = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(ws).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = vocab.agg(sum(col("c")).as("t"))
    val perDoc = toks.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(struct(col("w"), col("c")))).as("arr"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"),
        r4(log(col("t").cast("double"))
          - expr("aggregate(arr, cast(0.0 as double), (acc, s) -> acc + ln(cast(s.c as double)))")
            / col("n_tokens").cast("double")).as("lm_score"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** CCNet head/middle/tail buckets (Wenzek et al. 2020): per-language
    * terciles of the [[lmScore]] perplexity proxy — the published
    * recipe sorts each language by LM perplexity and keeps the "head"
    * (most fluent) third for training. Buckets come from exact integer
    * rank math — bucket = ((rank−1)·3) div n over the (lm_score,
    * doc_id) order — never ntile or a float quantile, so both engines
    * cut identically; the ordering key is the already-4dp-rounded
    * score with the doc_id tiebreak (the log-parity ranking rule).
    *
    * Scale shape: the per-lang rank is one window over the
    * lang-partitioned (doc_id, n_tokens, lm_score) projection — narrow
    * rows, text never enters. A language IS a corpus-scale partition
    * (CCNet's own shape); at 100 TB the exact sort becomes the
    * documented skew point and the production move is approximate
    * quantile cuts per lang — the report's integer contract is the
    * oracle for that approximation. Output is ≤ 3·|langs| rows. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val scored = lmScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .filter(col("n_tokens") > 0)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score"), col("doc_id"))
    val n = Window.partitionBy(col("lang"))
    scored
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
      // rk is an INT row_number: widen before *3 — a >715M-row language
      // (nothing at 100 TB rules it out) would overflow the int product
      .withColumn("bucket", expr("((cast(rk as bigint) - 1) * 3) div n").cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("lm_score")).as("min_lm"),
        max(col("lm_score")).as("max_lm"))
      .select(col("lang"), col("bucket"),
        when(col("bucket") === 0, "head").when(col("bucket") === 1, "middle")
          .otherwise("tail").as("bucket_name"),
        col("n_docs"), col("total_tokens"), col("min_lm"), col("max_lm"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Real subword tokenization: greedy longest-match (WordPiece-style)
    * encoding against the declared [[graft.functions.WordPieceVocab]],
    * via the native fused [[graft.functions.WpStats]] expression —
    * words are `[A-Za-z0-9]+` runs lowercased, each encoded by
    * repeatedly taking the longest vocab entry at the cursor; a word
    * with an uncoverable position is whole-word [UNK]. Per-doc token
    * counts + OOV rate, all-integer except the final ratio.
    *
    * Plan shape: ONE per-row projection, zero shuffles before the
    * output sort — at 100 TB this is a pure map-side pass; the vocab
    * ships inside the compiled expression (the broadcast degenerates
    * to a constant). The oracle replays the identical greedy walk as a
    * recursive CTE over DISTINCT words joined back to per-doc counts. */
  def tokenize(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("wp_stats(text)").as("s"))
      .select(col("doc_id"),
        col("s.n_words").as("n_words"),
        col("s.n_tokens").as("n_tokens"),
        col("s.n_unk").as("n_unk"),
        when(col("s.n_words") > 0,
          r4(col("s.n_unk").cast("double") / col("s.n_words")))
          .otherwise(lit(0.0)).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** Per-SOURCE tokenizer coverage — the report that decides whether a
    * vocab fits a corpus before a training run: integer-exact sums of
    * the per-doc [[tokenize]] stats (words, subword tokens, whole-word
    * [UNK]s) rolled up by source, with OOV rate and fertility
    * (tokens/word — the compression the tokenizer achieves) as
    * single-division ratios. One fused `wp_stats` map pass + one
    * narrow source-keyed aggregate: no shuffle carries text. */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("source"), expr("wp_stats(text)").as("s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("s.n_words")).as("n_words"),
        sum(col("s.n_tokens")).as("n_tokens"),
        sum(col("s.n_unk")).as("n_unk"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_unk"),
        when(col("n_words") > 0,
          r4(col("n_unk").cast("double") / col("n_words").cast("double"))).otherwise(lit(0.0)).as("oov_rate"),
        when(col("n_words") > 0,
          r4(col("n_tokens").cast("double") / col("n_words").cast("double"))).otherwise(lit(0.0)).as("fertility"))
      .orderBy(col("source"))
  }

  /** Quality score from length / punctuation / stopword-ratio signals. */
  def quality(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nTok = size(ws).cast("long")
    val nStop = expr("size(filter(wsarr, w -> w IN ('the','a','of','and','to','in','is')))").cast("long")
    val nPunct = regexp_count(col("text"), lit("[.,!?;:]")).cast("long")
    val nNonWs = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
    docs.select(col("doc_id"), col("text"), ws.as("wsarr"))
      .select(col("doc_id"),
        nChars.as("n_chars_calc"), nTok.as("n_tokens"),
        nStop.as("n_stopwords"), nPunct.as("n_punct"),
        when(nTok > 0, r4(nNonWs.cast("double") / nTok)).as("avg_word_len"),
        when(nChars > 0, r4(nPunct.cast("double") / nChars)).as("punct_ratio"),
        when(nTok > 0, r4(nStop.cast("double") / nTok)).as("stop_ratio"),
        when(nTok > 0 && nChars > 0,
          r4(lit(0.4) * (nStop.cast("double") / nTok)
            + lit(0.3) * least(nTok.cast("double") / 100, lit(1.0))
            + lit(0.3) * (lit(1.0) - nPunct.cast("double") / nChars)))
          .as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Marker-word language-ID heuristic (+ non-ASCII share for zh). */
  def langId(docs: DataFrame): DataFrame = {
    def score(words: Seq[String]): Column =
      expr(s"size(filter(wsarr, w -> w IN (${words.map("'" + _ + "'").mkString(",")})))").cast("long")
    val en = score(Seq("the", "is", "and", "of", "to"))
    val es = score(Seq("el", "la", "de", "que", "los"))
    val de = score(Seq("der", "die", "das", "und", "ist"))
    val fr = score(Seq("le", "les", "et", "des", "une"))
    val zh = regexp_count(col("text"), lit("[^ -~]")).cast("long")
    docs.select(col("doc_id"), ws.as("wsarr"), col("text"))
      .select(col("doc_id"), en.as("en_score"), es.as("es_score"), de.as("de_score"),
        fr.as("fr_score"), zh.as("zh_score"))
      .select(col("doc_id"), col("en_score"), col("es_score"), col("de_score"),
        col("fr_score"), col("zh_score"),
        when(col("zh_score") > 0, "zh")
          .when(col("en_score") >= col("es_score") && col("en_score") >= col("de_score") &&
            col("en_score") >= col("fr_score") && col("en_score") > 0, "en")
          .when(col("es_score") >= col("de_score") && col("es_score") >= col("fr_score") &&
            col("es_score") > 0, "es")
          .when(col("de_score") >= col("fr_score") && col("de_score") > 0, "de")
          .when(col("fr_score") > 0, "fr")
          .otherwise("unknown").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1: fraction
    * of duplicated words and coverage of the most frequent n-gram —
    * high values flag boilerplate/spam for training-data filtering):
    * per doc, the duplicate-word fraction (1 − distinct/total) and the
    * top word-bigram's share of all bigrams. One explode + two
    * partial-aggregatable groupBys; fractions are single integer
    * divisions so both engines agree bit-for-bit. */
  def repetition(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), ws.as("wsarr"))
      .select(col("doc_id"),
        size(col("wsarr")).cast("long").as("n_words"),
        size(array_distinct(col("wsarr"))).cast("long").as("n_distinct"),
        col("wsarr"))
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val bigrams = base.filter(col("n_words") >= 2)
      .select(col("doc_id"), explode(expr("ngram_join(wsarr, 2)")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).cast("long").as("n_bigrams"))
    base.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") > 0,
          r4((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))).as("dup_word_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0,
          r4(col("top_bigram_n").cast("double") / col("n_bigrams")))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Composite Gopher/C4-style quality filter: combines the [[quality]]
    * and [[repetition]] signals into per-rule flags and a final keep
    * decision (too short, implausible word length, punctuation-heavy,
    * repetitive). Thresholds compare the 4dp-rounded signals, so the
    * flags inherit the signals' bit-exact cross-engine parity. The
    * filter reuses the signal operators via a doc_id join here for
    * auditability; a production pass fuses all signals into the one
    * projection + one bigram aggregation the constituents already are. */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val q = quality(docs)
    val r = repetition(docs)
    q.join(r, Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_tokens") < 10).as("too_short"),
        (coalesce(col("avg_word_len"), lit(0.0)) < 2.5 ||
          coalesce(col("avg_word_len"), lit(0.0)) > 10.0).as("word_len_bad"),
        (coalesce(col("punct_ratio"), lit(0.0)) > 0.1).as("punct_heavy"),
        (coalesce(col("dup_word_frac"), lit(0.0)) > 0.4 ||
          coalesce(col("top_bigram_frac"), lit(0.0)) > 0.3).as("repetitive"))
      .withColumn("keep",
        !(col("too_short") || col("word_len_bad") || col("punct_heavy") || col("repetitive")))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level heavy hitters: the top-k word 3-grams by occurrence
    * count (all occurrences, not per-doc distinct — the boilerplate /
    * template detector of a training-data pipeline).
    *
    * Scale: the n-gram count is a map-side partial aggregate (each mapper
    * ships one (ngram, count) row per distinct local n-gram) and the
    * top-k is `TakeOrderedAndProject` — every partition returns its local
    * top-k, the driver merges k·p rows; no global sort shuffle. Ties
    * break on the n-gram string so the result is deterministic. */
  def topNgrams(docs: DataFrame, n: Int = 3, k: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(ws.as("wsarr"))
      .filter(size(col("wsarr")) >= n)
      .select(explode(expr(s"ngram_join(wsarr, $n)")).as("ng"))
      .groupBy(col("ng")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ng"))
      .limit(k)
  }

  /** Lexical-diversity signals with ZERO float-parity risk: type-token
    * ratio and Gini impurity of the per-doc word distribution —
    * gini = 1 − Σtf²/n², an exact integer ratio (the entropy analogue
    * would need log(), whose last-ulp behavior differs between
    * engines). Low gini ⇒ repetitive doc — a curation drop signal
    * complementing [[repetition]]. Same map-side-collapsing
    * (doc, term) tf pass as [[invertedIndex]]. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val lws = split(trim(lower(col("text"))), "\\s+")
    docs.select(col("doc_id"), explode(lws).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("sum_tf2"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        r4(col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        r4(lit(1.0) - col("sum_tf2").cast("double")
          / (col("n_tokens") * col("n_tokens")).cast("double")).as("gini"))
      .orderBy(col("doc_id"))
  }

  /** Inverted-index build: per term its document frequency, total term
    * frequency, and the first `postK` posting doc_ids (ascending,
    * comma-joined — a string both engines render identically). The
    * exploded (doc, term) rows of a document are partition-local, so
    * the per-(doc, term) tf collapses map-side before the exchange —
    * the shuffle carries vocabulary×docs narrow rows, never raw
    * positions; df/tf exact integers. The posting list is bounded
    * BEFORE any aggregation buffer sees it: a `row_number() ≤ postK`
    * filter over the term-partitioned window, which Spark rewrites to
    * WindowGroupLimit (per-partition top-k retention, map-side AND
    * final — a stopword's billions of candidate postings never
    * co-reside in memory; a collect_list-then-slice would hold the
    * whole list in ONE buffer). The scalar df/total_tf aggregate runs
    * partial/final on the same reused perDoc exchange and joins the
    * capped postings on term. */
  def invertedIndex(docs: DataFrame, postK: Int = 10): DataFrame = {
    val lws = split(trim(lower(col("text"))), "\\s+")
    val perDoc = docs
      .select(col("doc_id"), explode(lws).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf as a secondary sort key is a semantic no-op (doc_id is unique
    // within a term partition — perDoc is distinct on (doc, term)) but
    // keeps tf un-prunable in this branch, so its exchange canonicalizes
    // identical to the stats branch's and ReuseExchange collapses them:
    // ONE explode+partial-agg corpus pass feeds both consumers.
    val wTerm = Window.partitionBy(col("term"))
      .orderBy(col("doc_id"), col("tf"))
    val posts = perDoc
      .withColumn("_rk", row_number().over(wTerm))
      .filter(col("_rk") <= postK)
      .groupBy(col("term"))
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
        .as("postings"))
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .join(posts, Seq("term"))
      .orderBy(col("term"))
  }

  /** Keyword search with integer term-frequency ranking: for a fixed
    * query, per-doc tf of each term over lowercased whitespace tokens,
    * docs matching ANY term ranked by (Σtf DESC, doc_id), an all-terms
    * flag for AND semantics. Integer scores — zero float parity risk —
    * and the per-doc tf is a narrow projection (no explode, no
    * shuffle); the global top-k is a TakeOrdered, so the full ranking
    * never sorts corpus-wide. */
  def keywordSearch(docs: DataFrame,
      terms: Seq[String] = Seq("hash", "join", "scan"), k: Int = 20): DataFrame = {
    val lws = split(trim(lower(col("text"))), "\\s+")
    val tfCols = terms.map(t =>
      size(filter(col("lw"), w => w === t)).cast("long").as(s"tf_$t"))
    val score = terms.map(t => col(s"tf_$t")).reduce(_ + _)
    val allTerms = terms.map(t => col(s"tf_$t") > 0).reduce(_ && _)
    docs.select(col("doc_id"), lws.as("lw"))
      .select(col("doc_id") +: tfCols: _*)
      .select(Seq(col("doc_id"), score.as("score"), allTerms.as("all_terms")) ++
        terms.map(t => col(s"tf_$t")): _*)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 ranking (Robertson/Spärck Jones; the Okapi BM25 the reference's
    * keyword search would grow into at corpus scale): per-doc score
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    * idf = ln((N−df+0.5)/(df+0.5) + 1), over the same fixed term set and
    * lowercased whitespace tokens as [[keywordSearch]].
    *
    * Scale shape: per-doc (dl, tf_t) is a narrow no-explode projection;
    * N/avgdl/df_t collapse to ONE one-row aggregate that broadcasts back
    * (the family's one-row crossJoin device), so scoring is map-only and
    * the top-k is a TakeOrdered — a single corpus-wide shuffle (the
    * stats aggregate) regardless of N.
    *
    * Float parity: idf/avgdl use ln and division — ulp-class drift —
    * so the RANKING key is the 4dp-rounded score (+5e-9 edge nudge,
    * doc_id tiebreak), never the raw double; the three per-term adds
    * fold in fixed textual order in both engines. */
  def bm25(docs: DataFrame,
      terms: Seq[String] = Seq("hash", "join", "scan"), k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lws = split(trim(lower(col("text"))), "\\s+")
    val tfCols = terms.map(t =>
      size(filter(col("lw"), w => w === t)).cast("long").as(s"tf_$t"))
    val base = docs.select(col("doc_id"), lws.as("lw"))
      .select(col("doc_id") +: size(col("lw")).cast("long").as("dl") +: tfCols: _*)
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val score = terms.map { t =>
      val tf = col(s"tf_$t").cast("double")
      val df = col(s"df_$t").cast("double")
      val idf = log((nD - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      // (k1 + 1) and (1 − b) fold at runtime in BOTH engines — a Scala-
      // side constant could land an ulp off the SQL literal on a tie
      idf * (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(Seq(col("doc_id"), col("dl"),
        r4(score).as("score")) ++
        terms.map(t => col(s"tf_$t")): _*)
      .filter(terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Corpus composition report: doc/char counts by (source, lang) with
    * CUBE subtotals — the mix table a data-curation run reads before
    * weighting sources ([[TrainingData.dataMix]]). Subtotal rows surface
    * as 'ALL'; `grouping()` flags disambiguate a real 'ALL' value.
    * One partial-aggregatable grouping-sets pass; at 100 TB the cube
    * expands each input row into its 4 grouping sets map-side, so the
    * shuffle carries 4× the (tiny) group cardinality, not the data. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        r4(sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("total_chars"), col("avg_chars"),
        col("g_source"), col("g_lang"))
      .orderBy(col("source"), col("lang"))

  /** Per-document distinctive terms: the top-`k` terms ranked by
    * (document frequency ASC, term frequency DESC, term ASC) — the
    * TF-IDF idea with a purely integer/lexicographic ranking, so both
    * engines order identically with no log() parity risk. One token
    * explode feeding two partial-aggregatable counts (tf per (doc,term),
    * df per term over the tf table — already one row per doc-term, no
    * second distinct), an equi-join on term, and a per-doc top-k
    * window. */
  def distinctiveTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(ws).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wk = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tf").desc, col("term"))
    tf.join(df_, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        row_number().over(wk).cast("long").as("rk"))
      .filter(col("rk") <= k)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Document fingerprint: md5 of normalized text + 32-bit polynomial
    * rolling hash (base 31, mod 2^32) over the normalized characters —
    * the native [[graft.functions.PolyHash]] loop (the
    * aggregate-over-sequence fold it replaces ran an interpreted
    * lambda with a substring allocation per character). */
  def fingerprint(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("md5_fp"),
        expr("poly_hash(norm)").as("poly_fp"))
      .orderBy(col("doc_id"))
  }

  /** N-gram novelty per document: the fraction of a doc's distinct
    * 3-grams whose first corpus occurrence (min doc_id) is this doc —
    * the marginal-contribution signal that ranks documents by how much
    * new content they add to a training mix (a doc full of already-seen
    * n-grams is redundant even if no single near-dup pair flags it).
    * Exact integer ratio ⇒ bit-identical doubles. One n-gram-keyed
    * aggregate + one re-join of the same narrow (doc_id, ngram) rows —
    * the exact-dedup shuffle shape, nothing document-sized moves. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val ng = graft.operators.Dedup.wordNgrams(docs.select(col("doc_id"), col("text")))
    val firstSeen = ng.groupBy(col("ng")).agg(min(col("doc_id")).as("first_doc"))
    ng.join(firstSeen, Seq("ng"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
        r4(col("n_novel").cast("double") / col("n_ngrams").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified sample: within each (source, lang)
    * stratum keep the first ceil(n/5) docs in (md5(doc_id), doc_id)
    * order — a reproducible 20% sample with exact per-stratum
    * proportions (hash-bucket sampling like [[TrainingData.dataMix]]
    * only approximates them). Integer ceiling division, no float
    * thresholds. One window exchange on the stratum key. */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("lang"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_stratum",
        count(lit(1)).over(Window.partitionBy(col("source"), col("lang"))))
      .filter(col("rk") <= expr("(n_stratum + 4) div 5"))
      .orderBy(col("doc_id"))
  }

  /** Token-count histogram over the corpus: docs binned by whitespace
    * token count into fixed-width buckets — the length-distribution
    * report that sizes a context-window/packing decision. A single
    * partial-aggregatable groupBy on a derived integer key (map-side
    * combine collapses each partition to ≤ #buckets rows); the average
    * is one double division over exact integer sums. */
  def tokenHist(docs: DataFrame, binWidth: Int = 16): DataFrame =
    docs.select(size(ws).cast("long").as("ws_tokens"))
      .select(expr(s"ws_tokens div $binWidth").as("bucket"), col("ws_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("total_tokens"))
      .select(col("bucket"), (col("bucket") * binWidth).as("bucket_lo"),
        col("n_docs"), col("total_tokens"),
        r4(col("total_tokens").cast("double") / col("n_docs").cast("double")).as("avg_tokens"))
      .orderBy(col("bucket"))
}
