package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM vocabulary induction (Kudo 2018, arXiv:1804.10959 —
  * SentencePiece's unigram trainer; public) — the second standard
  * tokenizer-training algorithm beside BPE ([[Bpe]]): seed a large
  * candidate vocabulary from frequent substrings, then iteratively
  * re-segment the corpus and PRUNE the least-useful pieces until the
  * target size, keeping single characters as the protected base.
  *
  * Deterministic simplification (both engines replay it exactly): the
  * E-step segments each distinct word by GREEDY LONGEST MATCH against
  * the current vocabulary (the [[graft.functions.GreedySeg]] kernel —
  * Viterbi with log-prob weights would put libm `ln()` ulps on the
  * hash path; greedy matching is pure string work), and the prune step
  * drops the multi-char pieces with the lowest corpus-frequency-
  * weighted USAGE in that segmentation (the standard first-order
  * approximation of Kudo's likelihood-loss ranking — a piece's loss is
  * dominated by how often the segmentation actually uses it). All
  * counts are exact integers; every tie-break is (count DESC, piece
  * ASC) — the [[Bpe]] discipline.
  *
  * Scale shape: the ONE corpus-scale pass is the word-frequency
  * aggregate (map-side combinable, (word, count) rows at local-
  * vocabulary cardinality — shared shape with [[Bpe.bpeMerges]]).
  * Seeding explodes DISTINCT words into ≤ len·(MaxPieceLen−1)
  * substring candidates — vocabulary scale, ≪ corpus. Each round is
  * one projection over distinct words (the vocab rides in as a one-row
  * sorted-array broadcast — the PQ-codebook device) plus a piece-keyed
  * aggregate; budgets are compile-time constants, so the whole
  * induction is a STATIC plan — no data-dependent driver loop at all
  * (unlike BPE's inherent per-round argmax). The oracle unrolls the
  * same three rounds as CTE blocks, building each round's per-position
  * longest-match table by join + QUALIFY and replaying the greedy walk
  * as a '|'-string `list_reduce` fold.
  *
  * Reference scope: the reference tokenizes with fixed vocabularies
  * (preprocessing_pipeline.py's token accounting); vocabulary
  * INDUCTION is the training-data-pipeline step that produces them. */
object Unigram {

  /** Longest candidate substring considered at seeding. */
  val MaxPieceLen = 6
  /** Multi-char candidates kept at seeding (plus all single chars). */
  val SeedMultis = 96
  /** Multi-char budget after each prune round (the ~0.5 shrink rate
    * SentencePiece uses, run to a 24-piece test-scale target; at
    * production scale the same three-round structure carries bigger
    * budgets — they are compile-time knobs, not data). */
  val Budgets: Seq[Int] = Seq(48, 24)

  /** (word, freq, wlen) — maximal [a-z0-9]+ runs of the lowercased
    * corpus, frequency-weighted; the one corpus-scale aggregate. */
  private def words(docs: DataFrame): DataFrame =
    docs.select(explode(
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("wlen", length(col("word")).cast("long"))

  /** Learn the vocabulary. Output: one row per retained piece —
    * (piece, n_chars, is_single, usage) with `usage` = the final
    * round's corpus-weighted greedy-segmentation count (a protected
    * single char the final segmentation never touches reports 0),
    * ordered by piece. */
  def unigramVocab(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val dw = Scope.persist(words(docs))
    val pos = dw.select(col("word"), col("freq"), col("wlen"),
      explode(expr("sequence(1L, wlen)")).as("p"))
    // protected base: every character appearing in any corpus word —
    // guarantees total coverage in every round's segmentation
    val chars = pos.select(expr("substring(word, int(p), 1)").as("piece"))
      .distinct()
    // seed candidates: all substrings of length 2..MaxPieceLen of the
    // distinct words, weighted by word frequency (all occurrences,
    // overlaps included); top SeedMultis by (count DESC, piece ASC) —
    // a distributed TakeOrdered, O(SeedMultis) result
    val subs = pos.select(col("word"), col("freq"), col("wlen"), col("p"),
        explode(array((2 to MaxPieceLen).map(l => lit(l.toLong)): _*)).as("l"))
      .filter(col("p") + col("l") - 1 <= col("wlen"))
      .select(expr("substring(word, int(p), int(l))").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(SeedMultis)
      .select(col("piece"))
    val charsP = Scope.persist(chars)
    // truncateLazy: the rounds are gated by each round's broadcast
    // collect of the vocab (crossJoin(broadcast(varr))), which
    // materializes the marked frames — lazy truncation drops the
    // per-round eager-count job while keeping every plan LogicalRDD-flat
    var vocab = Checkpoints.truncateLazy(charsP.union(subs))
    var usage: DataFrame = null
    // Budgets prune rounds, then one final count round (budget -1)
    for (budget <- Budgets :+ -1) {
      val varr = vocab.agg(sort_array(collect_list(col("piece"))).as("vocab"))
      usage = Checkpoints.truncateLazy(
        dw.crossJoin(broadcast(varr))
          .select(col("freq"),
            explode(expr("greedy_seg(word, vocab)")).as("piece"))
          .groupBy(col("piece")).agg(sum(col("freq")).as("usage")))
      if (budget > 0) {
        val multis = vocab.filter(length(col("piece")) > 1)
          .join(usage, Seq("piece"), "left")
          .orderBy(coalesce(col("usage"), lit(0L)).desc, col("piece"))
          .limit(budget)
          .select(col("piece"))
        vocab = Checkpoints.truncateLazy(charsP.union(multis))
      }
    }
    vocab.join(usage, Seq("piece"), "left")
      .select(col("piece"),
        length(col("piece")).cast("long").as("n_chars"),
        (length(col("piece")) === 1).as("is_single"),
        coalesce(col("usage"), lit(0L)).as("usage"))
      .orderBy(col("piece"))
  }

  /** Segment arbitrary words with a LEARNED vocabulary — the consumer
    * side of the induction (the [[Bpe.bpeSegment]] twin): pure per-row
    * projection, zero shuffles at any corpus size; the vocab compiles
    * into the plan as a sorted array literal. */
  def segmentWith(words: DataFrame, vocab: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.register(words.sparkSession)
    words
      .withColumn("uni_vocab", array(vocab.sorted.map(lit): _*))
      .select(col("word"),
        expr("greedy_seg(word, uni_vocab)").as("tokens"))
      .select(col("word"), col("tokens"),
        size(col("tokens")).cast("long").as("n_tokens"))
  }
}
