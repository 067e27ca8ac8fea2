package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBlocks

/** Unigram-language-model tokenizer TRAINING and encoding (Kudo 2018,
  * the SentencePiece family) — the second of the two production
  * tokenizer families, beside [[Bpe]] (round-15 verdict ask #2:
  * "production tokenizers are split between BPE and unigram").
  * No reference analog; §2.12 scope.
  *
  * == Algorithm (fixed-round, exact-integer adaptation) ==
  *
  * Pre-tokenize: [[Bpe.asciiTokens]] — the SAME lowercase `[a-z0-9]+`
  * vocabulary gate as BPE, which is what makes the fertility
  * comparison (`text_unigram_vs_bpe_fertility`) an apples-to-apples
  * row and pins cross-engine string semantics.
  *
  * Seed: every substring occurrence of every corpus word up to
  * [[MaxPieceLen]] chars, frequency-weighted; the seed vocabulary is
  * ALL single characters plus the top `seedMulti` multi-char pieces
  * by (count DESC, piece ASC) — the frequent-substrings seed of the
  * SentencePiece trainer (its suffix-array top-k), exact-integer.
  *
  * EM: `emIters` rounds of hard (Viterbi) EM. E-step: segment each
  * distinct corpus word by the max-score segmentation under the
  * current piece scores (`viterbiSeg` — an in-row DP, see below).
  * M-step: piece count = Σ word-freq × occurrences in the chosen
  * segmentations; score = ln(count / total) rounded to integer
  * MICRO-NATS (the [[TextAnalysis.unigramLogProb]] posture — round
  * where the engines still agree term-by-term, then all downstream
  * comparison/summation is exact bigint). Single characters never
  * leave the vocabulary (coverage floor — Kudo keeps them too);
  * a character no Viterbi path used gets count 1 so its log stays
  * finite. Hard EM instead of full forward-backward expectations is
  * the deliberate exact-integer trade: expected counts are fractional
  * (not bit-portable across engines), Viterbi counts are integers,
  * and Viterbi-EM is a documented standard variant of the algorithm.
  *
  * Prune: ONCE, after the last round (SentencePiece prunes a fraction
  * per round; one final cut keeps the oracle chain linear in rounds):
  * keep all single characters plus the top (`vocabSize` − #chars)
  * multi-char pieces by (count DESC, piece ASC). Final artifact:
  * (token, cnt, score_u, token_id) with contiguous 1-based ids by
  * (cnt DESC, token ASC) — the [[Bpe.vocab]] id contract.
  *
  * == The Viterbi DP (both engines, bit-identically) ==
  *
  * dp[0] = (0, []); dp[i] = best over j ∈ [max(0, i−maxLen), i−1] of
  * dp[j] + score(w[j+1..i]) for in-vocabulary pieces, candidates
  * scanned in ASCENDING j with strictly-greater updates — so ties
  * break toward the SMALLEST j (the longest final piece), a total
  * order both engines replay. A position with no in-vocabulary
  * candidate (impossible in training — chars are floored — but real
  * for out-of-alphabet serving input) falls back to the single
  * character at [[UnkScoreU]]; the character piece then maps to UNK
  * id 0 at encode time (the pre-byte-fallback [[Bpe.encodeIds]]
  * posture). The accumulator carries each position's full (score,
  * segmentation) pair, so no traceback pass is needed; per-word cost
  * is O(len × maxLen) on words, never corpus tokens.
  *
  * == Scale shape ==
  *
  * Identical to [[Bpe.train]]: the corpus is touched ONCE
  * ([[Bpe.wordCounts]], map-side combinable); every EM round runs at
  * DISTINCT-WORD cardinality — one broadcast of the (vocab-sized)
  * score map, one narrow per-word DP, one map-side-combinable piece
  * count, one 1-row total broadcast. Each round's vocabulary is
  * checkpoint-cut so round i never re-executes rounds 1..i−1 and the
  * plan stays round-count-independent; superseded rounds' blocks are
  * released eagerly. Encoding amortizes the DP over a per-batch
  * distinct-word frame with an unhinted join back (AQE broadcasts it
  * when it fits) — the [[Bpe.encodeIds]] serving contract, so a word
  * never seen in training still encodes.
  */
object Unigram {

  /** Maximum piece length considered by the seed and the DP window. */
  val MaxPieceLen: Int = 6

  /** Score (micro-nats) charged for an out-of-vocabulary single-char
    * fallback step — e^−20 ≈ 2·10⁻⁹, far below any trained piece, so
    * the fallback never outcompetes a real segmentation.
    */
  val UnkScoreU: Long = -20000000L

  private def emptySeg: Column = expr("cast(array() as array<string>)")

  /** Every substring occurrence (duplicates included — occurrences
    * are what the seed counts) of `w` up to `maxLen` chars.
    */
  private[graft] def allSubstrings(w: Column, maxLen: Int): Column =
    flatten(transform(sequence(lit(1), length(w)),
      i => transform(sequence(lit(1), least(lit(maxLen), length(w) - i + 1)),
        l => w.substr(i, l))))

  /** Seed vocabulary: (piece, cnt) — all single chars plus the top
    * `seedMulti` multi-char substrings by (cnt DESC, piece ASC).
    * Substring-space cardinality is Σ len×maxLen over DISTINCT words
    * (bounded, never corpus tokens); the top-k is a TakeOrdered, not
    * a full sort.
    */
  private[graft] def seedVocab(
      words: DataFrame,
      maxLen: Int,
      seedMulti: Int): DataFrame = {
    val subs = words
      .select(col("freq"), explode(allSubstrings(col("w"), maxLen)).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("freq")).cast("long").as("cnt"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(seedMulti)
    chars.unionByName(multi)
  }

  /** Attach `score_u` = round(ln(cnt / Σcnt)·10⁶) micro-nats to a
    * (piece, cnt) frame — one 1-row total broadcast, the
    * [[TextAnalysis.unigramLogProb]] rounding posture.
    */
  private[graft] def scored(counted: DataFrame): DataFrame =
    counted
      .crossJoin(broadcast(counted.agg(sum(col("cnt")).as("__tot"))))
      .withColumn("score_u",
        round(log(col("cnt").cast("double") / col("__tot").cast("double"))
          * lit(1000000.0), 0).cast("bigint"))
      .drop("__tot")

  /** The vocabulary as a 1-row broadcastable (piece → score_u) map —
    * what rides into the per-word DP lambda. Vocab-cardinality
    * collect_list into a map; key order is irrelevant to lookups.
    */
  private[graft] def vocabMap(vocab: DataFrame): DataFrame =
    vocab.agg(map_from_entries(
      collect_list(struct(col("piece"), col("score_u")))).as("__vmap"))

  /** In-row Viterbi segmentation of `w` under the `vmap` score map —
    * the DP documented in the object scaladoc. Returns the winning
    * segmentation as array<string>.
    */
  private[graft] def viterbiSeg(w: Column, vmap: Column, maxLen: Int): Column = {
    val sentinel = struct(lit(Long.MinValue + 1).as("sc"), emptySeg.as("seg"))
    aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("sc"), emptySeg.as("seg"))),
      (acc, i) => {
        val cands = transform(
          sequence(greatest(i - lit(maxLen) + 1, lit(1)), i),
          jj => {
            val piece = w.substr(jj, i - jj + 1)
            val sc = element_at(vmap, piece)
            val prev = element_at(acc, jj)
            when(sc.isNotNull,
              struct((prev.getField("sc") + sc).as("sc"),
                concat(prev.getField("seg"), array(piece)).as("seg")))
              .otherwise(sentinel)
          })
        val best = aggregate(cands, sentinel,
          (b, c) => when(c.getField("sc") > b.getField("sc"), c).otherwise(b))
        val prev = element_at(acc, i)
        val entry = when(best.getField("sc") > lit(Long.MinValue / 2), best)
          .otherwise(struct(
            (prev.getField("sc") + lit(UnkScoreU)).as("sc"),
            concat(prev.getField("seg"), array(w.substr(i, lit(1)))).as("seg")))
        concat(acc, array(entry))
      },
      acc => element_at(acc, length(w) + 1).getField("seg"))
  }

  /** Train a unigram-LM vocabulary of `vocabSize` pieces over `docs`.
    * Returns (token, cnt, score_u, token_id) — cnt and score_u from
    * the final EM pass, ids 1-based by (cnt DESC, token ASC). The
    * ranking windows run at VOCABULARY cardinality (bounded by
    * construction — PlanSpec-whitelisted with that argument).
    */
  def train(
      docs: DataFrame,
      textCol: String,
      seedMulti: Int = 150,
      emIters: Int = 3,
      vocabSize: Int = 56): DataFrame = {
    require(seedMulti >= 1, s"seedMulti must be >= 1, got $seedMulti")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val words = CheckpointBlocks.cut(Bpe.wordCounts(docs, textCol))
    // Superseded rounds release eagerly below; the LAST round's cut
    // must outlive the call (the returned plan reads it) — its blocks
    // free themselves on GC, the [[Bpe.train]] lifecycle.
    var voc: DataFrame = CheckpointBlocks.cut(
      scored(seedVocab(words, MaxPieceLen, seedMulti)))
    for (_ <- 1 to emIters) {
        val seg = words.crossJoin(broadcast(vocabMap(voc)))
          .select(col("freq"),
            viterbiSeg(col("w"), col("__vmap"), MaxPieceLen).as("seg"))
        val cnts = seg
          .select(col("freq"), explode(col("seg")).as("piece"))
          .groupBy(col("piece"))
          .agg(sum(col("freq")).cast("long").as("cnt"))
        // Coverage floor: single chars never leave; unused ones keep
        // count 1 so ln stays finite. Multi-char pieces survive only
        // if some Viterbi path used them (cnt > 0 by construction).
        val members = voc.filter(length(col("piece")) === 1).select(col("piece"))
          .unionByName(cnts.select(col("piece")))
          .distinct()
        val next = CheckpointBlocks.cut(scored(
          members.join(cnts, Seq("piece"), "left")
            .select(col("piece"), coalesce(col("cnt"), lit(1L)).as("cnt"))))
        CheckpointBlocks.release(voc)
        voc = next
      }
      import org.apache.spark.sql.expressions.Window
      val chars = voc.filter(length(col("piece")) === 1)
      val nChars = chars.agg(count(lit(1)).cast("int").as("__nc"))
      val multi = voc.filter(length(col("piece")) > 1)
        .withColumn("__rk",
          row_number().over(Window.orderBy(col("cnt").desc, col("piece").asc)))
        .crossJoin(broadcast(nChars))
        .filter(col("__rk") <= lit(vocabSize) - col("__nc"))
        .drop("__rk", "__nc")
      chars.unionByName(multi)
        .withColumn("token_id",
          row_number().over(Window.orderBy(col("cnt").desc, col("piece").asc))
            .cast("int"))
        .select(col("piece").as("token"), col("cnt"), col("score_u"),
          col("token_id"))
  }

  /** Encode every document's tokens to unigram piece IDS — the
    * [[Bpe.encodeIds]] serving twin: per-doc (n_tokens, token_ids as
    * a comma-joined sequence string, UNK = 0 for pieces the vocab
    * does not ship). The DP runs once per DISTINCT batch word; only
    * (word, positions, ids) cross shuffles.
    */
  def encodeIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame): DataFrame = {
    val occ = docs.select(col(idCol).as("doc_id"), col(textCol))
      .select(col("doc_id"),
        posexplode(Bpe.asciiTokens(col(textCol))).as(Seq("wpos", "w")))
    val vm = vocabMap(vocab.select(col("token").as("piece"), col("score_u")))
    val wordSegs = occ.select(col("w")).distinct()
      .crossJoin(broadcast(vm))
      .select(col("w"), viterbiSeg(col("w"), col("__vmap"), MaxPieceLen).as("seg"))
    val ids = occ.join(wordSegs, Seq("w"))
      .select(col("doc_id"), col("wpos"),
        posexplode(col("seg")).as(Seq("spos", "token")))
      .join(broadcast(vocab.select(col("token"), col("token_id"))), Seq("token"), "left")
      .withColumn("tid", coalesce(col("token_id"), lit(0)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("wpos"), col("spos"), col("tid")))),
            s => s.getField("tid").cast("string")),
          ",").as("token_ids"))
    docs.select(col(idCol).as("doc_id"))
      .join(ids, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_ids"), lit("")).as("token_ids"))
  }

  /** Corpus fertility (tokens emitted per word) of a trained unigram
    * vocabulary: one row (n_words, n_tokens, both exact bigints) —
    * the word map segments once under the FINAL pruned vocabulary.
    */
  def fertility(words: DataFrame, vocab: DataFrame): DataFrame =
    words.crossJoin(broadcast(
        vocabMap(vocab.select(col("token").as("piece"), col("score_u")))))
      .select(col("freq"),
        size(viterbiSeg(col("w"), col("__vmap"), MaxPieceLen)).as("__n"))
      .agg(sum(col("freq")).cast("long").as("n_words"),
        sum(col("freq") * col("__n")).cast("long").as("n_tokens"))
}
