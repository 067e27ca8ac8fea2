package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kernel output row for [[TextAnalysis.winnowKernel]]. */
final case class DocFingerprints(doc_id: Long, fps: Seq[Long])

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, language identification, quality
  * scoring, and document fingerprinting.
  *
  * Everything is a pure Column expression (codegen'd, no UDFs), so
  * the whole text pipeline runs inside one WholeStageCodegen span and
  * scales embarrassingly — per-row work, zero shuffles.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count, whitespace definition. */
  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** Token count, BPE-ish regex definition: alnum runs and individual
    * punctuation marks each count as one token (a cheap stand-in for a
    * real subword tokenizer, which would be a dictionary broadcast).
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Stopword sets for the n-gram language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"))

  /** Per-language stopword hit count (duplicates counted). */
  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang): _*)))

  /** Language-ID: argmax of stopword hits with a fixed precedence
    * order on ties (en > es > de > fr > zh); 'und' when nothing hits.
    * Null text coalesces to '' FIRST so it deterministically maps to
    * 'und' — without it every when() condition is null and the verdict
    * falls through, while a SQL CASE oracle would fall through to its
    * ELSE arm instead: a latent cross-engine mismatch.
    */
  def languageId(text: Column): Column = {
    val toks = tokens(lower(coalesce(text, lit(""))))
    val scores = Seq("en", "es", "de", "fr", "zh").map(l => l -> stopwordHits(toks, l))
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), elseCol) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(elseCol)
    }
  }

  /** Heuristic quality score in [0, 1]: mixes length saturation,
    * stopword density, and punctuation penalty — the standard cheap
    * pre-filter in web-scale corpus cleaning.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = size(toks).cast("double")
    val lenScore = least(n / 100.0, lit(1.0))
    val stopScore = least(stopwordHits(toks, "en").cast("double") / greatest(n, lit(1.0)) * 5.0, lit(1.0))
    val punct = size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double")
    val punctPenalty = least(punct / greatest(length(text).cast("double"), lit(1.0)) * 10.0, lit(1.0))
    round(lenScore * 0.4 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.3, 6)
  }

  /** Document fingerprint: md5 of the case-folded, whitespace-collapsed
    * text. The canonical exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling polynomial hash of every k-char window of the text:
    * `h_i = Σ cp(i+j)·B^(k-1-j) mod M` with B=1009, M=2^31 — pure
    * integer arithmetic over codepoints, so any engine reproduces it
    * (no md5 needed, and all intermediates stay < 2^62). O(n·k) as a
    * Column expression; a JVM kernel would make it O(n) with the true
    * rolling update, the classic trade once profiling demands it.
    */
  def rollingHashes(text: Column, k: Int): Column = {
    val B = 1009L
    val M = 2147483648L
    when(length(text) >= k,
      transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => (0 until k).map(j =>
          pmod(ascii(text.substr(i + j, lit(1))).cast("bigint") *
            lit(BigInt(B).modPow(k - 1 - j, M).toLong), lit(M)))
          .reduce((a, b) => pmod(a + b, lit(M)))))
      .otherwise(expr("array()").cast("array<bigint>"))
  }

  /** Winnowed fingerprints (the MOSS scheme): min hash of each window
    * of `w` consecutive k-gram rolling hashes, deduplicated — a
    * compact, position-robust document sketch. The input hash array
    * MUST be a materialized column (cached/shuffled below): the window
    * min references it once per window, and an inlined
    * [[rollingHashes]] expression would re-run the O(n·k) pass per
    * window.
    */
  def winnow(hashesCol: Column, w: Int): Column =
    when(size(hashesCol) >= w,
      array_distinct(transform(
        sequence(lit(1), size(hashesCol) - (w - 1)),
        i => array_min(slice(hashesCol, i, lit(w))))))
      .otherwise(when(size(hashesCol) > 0, array(array_min(hashesCol)))
        .otherwise(expr("array()").cast("array<bigint>")))

  /** [[rollingHashes]] + [[winnow]] in one narrow JVM pass — the hot
    * path. The Column twins above cost O(n²·k): `substr(i, 1)` seeks
    * the UTF8String from the start per call and the window-min
    * re-slices per window; here the hash genuinely ROLLS (O(n)) and
    * the window min uses a monotone deque (O(n)). Bit-identical to the
    * Column expressions (same codepoint arithmetic mod 2^31, same
    * distinct-set output; pinned by a spec test).
    */
  def winnowKernel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    val B = 1009L
    val M = 2147483648L
    val bk1 = BigInt(B).modPow(k - 1, M).toLong
    val in = docs.select(col(idCol).cast("long").as("_1"), lower(col(textCol)).as("_2"))
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    in.mapPartitions { it =>
      it.map { case (id, text) =>
        // null text -> empty sketch, like the Column twins (their
        // when(length >= k) falls through on null) and the oracle.
        val cps = if (text == null) Array.empty[Int] else text.codePoints().toArray
        val nH = cps.length - k + 1
        val fps: Array[Long] =
          if (nH <= 0) Array.empty
          else {
            val hs = new Array[Long](nH)
            var h = 0L
            var j = 0
            while (j < k) { h = (h * B + cps(j)) % M; j += 1 }
            hs(0) = h
            var i = 1
            while (i < nH) {
              h = ((h + M - cps(i - 1) * bk1 % M) % M * B + cps(i + k - 1)) % M
              hs(i) = h
              i += 1
            }
            if (nH < w) Array(hs.min)
            else {
              // Sliding-window min with a primitive ring-buffer deque;
              // global distinct via LongHashSet-free two-step: emit only
              // when the window min CHANGES (consecutive windows usually
              // share their min), then a final distinct preserving first
              // occurrence — allocation stays out of the per-window loop.
              val emitted = new Array[Long](nH - w + 2)
              var nEmitted = 0
              val dq = new Array[Int](nH)
              var head = 0
              var tail = 0 // deque is dq[head until tail]
              var p = 0
              while (p < nH) {
                while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
                dq(tail) = p
                tail += 1
                if (dq(head) <= p - w) head += 1
                if (p >= w - 1) {
                  val m = hs(dq(head))
                  if (nEmitted == 0 || emitted(nEmitted - 1) != m) {
                    emitted(nEmitted) = m
                    nEmitted += 1
                  }
                }
                p += 1
              }
              java.util.Arrays.copyOf(emitted, nEmitted).distinct
            }
          }
        DocFingerprints(id, fps.toSeq)
      }
    }(Encoders.product[DocFingerprints]).toDF()
  }

  /** Per-document key terms by TF-IDF: the k highest
    * `tf * ln(n_docs / df)` terms per doc (whitespace tokens,
    * lowercased), ties broken by term so results reproduce anywhere.
    *
    * Shape at scale — every step is distributive:
    *   1. explode → (doc, term) counts: map-side-combined hash
    *      aggregate, one shuffle on (doc, term);
    *   2. document frequency: second hash aggregate over the
    *      (doc, term) frame — counts ROWS, which ARE distinct docs
    *      per term (no count-distinct Expand);
    *   3. n_docs: 1-row aggregate, broadcast crossJoin;
    *   4. the per-doc cut is the bounded [[graft.functions.TopK]]
    *      k-heap on `struct(-tfidf, term)` — never a corpus-wide
    *      window sort.
    * The tf×df join is a term-key equi-join (both sides shuffle once;
    * at 100 TB the term dictionary is Zipf-shaped, which AQE skew
    * handling absorbs — or pre-filter stopwords for a hard cap).
    *
    * Scores are ROUNDED to 6 dp and ranked on the rounded value:
    * `ln` is not correctly-rounded IEEE (libms differ in the last
    * ulp), so ranking on raw doubles could flip near-equal terms
    * across engines; 6-dp rounding collapses those to exact ties,
    * which the term tie-break then orders identically everywhere.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(coalesce(col(textCol), lit(""))))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopK.smallestK(
        struct((-col("tfidf")).as("nt"), col("term").as("term")), k).as("top"))
      .select(col("doc_id"), explode(col("top")).as("t"))
      .select(col("doc_id"), col("t.term").as("term"), (-col("t.nt")).as("tfidf"))
  }

  /** PII patterns for [[redactPii]], applied IN ORDER (email → IPv4 →
    * phone) so overlapping matches resolve identically everywhere.
    * Every pattern sticks to the regex subset Java's engine and RE2
    * (DuckDB/Go/Rust scanners) agree on — no lookaround, no backrefs —
    * so a redaction run is reproducible across the batch engine, the
    * oracle, and any sidecar tooling.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\+\\d{6,14}\\b" -> "<PHONE>")

  /** Redact PII in place: each [[piiPatterns]] match is replaced by its
    * tag. Pure codegen'd `regexp_replace` chain — per-row work, no
    * shuffle, scales with the scan. Order matters and is fixed: an
    * IPv4-looking substring inside an already-redacted email can't
    * double-fire because earlier replacements run first.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, lit(pat), lit(tag))
    }

  /** Count of matches for one PII pattern index (for audit columns).
    * Null-safe: NULL text counts as 0 matches — without the coalesce,
    * non-ANSI `size(NULL)` yields the legacy -1 and an audit over a
    * nullable column reports negative counts.
    */
  def piiCount(text: Column, idx: Int): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit(piiPatterns(idx)._1), lit(0)))

  /** Per-document character-distribution Shannon entropy (nats) plus
    * alphabet size — the cheap "is this text or noise" quality gate
    * that catches what token heuristics miss: base64 blobs, hex
    * dumps, minified/encrypted payloads score HIGH (entropy near the
    * uniform-alphabet ceiling), single-char floods and whitespace art
    * score near zero, natural language sits in the middle
    * (~2.3–3.2 nats for English). Corpus-cleaning pipelines threshold
    * both tails.
    *
    * Determinism (the T13 micro-nat posture): using
    * H = ln n − (Σ n_c·ln n_c)/n, every ln rounds to integer
    * micro-nats FIRST, the weighted sums are exact bigints, and the
    * entropy is the raw quotient of exact integers — no double
    * accumulates, no final round to diverge cross-engine.
    *
    * Shape at scale: explode chars → map-side-combined (doc, char)
    * counts (bounded by |doc| × alphabet, combines hard — text is
    * mostly a few dozen distinct chars) → one per-doc aggregate. Two
    * doc-keyed shuffles, no join, no window. Docs with no characters
    * are absent from the output (no distribution to score).
    */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    charEntropyKernel(docs, idCol, textCol)

  /** mapPartitions KERNEL for [[charEntropy]] — the
    * [[charNgramCountsKernel]] posture applied to the entropy gate
    * (round 17): its Column twin (kept in EntropySpec as the parity
    * reference) MATERIALIZES one row per corpus
    * character (explode → hash-agg probe per char — the same
    * per-char-position class the trained language-ID retired at 5.7×),
    * where the per-doc character distribution is ROW-LOCAL by
    * definition. The kernel folds it into one per-doc HashMap loop and
    * emits the finished (doc_id, n_chars, n_distinct_chars, entropy)
    * row — ZERO shuffle (the twin paid a (doc, char) exchange), zero
    * per-char rows.
    *
    * Bit parity with the Column twin (EntropySpec pins it on
    * non-ASCII/surrogate/empty fixtures):
    *   - chars = CODE POINTS, matching `split(text, "")` (Java's empty
    *     regex advances by code point since JDK 8) with the `c != ""`
    *     filter (empty text → no row, like the twin's explode of []).
    *   - ln rounds via the exact arithmetic Spark's `round(log(x)*1e6)`
    *     performs: java.math.BigDecimal.valueOf(Math.log(x)*1e6)
    *     .setScale(0, HALF_UP) — Catalyst's Round on DoubleType is
    *     BigDecimal-HALF_UP on the same double.
    *   - sums are exact longs; the final entropy is the identical
    *     long-quotient-to-double expression.
    */
  private[graft] def charEntropyKernel(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Contract guard (round-18 advice fix): the kernel's tuple encoder
    // needs a LONG id, so a non-integral idCol would silently null out
    // (string ids) or silently widen the output schema (int ids)
    // relative to the Column twin. Fail fast with the actual type.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = docs.schema(docs.schema.fieldIndex(idCol)).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idType),
      s"charEntropy: idCol '$idCol' must be an integral column (kernel emits " +
        s"a bigint doc_id), got ${idType.simpleString}")
    val src = docs.select(col(idCol).cast("long").as("doc_id"),
      coalesce(col(textCol), lit("")).as("__s"))
    def lnMicro(x: Long): Long =
      java.math.BigDecimal.valueOf(Math.log(x.toDouble) * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    src.as(Encoders.product[(Long, String)]).mapPartitions { it =>
      it.flatMap { case (id, s) =>
        val m = scala.collection.mutable.HashMap.empty[Int, Long]
        var o = 0
        var n = 0L
        while (o < s.length) {
          val cp = s.codePointAt(o)
          m.update(cp, m.getOrElse(cp, 0L) + 1L)
          n += 1L
          o += Character.charCount(cp)
        }
        if (n == 0L) Iterator.empty
        else {
          var sMicro = 0L
          val vs = m.valuesIterator
          while (vs.hasNext) { val nc = vs.next(); sMicro += nc * lnMicro(nc) }
          Iterator.single((id, n, m.size.toLong,
            (n * lnMicro(n) - sMicro).toDouble / (n * 1000000L).toDouble))
        }
      }
    }(Encoders.product[(Long, Long, Long, Double)])
      .toDF("doc_id", "n_chars", "n_distinct_chars", "entropy")
  }

  /** Deterministic STUB text embedding — the [[Multimodal.stubDecoder]]
    * posture for the text→vector hop: 16 md5-derived pseudo-random
    * coordinates in [-1, 1], centered and float-rounded identically
    * in both engines (this container has no embedding model; a real
    * deployment swaps in a model server / batch forward pass without
    * touching the downstream index-and-search plumbing, which is
    * real). Pure codegen'd Column expression.
    */
  def hashEmbedding(text: Column, dim: Int = 16): Column = {
    require(dim >= 1 && dim <= 16, "one md5 block provides up to 16 bytes")
    val h = md5(coalesce(text, lit("")))
    transform(sequence(lit(0), lit(dim - 1)),
      i => ((conv(h.substr(i * 2 + 1, lit(2)), 16, 10).cast("int")
        - lit(127.5)) / lit(127.5)).cast("float"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, Appendix A1.1) —
    * the published heuristic gate production pretraining pipelines
    * run before model-based filters, as per-document integer flags:
    *
    *   - `f_word_count`: 50 ≤ words ≤ 100,000
    *   - `f_mean_len`: mean word length in [3, 10] chars
    *   - `f_symbol`: symbol-to-word ratio ≤ 0.1 (`#` chars and
    *     non-overlapping `...` runs — the paper's symbol set)
    *   - `f_alpha`: ≥ 80% of words contain an alphabetic character
    *   - `f_stop`: ≥ 2 DISTINCT words from the paper's 8-word stop
    *     list (the, be, to, of, and, that, have, with)
    *
    * plus `pass` = all five. Every ratio threshold is an integer
    * CROSS-MULTIPLICATION (3·words ≤ chars ≤ 10·words; 10·symbols ≤
    * words; 5·alpha_words ≥ 4·words) — no float division anywhere, so
    * both engines agree by arithmetic identity, the house rule. The
    * paper's two LINE-level rules (bullet-start, ellipsis-end
    * fractions) belong to the line tier ([[removeBoilerplateLines]]'
    * domain — this fixture has no native line structure) and are
    * deliberately out of scope here.
    *
    * Scale: ONE narrow codegen'd projection — token array HOFs
    * (aggregate/filter/array_intersect) compute every statistic
    * in-row; zero shuffle, zero join, zero window. The quality gate
    * over 100 TB costs exactly one scan, which is why pipelines run
    * it FIRST.
    */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val txt = coalesce(col(textCol), lit(""))
    val t = filter(tokens(lower(txt)), x => x =!= "")
    docs.select(col(idCol).as("doc_id"), txt.as("__txt"), t.as("__t"))
      .select(
        col("doc_id"),
        size(col("__t")).cast("long").as("n_words"),
        aggregate(transform(col("__t"), w => length(w)), lit(0L),
          (acc, x) => acc + x).as("n_chars"),
        (length(col("__txt")) - length(regexp_replace(col("__txt"), "#", "")) +
          size(regexp_extract_all(col("__txt"), lit("\\.\\.\\."), lit(0))))
          .cast("long").as("n_symbols"),
        size(filter(col("__t"), w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(col("__t")),
          array(gopherStops.map(lit): _*))).cast("long").as("n_stop"))
      .select(
        col("doc_id"), col("n_words"), col("n_chars"), col("n_symbols"),
        col("n_alpha"), col("n_stop"),
        (col("n_words") >= 50 && col("n_words") <= 100000L)
          .cast("int").as("f_word_count"),
        (col("n_chars") >= lit(3L) * col("n_words") &&
          col("n_chars") <= lit(10L) * col("n_words"))
          .cast("int").as("f_mean_len"),
        (lit(10L) * col("n_symbols") <= col("n_words")).cast("int").as("f_symbol"),
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")).cast("int").as("f_alpha"),
        (col("n_stop") >= 2).cast("int").as("f_stop"))
      .withColumn("pass",
        (col("f_word_count") === 1 && col("f_mean_len") === 1 &&
          col("f_symbol") === 1 && col("f_alpha") === 1 && col("f_stop") === 1)
          .cast("int"))
  }

  /** LINE-tier quality rules — [[gopherQualityFlags]]' companion for
    * the rules that need line structure (deliberately out of scope
    * there): Gopher A1.1's two line fractions and C4's per-line
    * census (Raffel et al. 2020 §2.2):
    *
    *   - `f_bullet` (Gopher): ≤ 90% of lines start with a bullet
    *     (`- ` / `* ` / `• `)
    *   - `f_ellipsis` (Gopher): ≤ 30% of lines end with `...`
    *   - `n_terminal` (C4): lines ending in terminal punctuation
    *     (. ! ? " ') — C4 KEEPS only these
    *   - `n_ge5w` (C4): lines with ≥ 5 words
    *
    * Fractions are integer cross-multiplications (10·bullet ≤
    * 9·lines; 10·ellipsis ≤ 3·lines) — no float thresholds. Counts
    * are emitted raw beside the flags so a caller can compose its own
    * C4 keep-rule census. Denominators count ALL lines including
    * blanks (neither rule's numerator matches a blank).
    *
    * Scale: like [[gopherQualityFlags]], ONE narrow codegen pass —
    * the line split and every census are in-row array HOFs (nested:
    * the ≥5-words test tokenizes each line inside the filter lambda);
    * zero shuffle, zero join, zero explode.
    */
  def lineQualityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val l = split(coalesce(col(textCol), lit("")), "\n")
    docs.select(
        col(idCol).as("doc_id"),
        size(l).cast("long").as("n_lines"),
        size(filter(l, x => trim(x).startsWith("- ") ||
          trim(x).startsWith("* ") || trim(x).startsWith("• ")))
          .cast("long").as("n_bullet"),
        size(filter(l, x => x.endsWith("..."))).cast("long").as("n_ellipsis"),
        size(filter(l, x => x.rlike("[.!?\"']$"))).cast("long").as("n_terminal"),
        size(filter(l, x =>
          size(filter(split(x, "\\s+"), w => w =!= "")) >= 5))
          .cast("long").as("n_ge5w"))
      .select(col("doc_id"), col("n_lines"), col("n_bullet"),
        col("n_ellipsis"), col("n_terminal"), col("n_ge5w"),
        (lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines"))
          .cast("int").as("f_bullet"),
        (lit(10L) * col("n_ellipsis") <= lit(3L) * col("n_lines"))
          .cast("int").as("f_ellipsis"))
  }

  /** Duplicate-n-gram CHARACTER COVERAGE — the exact Gopher A1.1
    * repetition metric ("fraction of characters inside duplicated
    * n-grams", thresholds 0.15 at n=5 … 0.10 at n=10) that
    * [[repetitionStats]]' count-weighted fractions approximate:
    * occurrences of within-doc duplicated n-grams OVERLAP, so summing
    * count·length over-counts shared characters — the published
    * metric is the length of the interval UNION. Computed exactly
    * over the whitespace-normalized string (tokens joined by single
    * spaces — the tokenizer contract; offsets are then a pure
    * function of token lengths):
    *
    *   - token p is covered iff some duplicated occurrence start i
    *     satisfies i ≤ p ≤ i+n−1;
    *   - the separator between tokens p, p+1 is covered iff one
    *     occurrence spans BOTH (i ≤ p < p+1 ≤ i+n−1) — adjacent
    *     occurrences that merely touch do not fuse their spans.
    *
    * `covered_chars` = Σ covered token lengths + covered separators;
    * `total_chars` = Σ lengths + (L−1). Both integers — a threshold
    * test cross-multiplies, never divides.
    *
    * Scale: ONE narrow codegen pass, zero shuffle — duplicate
    * detection and the interval union are in-row array HOFs. The
    * per-row cost is O(L²) gram comparisons (each position's gram is
    * counted against the doc's own gram list), the honest price of
    * the EXACT within-doc metric without a shuffle; documents at
    * pipeline scale are length-bounded upstream ([[chunkDocs]] is the
    * gate), which bounds L by contract. Docs shorter than n tokens
    * have no n-grams: coverage 0.
    */
  def dupNgramCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    docs.select(col(idCol).as("doc_id"), t.as("__t"))
      .select(col("doc_id"), col("__t"),
        // Spark sequence(a, b) DESCENDS when a > b — every series
        // below is guarded to empty instead.
        when(size(col("__t")) >= n,
          transform(sequence(lit(1), size(col("__t")) - (n - 1)),
            i => concat_ws(" ", slice(col("__t"), i, lit(n)))))
          .otherwise(expr("array()").cast("array<string>")).as("__g"))
      .select(col("doc_id"), col("__t"),
        when(size(col("__g")) >= 1,
          filter(sequence(lit(1), size(col("__g"))),
            i => size(filter(col("__g"),
              g => g === element_at(col("__g"), i))) >= 2))
          .otherwise(expr("array()").cast("array<int>")).as("__dup"))
      .select(
        col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        (aggregate(transform(col("__t"), w => length(w)), lit(0L),
          (acc, x) => acc + x) +
          greatest(size(col("__t")).cast("long") - 1L, lit(0L)))
          .as("total_chars"),
        (aggregate(
          when(size(col("__t")) >= 1, sequence(lit(1), size(col("__t"))))
            .otherwise(expr("array()").cast("array<int>")),
          lit(0L),
          (acc, p) => acc + when(
            exists(col("__dup"), i => i <= p && p <= i + (n - 1)),
            length(element_at(col("__t"), p)).cast("long")).otherwise(0L)) +
          aggregate(
            when(size(col("__t")) >= 2, sequence(lit(1), size(col("__t")) - 1))
              .otherwise(expr("array()").cast("array<int>")),
            lit(0L),
            (acc, p) => acc + when(
              exists(col("__dup"), i => i <= p && p + 1 <= i + (n - 1)),
              lit(1L)).otherwise(0L)))
          .as("covered_chars"))
  }

  /** C4 line-level cleaner (Raffel et al. 2020 §2.2) — APPLY the
    * keep-rules [[lineQualityStats]] measures: keep only lines that
    * end in terminal punctuation (. ! ? " ') AND have ≥ 5 words;
    * re-assemble the survivors in line order; then the paper's
    * doc-level drops as flags beside the cleaned text — `f_lorem`
    * (contains "lorem ipsum" case-insensitively), `f_brace` (contains
    * `{` — C4 drops anything that looks like code), `f_min_lines`
    * (≥ 3 kept lines, the paper's ≥-3-sentence floor applied at its
    * own line granularity). `pass` = all three; the cleaned TEXT
    * ships regardless (the caller composes drops — same posture as
    * [[removeBoilerplateLines]]).
    *
    * Scale: ONE narrow codegen pass — keep-test, reassembly
    * (filter + array_join IN ORDER, no sort needed: filter preserves
    * array order), and the flags are in-row HOFs; zero shuffle. C4
    * ran this over Common Crawl for exactly that reason.
    */
  def c4CleanLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val l = split(coalesce(col(textCol), lit("")), "\n")
    val kept = filter(l, x => x.rlike("[.!?\"']$") &&
      size(filter(split(x, "\\s+"), w => w =!= "")) >= 5)
    docs.select(
        col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("__txt"),
        size(l).cast("long").as("n_lines"),
        kept.as("__kept"))
      .select(
        col("doc_id"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), "\n").as("clean_text"),
        (!lower(col("__txt")).contains("lorem ipsum")).cast("int").as("f_lorem"),
        (!col("__txt").contains("{")).cast("int").as("f_brace"),
        (size(col("__kept")) >= 3).cast("int").as("f_min_lines"))
      .withColumn("pass",
        (col("f_lorem") === 1 && col("f_brace") === 1 &&
          col("f_min_lines") === 1).cast("int"))
  }

  /** Within-doc duplicate-LINE statistics — Gopher A1.1's remaining
    * repetition pair (duplicate line fraction ≤ 0.30, duplicate line
    * CHARACTER fraction ≤ 0.20), completing the repetition tiers:
    * cross-document lines are [[removeBoilerplateLines]]' (T22),
    * within-doc n-grams [[dupNgramCoverage]]'s (T23c), within-doc
    * LINES here. A line is a duplicate iff a STRICTLY EARLIER line in
    * the same document has the same normalization (trim · lower) —
    * the first occurrence is never counted (the paper's "fraction of
    * lines that are duplicates" — removing flagged lines keeps one
    * copy); blank lines never count. Char fractions weigh by RAW line
    * length over the total raw line chars (separators excluded — a
    * line metric, not a string metric). Flags integer-cross-multiply
    * (10·dup ≤ 3·lines; 5·dup_chars ≤ total_chars).
    *
    * Scale: ONE narrow codegen pass; the earlier-occurrence test is
    * an in-row O(L²) HOF over line pairs (the [[dupNgramCoverage]]
    * price, bounded by doc length). Zero shuffle.
    */
  def dupLineStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val l = split(coalesce(col(textCol), lit("")), "\n")
    docs.select(col(idCol).as("doc_id"), l.as("__l"))
      .select(col("doc_id"), col("__l"),
        // 1-based positions of duplicate lines (non-blank, equal to an
        // earlier line under trim-lower normalization).
        when(size(col("__l")) >= 2,
          filter(sequence(lit(2), size(col("__l"))), i =>
            trim(element_at(col("__l"), i)) =!= "" &&
              exists(sequence(lit(1), i - 1), j =>
                lower(trim(element_at(col("__l"), j))) ===
                  lower(trim(element_at(col("__l"), i))))))
          .otherwise(expr("array()").cast("array<int>")).as("__dup"))
      .select(
        col("doc_id"),
        size(col("__l")).cast("long").as("n_lines"),
        size(col("__dup")).cast("long").as("n_dup_lines"),
        aggregate(col("__dup"), lit(0L),
          (acc, i) => acc + length(element_at(col("__l"), i)).cast("long"))
          .as("dup_line_chars"),
        aggregate(transform(col("__l"), x => length(x)), lit(0L),
          (acc, x) => acc + x).as("total_line_chars"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        col("dup_line_chars"), col("total_line_chars"),
        (lit(10L) * col("n_dup_lines") <= lit(3L) * col("n_lines"))
          .cast("int").as("f_dup_lines"),
        (lit(5L) * col("dup_line_chars") <= col("total_line_chars"))
          .cast("int").as("f_dup_chars"))
  }

  /** Sentence segmentation — the unit between token and document that
    * sentence-level dedup, citation extraction, and window packing
    * key on: split on runs of sentence punctuation ([.!?]+) followed
    * by whitespace (the abbreviation-blind regex segmenter — the
    * honest cheap tier; an ML segmenter slots into the same explode
    * shape), trimmed, empties dropped, 0-based `sent_id` in document
    * order. Pure narrow posexplode — no shuffle, no UDF.
    */
  def sentences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(filter(
          transform(
            split(coalesce(col(textCol), lit("")), "[.!?]+\\s+|[.!?]+$"),
            s => trim(s)),
          s => s =!= "")))
      .select(col("doc_id"), col("pos").as("sent_id"),
        col("col").as("sentence"))

  /** Positional inverted index: one `(term, doc_id, pos)` posting per
    * token occurrence — the IR structure under phrase/proximity
    * search. Build is a pure narrow posexplode (no shuffle); persist
    * with [[graft.sources.Sink.saveBucketed]] BY TERM so a query's
    * postings live in one bucket and a search touches only its
    * terms' files (the 100 TB layout; the term filter pushes into
    * the scan either way).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(filter(tokens(lower(coalesce(col(textCol), lit("")))), t => t =!= "")))
      .select(col("col").as("term"), col("doc_id"), col("pos"))

  /** Exact phrase search over a positional index: documents where
    * `terms` occur at consecutive positions, as `(doc_id, n_matches,
    * first_pos)`. The classic postings-intersection plan: one
    * broadcast-pruned postings scan per phrase term, then equi-joins
    * on (doc_id, aligned position) — candidate cardinality is the
    * RAREST term's postings, never the corpus, and each join is a
    * hash join on (doc, pos) keys. Phrase semantics follow the
    * index's tokenizer (lowercased, whitespace-split) — the
    * normalization IS the contract, unlike a raw LIKE.
    */
  def phraseSearch(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phrase must have at least one term")
    val first = postings.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos"))
    val aligned = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(
        postings.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
    aligned.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
  }

  /** [[phraseSearch]]'s declarative twin for a PIPELINE-produced
    * bigram phrase: the phrase arrives as a broadcast 1-row frame
    * `(w1, w2)` instead of driver-side strings, so a query can feed a
    * computed phrase (e.g. "the corpus's top bigram") straight into
    * the search with no `collect()` anywhere.
    */
  def phraseSearchBigram(postings: DataFrame, phrase: DataFrame): DataFrame = {
    val p1 = postings.crossJoin(broadcast(phrase))
      .filter(col("term") === col("w1")).select(col("doc_id"), col("pos"))
    val p2 = postings.crossJoin(broadcast(phrase))
      .filter(col("term") === col("w2"))
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    p1.join(p2, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
  }

  /** Gopher-style repetition stats per document, the standard cheap
    * repetition filters in web-corpus cleaning (Rae et al. 2021 §A1.1
    * use duplicate-line and top-n-gram character fractions; this is the
    * word-level analog for line-less documents):
    *
    *   - `dup_word_frac`: fraction of token characters belonging to
    *     tokens that occur ≥ 2 times in the doc (all occurrences
    *     counted);
    *   - `top_bigram_frac`: the largest character share any single
    *     word bigram covers — max over bigrams of `count · len(bigram)`
    *     divided by total bigram characters (max of the product, so no
    *     tie-break is ever needed).
    *
    * Shape at scale — the [[tfidfTopTerms]] pattern: explode →
    * map-side-combined counts keyed by (doc, token) → per-doc ratio
    * aggregate; two narrow shuffles on doc-keyed data, no window over
    * the corpus, no per-row quadratic array work. Fractions round to
    * 6 dp so the ratio compares exactly across engines.
    */
  /** BM25 ranked retrieval — the IR family's scoring rung above
    * [[phraseSearch]]'s boolean membership (the ranking function
    * Lucene/Elasticsearch ship as the default):
    *
    *   score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t) = ln((N − df + ½)/(df + ½))
    *
    * Cross-engine determinism, the KN trick applied twice: k1 = 6/5
    * and b = 3/4 make the tf saturation term ONE exact-integer
    * rational — 22·tf·T / (10·tf·T + 3·T + 9·dl·N) with T = total
    * corpus tokens (avgdl = T/N substituted through) — and the ½s in
    * the idf clear to (2N−2df+1)/(2df+1); each term's contribution
    * rounds to an integer micro-unit BEFORE the per-doc sum, so the
    * sum is exact bigint (order-free — a raw double Σ would depend on
    * row order) and the rank key is an integer with doc_id
    * tie-break. Integer range: 22·tf·T and 9·dl·N stay under 2⁶³
    * until T·tf ≈ 4·10¹⁷ — a corpus of 10¹⁴ tokens with tf ≈ 10³,
    * comfortably past the 100 TB tier.
    *
    * Scale shape: the query-term postings are pruned by an `isin` on
    * the literal terms BEFORE any aggregation (the scan reads only
    * matching tokens — candidate cardinality is the query terms'
    * postings, never the corpus); per-term df rides a ≤|q|-row
    * broadcast; doc lengths join at matched-doc cardinality; totals
    * are a 1-row broadcast; `orderBy.limit` is a TakeOrdered k-heap.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
      filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "").as("t"))
    val dl = toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_u",
        round(log((lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)).cast("double") /
          (lit(2L) * col("df") + lit(1L)).cast("double")) * lit(1000000.0), 0)
          .cast("bigint"))
      .withColumn("contrib_u",
        round(col("idf_u").cast("double") *
          ((lit(22L) * col("tf") * col("t_tokens")).cast("double") /
            (lit(10L) * col("tf") * col("t_tokens") + lit(3L) * col("t_tokens") +
              lit(9L) * col("dl") * col("n_docs")).cast("double")), 0).cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_u")).as("score_u"))
      .orderBy(col("score_u").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_terms"),
        (col("score_u").cast("double") / lit(1000000.0)).as("score"))
  }

  /** The BM25 SERVING ARTIFACT: the fully-scored postings index
    * `(term, doc_id, tf, contrib_u)` over the whole corpus — every
    * term's per-doc contribution in integer micro-units, which is
    * query-INDEPENDENT (idf and the tf saturation depend only on the
    * corpus), so a retrieval server persists THIS frame once
    * (`Sink.saveIndex`) and answers any query by summing contributions
    * over its terms ([[graft.streaming.StreamingOps.bm25TopKStream]],
    * or [[bm25TopKBatch]] which computes the same contributions
    * restricted to the workload's terms — bit-identical where they
    * overlap, pinned by the stream twin's parity test).
    *
    * Scale shape: two corpus-cardinality aggregates (tf, dl), one
    * vocabulary-cardinality aggregate (df) joined back UNBROADCAST
    * (a web corpus's vocabulary is itself large; AQE free to
    * broadcast a small one), totals as a 1-row broadcast. Output is
    * postings-cardinality — the index a production system lands in
    * its object store.
    */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bm25ScoreIndex(bm25DocLens(docs, idCol, textCol), bm25Tf(docs, idCol, textCol))

  /** The UNSCORED document-length layer of the BM25 index:
    * `(doc_id, dl)` — one row per document, INCLUDING zero-token docs
    * (they carry no postings but count in `n_docs`/avgdl, so the raw
    * layer must remember them). Pure tokenize + narrow projection.
    */
  def bm25DocLens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"))

  /** The UNSCORED term-frequency layer: `(term, doc_id, tf)` — the
    * raw postings a tokenizer pays for ONCE per document. Together
    * with [[bm25DocLens]] this is the INCREMENTAL half of the index:
    * both layers fold by pure append (a new batch tokenizes only its
    * own docs), while every SCORED contribution is global-statistics-
    * dependent (df, n_docs, avgdl all move with every ingest) and is
    * recomputed from the raw layers by [[bm25ScoreIndex]] — linear in
    * postings, zero re-tokenization. That split is the honest answer
    * to "incremental BM25": tf facts are incremental, idf is not, so
    * persist the facts and re-derive the scores (what Lucene's
    * per-segment stats + query-time idf do in effect).
    */
  def bm25Tf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "").as("t"))
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Score the raw layers into the serving index — [[bm25Index]]'s
    * second half, exposed so an INCREMENTAL ingest can rebuild scores
    * from appended raw layers without re-tokenizing the corpus:
    * `bm25ScoreIndex(docLens(C)+docLens(B), tf(C)+tf(B))` ≡
    * `bm25Index(C ∪ B)` exactly (unit-pinned — fold = rebuild, the
    * semDedupFoldBatch posture). df is one vocabulary-cardinality
    * aggregate over the postings, totals a 1-row broadcast; cost is
    * linear in postings, the floor for any global-idf scheme.
    */
  def bm25ScoreIndex(docLens: DataFrame, tfPostings: DataFrame): DataFrame = {
    val dl = docLens.select(col("doc_id"), col("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val tf = tfPostings.select(col("doc_id"), col("term"), col("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfT, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("contrib_u",
        round(
          round(log((lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)).cast("double") /
            (lit(2L) * col("df") + lit(1L)).cast("double")) * lit(1000000.0), 0)
            .cast("bigint").cast("double") *
          ((lit(22L) * col("tf") * col("t_tokens")).cast("double") /
            (lit(10L) * col("tf") * col("t_tokens") + lit(3L) * col("t_tokens") +
              lit(9L) * col("dl") * col("n_docs")).cast("double")), 0).cast("bigint"))
      .select(col("term"), col("doc_id"), col("tf"), col("contrib_u"))
  }

  /** Impact-ordered static index pruning (Carmel et al. SIGIR'01 /
    * Anh & Moffat's impact ordering): keep only each term's top
    * `maxPostings` postings by `(contrib_u DESC, doc_id ASC)` — the
    * classic serving-cost dial. A term's tail postings (low tf, long
    * docs) contribute least to any score it appears in, so truncating
    * the posting list bounds per-term serving work at a MEASURED
    * recall cost — `text_bm25_eval` prices exactly this knob, the
    * N4/N19 recall-ladder pattern applied to the IR family.
    *
    * Rank is attached (`posting_rank`) rather than filtered away, so
    * one scored pass serves a whole pruning CURVE: filtering the
    * returned frame at `posting_rank <= p` for any p ≤ maxPostings is
    * bit-identical to pruning at p directly (the
    * `graft.operators.Dedup.semDedupScoredPairs` shared-pass
    * contract). Pass `Int.MaxValue` to rank without pruning.
    *
    * Scale: [[bm25Index]] + one sort-based window partitioned BY TERM
    * (posting-list-sized partitions — the same per-key linear cost an
    * index builder pays to impact-order its lists on disk anyway).
    * One degenerate stopword list is the hot partition; production
    * builders drop stopwords first ([[stopwords]] is the gate).
    */
  def bm25IndexPruned(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    bm25Index(docs, idCol, textCol)
      .withColumn("posting_rank",
        row_number().over(Window.partitionBy(col("term"))
          .orderBy(col("contrib_u").desc, col("doc_id"))).cast("long"))
      .filter(col("posting_rank") <= maxPostings)
  }

  /** Serve a query workload from a PERSISTED scored-postings index —
    * the batch twin of [[graft.streaming.StreamingOps.bm25TopKStream]]
    * (same artifact, same summation), and the serving half of the
    * pruning eval: `index` is [[bm25Index]] / [[bm25IndexPruned]]
    * output (or its `Load.loadIndex` round-trip). Scoring sums the
    * loaded `contrib_u` per (query, doc) over the query's DISTINCT
    * terms (set semantics, the [[bm25TopKBatch]] contract) and cuts
    * top-k with the bounded CollectTopK heap. Against an unpruned
    * index this reproduces [[bm25TopKBatch]] exactly (same integer
    * micro-units, same (score_u DESC, doc_id ASC) key).
    *
    * Scale: the workload broadcast is |Q|-bounded; the index-side
    * join is the planner's choice (posting lists stream, never
    * collect); the heap keeps ≤ k rows per (partition × query).
    */
  def bm25TopKFromIndex(
      index: DataFrame,
      queries: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    bm25Rank(index.select(col("term"), col("doc_id"), col("contrib_u"))
      .join(broadcast(queries.select(col("query_id"), col("term")).distinct()),
        Seq("term")), "query_id", k, DocGrouping.ByDoc)
  }

  /** The BM25 ranking tail shared by [[bm25TopKBatch]],
    * [[bm25TopKFromIndex]] and the streaming server: sum `contrib_u`
    * per (query, doc), then cut each query's top-k by
    * (score_u DESC, doc_id ASC) with the bounded CollectTopK heap.
    * Output: `(qCol, doc_id, n_terms, score)`.
    */
  private[graft] def bm25Rank(
      scored: DataFrame, qCol: String, k: Int, g: DocGrouping): DataFrame = {
    val key = struct((-col("score_u")).as("ns"), col("doc_id").as("doc_id"),
      col("n_terms").as("n_terms"))
    scored
      .groupBy(g.keys(col(qCol), col("doc_id")): _*)
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_u")).as("score_u"))
      .groupBy(g.keys(col(qCol)): _*)
      .agg(graft.functions.TopK.smallestK(key, k).as("top"))
      .select(col(qCol), explode(col("top")).as("t"))
      .select(col(qCol), col("t.doc_id").as("doc_id"),
        col("t.n_terms").as("n_terms"),
        ((-col("t.ns")).cast("double") / lit(1000000.0)).as("score"))
  }

  /** BATCH BM25 retrieval — [[bm25TopK]] generalized from one literal
    * query to a TABLE of queries `(query_id, term)`, the shape a
    * retrieval deployment actually runs: score the whole query
    * workload against the index in ONE pass instead of one job per
    * query (the |Q|-bounded join pattern the ann_* family uses for
    * its query cohorts). Scoring math is identical to [[bm25TopK]] —
    * same exact-integer rationals (k1 = 6/5, b = 3/4), same
    * micro-unit rounding before the order-free per-(query, doc)
    * bigint sum — so a single-row query table reproduces the scalar
    * operator bit-for-bit.
    *
    * Scale shape: the postings explode is pruned by an inner join
    * against the BROADCAST distinct-term set (the dynamic-table
    * analog of the scalar version's `isin` literal prune — candidate
    * cardinality is the union of the workload's term postings, never
    * the corpus); per-term df and the (query_id, term) fan-out both
    * ride |Q|-bounded broadcasts, and a term shared by many queries
    * is scored ONCE per doc then fanned to its queries by the join.
    * The per-query top-k is the bounded CollectTopK heap aggregate
    * ([[graft.functions.TopK]]), NOT a row_number window: map-side
    * partials mean only ≤ k survivors per (partition × query) ride
    * the final shuffle — at web scale a hot query whose terms match
    * millions of docs never sorts more than k rows on one task.
    *
    * Output: `(query_id, doc_id, n_terms, score)`, ≤ k docs per
    * query, ranked by (score_u DESC, doc_id ASC).
    */
  def bm25TopKBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
      filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "").as("t"))
    val dl = toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val qterms = queries.select(col("term")).distinct()
    val tf = toks.select(col("doc_id"), explode(col("t")).as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Rank(tf.join(broadcast(dfT), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_u",
        round(log((lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)).cast("double") /
          (lit(2L) * col("df") + lit(1L)).cast("double")) * lit(1000000.0), 0)
          .cast("bigint"))
      .withColumn("contrib_u",
        round(col("idf_u").cast("double") *
          ((lit(22L) * col("tf") * col("t_tokens")).cast("double") /
            (lit(10L) * col("tf") * col("t_tokens") + lit(3L) * col("t_tokens") +
              lit(9L) * col("dl") * col("n_docs")).cast("double")), 0).cast("bigint"))
      // SET semantics on the workload (ADVICE r14): a repeated
      // (query_id, term) row — easy to produce upstream of a real
      // serving tier — would double-count that term's contrib_u and
      // inflate n_terms, silently reordering results. BM25 queries
      // are term SETS (classic BM25 has no query-side tf term), so
      // dedupe the fan-out; the broadcast stays |Q|-bounded.
      .join(broadcast(queries.select(col("query_id"), col("term")).distinct()),
        Seq("term")), "query_id", k, DocGrouping.ByDoc)
  }

  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "").as("t"))
    val words = toks
      .select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        round(
          coalesce(
            sum(when(col("cnt") >= 2, col("cnt") * length(col("w"))))
              .cast("double") /
              sum(col("cnt") * length(col("w"))).cast("double"),
            lit(0.0)), 6).as("dup_word_frac"))
    val bigrams = toks
      .select(col("doc_id"),
        explode(when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
          .otherwise(expr("array()").cast("array<string>"))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        round(
          max(col("cnt") * length(col("g"))).cast("double") /
            sum(col("cnt") * length(col("g"))).cast("double"), 6).as("top_bigram_frac"))
    // Total over the input: a doc with no tokens (or no bigram) reports
    // 0.0 repetition rather than silently dropping out of the frame.
    toks.select(col("doc_id"))
      .join(words, Seq("doc_id"), "left")
      .join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_word_frac"), lit(0.0)).as("dup_word_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Next-fit sequence packing: assign documents to fixed-capacity
    * context windows ("sequences") of at most `maxTokens` tokens — the
    * standard pretraining batching step (docs are concatenated into
    * training sequences; packing density sets effective throughput).
    *
    * Packing is inherently sequential, so the operator makes the
    * sequential unit EXPLICIT and bounded: docs are packed next-fit in
    * `idCol` order WITHIN each `bucketCol` group, buckets are
    * independent and distribute freely. The caller sizes buckets
    * (e.g. `doc_id DIV 50`, or a date partition) so one bucket's doc
    * list fits comfortably in task memory — the same contract as any
    * `collect_list` aggregation. Result is deterministic: a pure fold
    * over the id-sorted list, independent of partitioning.
    *
    * Next-fit semantics: a doc that would overflow the open sequence
    * starts a new one; a doc larger than `maxTokens` occupies a
    * sequence alone (it opens one and the next doc always overflows).
    * Output: (bucket, doc_id, n_tok, seq) with `seq` 0-based per
    * bucket.
    *
    * Shape at scale: ONE map-side-combinable aggregation (sorted
    * collect per bucket) and a codegen'd higher-order `aggregate` fold
    * — no iterative jobs, no window over the corpus, no driver
    * participation.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      nTokCol: String,
      bucketCol: String,
      maxTokens: Long,
      decreasing: Boolean = false): DataFrame = {
    val acc0 = struct(
      expr("array()").cast("array<struct<doc_id:bigint,n_tok:bigint,seq:int>>").as("asgn"),
      lit(0).as("seq"), lit(0L).as("cur"))
    // `decreasing` = next-fit-DECREASING: fold the same greedy rule
    // over the bucket's docs sorted biggest-first (negated-token sort
    // key leads the struct; doc_id tie-break keeps it total) — the
    // classic bin-packing heuristic a pretraining run trades arrival
    // order for when padding compute matters more than doc locality.
    // Default (false) preserves the original arrival-order contract.
    val d =
      if (decreasing)
        struct((-col(nTokCol).cast("long")).as("nk"),
          col(idCol).cast("long").as("doc_id"),
          col(nTokCol).cast("long").as("n_tok"))
      else
        struct(col(idCol).cast("long").as("doc_id"),
          col(nTokCol).cast("long").as("n_tok"))
    val collected = docs
      .select(col(bucketCol).as("bucket"), d.as("d"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("d"))).as("ds"))
    collected
      .select(col("bucket"), explode(aggregate(
        col("ds"), acc0,
        (acc, d) => {
          val over = acc.getField("cur") + d.getField("n_tok") > lit(maxTokens) &&
            acc.getField("cur") > lit(0L)
          val seq2 = when(over, acc.getField("seq") + 1).otherwise(acc.getField("seq"))
          val cur2 = when(over, d.getField("n_tok"))
            .otherwise(acc.getField("cur") + d.getField("n_tok")).cast("bigint")
          struct(
            concat(acc.getField("asgn"),
              array(struct(d.getField("doc_id").as("doc_id"),
                d.getField("n_tok").as("n_tok"), seq2.cast("int").as("seq")))).as("asgn"),
            seq2.as("seq"), cur2.as("cur"))
        },
        acc => acc.getField("asgn"))).as("a"))
      .select(col("bucket"), col("a.doc_id").as("doc_id"),
        col("a.n_tok").as("n_tok"), col("a.seq").as("seq"))
  }

  /** FIRST-fit sequence packing — the open-bin variant
    * [[packSequences]]'s single-window (next-fit) fold cannot
    * express: every document goes into the FIRST already-open window
    * it fits, else opens a new one, so a big doc no longer strands
    * the space behind it. The fold accumulator carries the open-bin
    * load list; its length is bounded by the BUCKET size (each doc
    * opens at most one bin), which is what keeps the per-row array
    * work bounded at 100 TB — buckets are the packing unit by
    * design. With `decreasing = true` this is classic FFD, the
    * heuristic with the 11/9·OPT + 1 guarantee; the policy query
    * measures it against both next-fit arms.
    */
  def packSequencesFirstFit(
      docs: DataFrame,
      idCol: String,
      nTokCol: String,
      bucketCol: String,
      maxTokens: Long,
      decreasing: Boolean = true): DataFrame = {
    val acc0 = struct(
      expr("array()").cast("array<struct<doc_id:bigint,n_tok:bigint,seq:int>>").as("asgn"),
      expr("array()").cast("array<bigint>").as("bins"))
    val d =
      if (decreasing)
        struct((-col(nTokCol).cast("long")).as("nk"),
          col(idCol).cast("long").as("doc_id"),
          col(nTokCol).cast("long").as("n_tok"))
      else
        struct(col(idCol).cast("long").as("doc_id"),
          col(nTokCol).cast("long").as("n_tok"))
    val collected = docs
      .select(col(bucketCol).as("bucket"), d.as("d"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("d"))).as("ds"))
    collected
      .select(col("bucket"), explode(aggregate(
        col("ds"), acc0,
        (acc, dd) => {
          val n = dd.getField("n_tok")
          val bins = acc.getField("bins")
          // First open bin the doc fits: indexes where load + n fits,
          // head or null. transform's (elem, idx) form sidesteps the
          // empty-array sequence() pitfall.
          val cands = filter(
            transform(bins, (b, i) => when(b + n <= lit(maxTokens), i).otherwise(lit(-1))),
            x => x >= 0)
          // try_element_at: the candidate list is EMPTY when nothing
          // fits (ANSI element_at would throw there).
          val idx = try_element_at(cands, lit(1))
          val opens = idx.isNull
          val seq2 = when(opens, size(bins)).otherwise(idx)
          val bins2 = when(opens, concat(bins, array(n.cast("bigint"))))
            .otherwise(transform(bins, (b, i) =>
              when(i === idx, b + n).otherwise(b).cast("bigint")))
          struct(
            concat(acc.getField("asgn"),
              array(struct(dd.getField("doc_id").as("doc_id"),
                n.as("n_tok"), seq2.cast("int").as("seq")))).as("asgn"),
            bins2.as("bins"))
        },
        acc => acc.getField("asgn"))).as("a"))
      .select(col("bucket"), col("a.doc_id").as("doc_id"),
        col("a.n_tok").as("n_tok"), col("a.seq").as("seq"))
  }

  /** Batch finisher for windowed trending-term counts — the downstream
    * ranking stage [[graft.streaming.StreamingOps.trendingTerms]]
    * deliberately defers (ranking after a streaming aggregate would be
    * a second stateful aggregation; a completed window is final once
    * the watermark passes, so ranking it in batch loses nothing).
    *
    * Input contract = the stream's output contract: one row per
    * (window, term) with a count; `windowCol` may be the streaming
    * `window` struct or any scalar window key (e.g. a day date).
    * Output: the k most frequent terms per window, ties broken
    * (count desc, term asc) — deterministic across engines.
    *
    * Scale shape: the cut is the bounded [[graft.functions.TopK]]
    * k-heap keyed by window — map-side partials mean only ≤ k
    * survivors per (task × window) ride the shuffle, and no task ever
    * sorts a window's whole vocabulary (a `row_number` window here
    * would put each window's full term list on one reducer).
    */
  def trendingTopK(
      counts: DataFrame,
      windowCol: String,
      termCol: String,
      nCol: String,
      k: Int): DataFrame =
    counts
      .groupBy(col(windowCol))
      .agg(graft.functions.TopK.smallestK(
        struct((-col(nCol)).as("nn"), col(termCol).as("term")), k).as("top"))
      .select(col(windowCol), explode(col("top")).as("t"))
      .select(col(windowCol), col("t.term").as(termCol), (-col("t.nn")).as(nCol))

  /** Duplicate token-span detection — the substring-level dedup signal
    * from "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022): k-token windows at a fixed stride, hashed and
    * counted across the corpus. Spans appearing in ≥ `minDocs`
    * distinct documents are the memorization-prone boilerplate
    * (licenses, navigation chrome, templated passages) that
    * document-level dedup — exact or near — cannot see, because the
    * containing documents differ.
    *
    * Returns `(span_hash, n_docs, n_total, sample_doc_id)`; recover
    * the span text or the affected documents by re-deriving spans for
    * the (tiny) hit set and joining on the hash.
    *
    * Scale shape: tokenize → windowed md5 per (doc, position) — all
    * codegen'd, no kernel — then TWO map-side-combinable aggregates:
    * (hash, doc) collapses each doc's repeats before the first
    * shuffle, (hash) counts docs after the second. Only 32-char
    * hashes cross the wire, never span text; both shuffles carry at
    * most |docs| × (len/stride) rows, pruned hard by the partial
    * aggs. No windows, no self-joins — a 100 TB corpus pays two
    * linear shuffles.
    *
    * The stride trades recall for cost exactly as in the paper's
    * suffix-array approximations: stride s detects any duplicated
    * passage of ≥ k + s − 1 tokens; stride 1 is exhaustive at s×
    * the span count.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 10,
      stride: Int = 5,
      minDocs: Int = 2): DataFrame =
    spanHashes(docs, idCol, textCol, spanTokens, stride)
      .groupBy(col("span_hash"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_total"),
        min(col("doc_id")).as("sample_doc_id"))
      .filter(col("n_docs") >= minDocs)

  /** The strided-window hash stream behind [[duplicateSpans]] /
    * [[dupSpanFractions]]: one `(doc_id, span_hash)` row per window.
    */
  private def spanHashes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int,
      stride: Int): DataFrame = {
    val t = tokens(lower(coalesce(col(textCol), lit(""))))
    docs
      .select(col(idCol).as("doc_id"), t.as("t"))
      .select(col("doc_id"),
        explode(
          when(size(col("t")) >= spanTokens,
            transform(
              sequence(lit(1), size(col("t")) - (spanTokens - 1), lit(stride)),
              i => md5(concat_ws(" ", slice(col("t"), i, lit(spanTokens))))))
            .otherwise(expr("array()").cast("array<string>"))).as("span_hash"))
  }

  /** Line-level boilerplate removal — the CCNet line-dedup tier
    * (Wenzek 2020 §4.1: drop lines whose normalized hash repeats
    * across documents — headers, nav bars, cookie banners, license
    * footers) that span-level dedup ([[duplicateSpans]], T10) cannot
    * see: boilerplate lines are usually SHORTER than a span window
    * and repeat at line boundaries, not at arbitrary token offsets.
    * (Reference scope: the reference app has no text pipeline; this
    * extends the §2.12 training-data surface.)
    *
    * Contract: split each document on newline; a NON-BLANK line whose
    * normalization (`trim . lower`) appears in ≥ `minDocs` DISTINCT
    * documents is boilerplate and dropped; every other line —
    * including blank lines, which structure paragraphs and are never
    * counted — is kept, and each document is re-assembled in original
    * line order. Output: one row per input document,
    * `(doc_id, n_lines, n_lines_kept, clean_text)` — a doc whose
    * every line was boilerplate survives with `clean_text = ''`
    * (removal never drops documents; the quality gate downstream
    * decides that).
    *
    * Scale shape (CCNet runs this on Common Crawl): the explode and
    * the normalization hash are narrow codegen; finding boilerplate
    * is TWO map-side-combinable aggregates over 32-char hashes —
    * (line_fp, doc_id) collapses within-doc repeats before the first
    * shuffle, (line_fp) counts distinct docs after the second (the
    * exact [[duplicateSpans]] shape, so the wire carries hashes,
    * never text). Membership is a LEFT join on `line_fp` — left
    * UNHINTED on purpose: at 100 TB the cross-doc-repeated line set
    * is itself web-scale (CCNet shards it by hash), so the hash-
    * partitioned shuffle join IS the scalable plan and AQE will
    * broadcast the boiler side whenever a smaller corpus leaves it
    * under the threshold. Reassembly is one doc_id shuffle with
    * collect_list pruned to (line_no, line) pairs. Three linear
    * shuffles total; no self-join, no window.
    */
  def removeBoilerplateLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 10): DataFrame = {
    val lines = explodeLines(docs, idCol, textCol)
    scrubLines(lines, boilerplateLineIndex(docs, idCol, textCol, minDocs),
      DocGrouping.ByDoc)
  }

  /** [[removeBoilerplateLines]]' reassembly under any [[DocGrouping]]:
    * `lines` are [[explodeLines]] rows, `boilerIndex` the `line_fp`
    * set to drop (derived in-query in batch, frozen in a stream).
    */
  private[graft] def scrubLines(
      lines: DataFrame, boilerIndex: DataFrame, g: DocGrouping): DataFrame = {
    val boiler = boilerIndex.select(col("line_fp"), lit(true).as("is_boiler"))
    lines.join(boiler, Seq("line_fp"), "left")
      .groupBy(g.keys(col("doc_id")): _*)
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("is_boiler").isNull, 1)).as("n_lines_kept"),
        // collect_list skips nulls, so the when() drops boilerplate
        // lines from the reassembly while they still count above.
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_boiler").isNull,
                struct(col("line_no"), col("line"))))),
            x => x.getField("line")),
          "\n").as("clean_text"))
  }

  /** [[removeBoilerplateLines]]' line explode: one row per line,
    * `(doc_id, line_no, line, line_fp)` — `line_fp` is the
    * normalized-line hash, NULL for blank lines (blanks structure
    * paragraphs; they never count toward boilerplate and are never
    * dropped). Pure narrow posexplode + codegen'd hash.
    */
  private[graft] def explodeLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      g: DocGrouping = DocGrouping.ByDoc): DataFrame =
    g.source(docs)
      .select(g.keys(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))): _*)
      .select(g.keys(col("doc_id"), col("pos").as("line_no"), col("col").as("line"),
        when(trim(col("col")) =!= "", md5(trim(lower(col("col")))))
          .as("line_fp")): _*)

  /** The boilerplate-line SET as a persistable serving artifact —
    * one `line_fp` row per normalized non-blank line appearing in ≥
    * `minDocs` distinct documents. This is the frame a production
    * pipeline computes ONCE over the standing corpus and
    * `Sink.saveIndex`es (the bm25Index posture): the batch cleaner
    * ([[removeBoilerplateLines]]) derives it in-query, and the
    * streaming admission twin
    * ([[graft.streaming.StreamingOps.lineBoilerStream]]) consumes
    * the LOADED frame — a stream cannot count cross-document line
    * frequencies (they are corpus statistics), the same
    * offline-calibrate/online-serve split as the LM fences and the
    * PSI reference counts. Two map-side-combinable aggregates over
    * 32-char hashes; output is repeated-line-vocabulary-sized.
    */
  def boilerplateLineIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 10): DataFrame =
    explodeLines(docs, idCol, textCol)
      .filter(col("line_fp").isNotNull)
      .groupBy(col("line_fp"), col("doc_id")).agg(count(lit(1)).as("n"))
      .groupBy(col("line_fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line_fp"))

  /** Sliding-window document chunking: split each document into
    * overlapping windows of `chunkTokens` whitespace tokens advancing
    * by `stride` — the standard pre-embedding / pre-training segmenter
    * for documents longer than a model's context (RAG chunking, long-
    * doc inference). Output: one row per chunk,
    * `(doc_id, chunk_id, start_token, n_tokens, chunk_text)` with
    * `chunk_id` 1-based in document order and `chunk_text` the tokens
    * re-joined with single spaces (whitespace runs are normalized by
    * tokenization — documented, not accidental).
    *
    * Window placement: starts 1, 1+stride, … up to the last FULL
    * window; if tokens remain past the last full window's end, one
    * extra TAIL-ALIGNED full window (start = n−chunkTokens+1) covers
    * them — every token lands in ≥1 chunk and no chunk is shorter
    * than `chunkTokens` except when the whole document is (then the
    * single chunk is the document). Documents with no tokens emit no
    * rows.
    *
    * Scale shape: pure per-row codegen'd array work — no shuffle, no
    * join, no window; the operator is a narrow projection and
    * composes with any downstream embed/dedup stage. Output size is
    * ~n/stride rows per doc, the caller's knob.
    */
  def chunkDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 40,
      stride: Int = 20): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    val t = filter(tokens(coalesce(col(textCol), lit(""))), x => x =!= "")
    docs
      .select(col(idCol).as("doc_id"), t.as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("s0",
        sequence(lit(1), greatest(size(col("t")) - (chunkTokens - 1), lit(1)),
          lit(stride)))
      .withColumn("starts",
        when(element_at(col("s0"), -1) + (chunkTokens - 1) < size(col("t")),
          concat(col("s0"), array(size(col("t")) - (chunkTokens - 1))))
          .otherwise(col("s0")))
      .select(col("doc_id"), col("t"), posexplode(col("starts")).as(Seq("pos", "s")))
      .select(col("doc_id"),
        (col("pos") + 1).as("chunk_id"),
        col("s").as("start_token"),
        least(lit(chunkTokens), size(col("t")) - col("s") + 1).as("n_tokens"),
        concat_ws(" ", slice(col("t"), col("s"), lit(chunkTokens))).as("chunk_text"))
  }

  /** Corpus-unigram language-model scoring: per-document mean token
    * log-probability under an add-one-smoothed unigram model fit on
    * the corpus itself — the classic cheap "how typical is this
    * document of the corpus" quality signal (rare-token-heavy docs
    * score very negative; CCNet-style pipelines threshold on exactly
    * this shape, with a real LM where affordable).
    *
    *   p(t) = (count(t) + 1) / (total_tokens + vocab_size)
    *   score(d) = Σ_t∈d ln p(t) / |d|
    *
    * Output: `(doc_id, n_tokens, avg_logprob)` for every document
    * with ≥1 token.
    *
    * Cross-engine determinism: each term's ln p(t) is rounded to an
    * INTEGER count of micro-nats BEFORE the per-doc sum (the
    * [[tfidfTopTerms]] posture — `ln` is not correctly-rounded IEEE
    * across libms, so rounding must happen where the engines still
    * agree term-by-term), the per-doc sum is then EXACT bigint
    * arithmetic, and the mean is the raw double quotient of those
    * identical integers with NO final rounding — two IEEE divisions
    * on identical inputs are bit-identical on every engine, whereas a
    * final `round(x, 6)` of an arbitrary quotient is where Spark's
    * exact-BigDecimal rounding and a float-multiply rounding diverge
    * (observed: 2/500 docs off by 1e-6 under that formulation).
    *
    * Scale shape: the (doc, term) frame is pre-aggregated per doc
    * (map-side combinable) so the model join is keyed on DISTINCT
    * (doc, term) pairs, not token instances; the model itself is one
    * more map-side-combinable aggregate; totals are a 1-row broadcast.
    * Shuffles are linear in distinct (doc, term) pairs — no text, no
    * token instances, cross the wire.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(coalesce(col(textCol), lit(""))))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("m"))
    val cf = tf.groupBy(col("term")).agg(sum(col("m")).as("c"))
    val totals = cf.agg(sum(col("c")).as("c_total"), count(lit(1)).as("v"))
    tf.join(cf, Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("lp_u",
        round(log((col("c") + lit(1)).cast("double") /
          (col("c_total") + col("v")).cast("double")) * lit(1000000.0), 0)
          .cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"),
        ((sum(col("m") * col("lp_u")).cast("double") /
          sum(col("m")).cast("double")) / lit(1000000.0)).as("avg_logprob"))
  }

  /** Bigram conditional LM scoring — [[unigramLogProb]]'s sharper
    * sibling: per-document mean ln p(w2 | w1) under an add-one-
    * smoothed bigram model fit on the corpus,
    *
    *   p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
    *
    * with `c(w1 ·)` the continuation count (positions where w1 is
    * followed by anything) and `V` the distinct-successor vocabulary.
    * Word-ORDER-aware where the unigram score is bag-of-words: a doc
    * of common words in improbable order scores low here and normal
    * there — the gap between the two scores is itself a signal
    * (scrambled/templated text). Same cross-engine posture as
    * [[unigramLogProb]]: per-bigram ln rounded to integer micro-nats,
    * exact bigint sums, mean emitted as the raw quotient.
    *
    * Output: `(doc_id, n_bigrams, avg_logprob)` for docs with ≥2
    * tokens (a 1-token doc has no bigram evidence — absent, not 0).
    *
    * Scale shape: shuffles keyed on distinct (doc, w1, w2) triples
    * then (w1, w2) / (w1) — all map-side-combinable; the model frames
    * are vocabulary-cardinality; totals broadcast. No token instances
    * or text cross the wire.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    val bi = docs.select(col(idCol).as("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val tf = bi.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("m"))
    val c2 = tf.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c")).as("ctx"))
    val totals = c2.agg(countDistinct(col("w2")).as("v"))
    tf.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(totals))
      .withColumn("lp_u",
        round(log((col("c") + lit(1)).cast("double") /
          (col("ctx") + col("v")).cast("double")) * lit(1000000.0), 0)
          .cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        ((sum(col("m") * col("lp_u")).cast("double") /
          sum(col("m")).cast("double")) / lit(1000000.0)).as("avg_logprob"))
  }

  /** The ACTION half of span-level dedup: per-document fraction of
    * spans that are corpus-duplicated — the score a cleaning pipeline
    * thresholds on (drop or trim documents that are mostly shared
    * boilerplate). Returns `(doc_id, n_spans, n_dup_spans, dup_frac)`
    * for every document with at least one span; `dup_frac` is rounded
    * to 6 dp so both engines agree after double division.
    *
    * Scale shape: the span stream is aggregated per (hash, doc), the
    * duplicated-hash set is derived by one more map-side-combinable
    * aggregate, and membership comes back as a hash-key LEFT join
    * against the dup-hash set with an `is_dup` marker (a semi-join
    * would drop the non-duplicated spans, which still count toward
    * `n_spans`) — shuffles are linear in the span stream, and the only
    * frame keyed by raw hash cardinality carries two longs per hash.
    * No text is shuffled at any point.
    */
  def dupSpanFractions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 10,
      stride: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val perDoc = spanHashes(docs, idCol, textCol, spanTokens, stride)
      .groupBy(col("span_hash"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
    val dupHashes = perDoc
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span_hash"))
    perDoc
      .join(dupHashes.withColumn("is_dup", lit(1L)), Seq("span_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_spans"),
        sum(when(col("is_dup").isNotNull, col("n")).otherwise(lit(0L))).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans").cast("double"), 6)
          .as("dup_frac"))
  }

  /** The ordered (w1, w2) bigram stream shared by the LM scorers —
    * one narrow posexplode per document, no shuffle. Mirrors the
    * inline construction in [[bigramLogProb]] (left untouched so its
    * pinned plan does not move).
    */
  /** Per-token stream `(doc_id, w)` — the unigram sibling of
    * [[bigramStream]], same tokenizer, empty docs drop. */
  private[graft] def tokenStream(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    docs.select(col(idCol).as("doc_id"), explode(t).as("w"))
  }

  private[graft] def bigramStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      g: DocGrouping = DocGrouping.ByDoc): DataFrame = {
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    g.source(docs).select(g.keys(col(idCol).as("doc_id"), t.as("t")): _*)
      .filter(size(col("t")) >= 2)
      .select(g.keys(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("g")): _*)
      .select(g.keys(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2")): _*)
  }

  /** HELD-OUT LM quality filter — the CCNet recipe proper, which
    * [[bigramLogProb]] (fit and score on the SAME corpus) only
    * approximates: fit the add-one-smoothed bigram model on a
    * REFERENCE split, score a DISJOINT corpus against it, and bucket
    * the scored docs into head / middle / tail perplexity tertiles
    * (a cleaning pipeline keeps head+middle). Held-out scoring makes
    * the out-of-vocabulary paths REAL — a same-corpus fit always has
    * `c ≥ 1` and `ctx ≥ 1` for every scored bigram, so the smoothing
    * denominators are never exercised at their floors; here an unseen
    * (w1, w2) backs off to `(0 + 1) / (ctx + V)` and an unseen
    * context word to `1 / V`, both via LEFT joins against the model
    * frames with `n_unseen` counting the novel bigrams per doc.
    *
    * Determinism is the [[unigramLogProb]] micro-nat posture: each
    * bigram's ln is rounded to an integer count of micro-nats, the
    * per-doc sum is exact bigint, and the mean is the raw quotient of
    * identical integers — bit-identical cross-engine, which is what
    * lets the tertile FENCES compare doubles with `<=` safely. The
    * fences themselves are `percentile_disc` (an ACTUAL data value,
    * not an interpolation — the a15 contract), computed by ONE global
    * aggregate and fanned back as a 1-row broadcast fence join (the
    * `sample_mixture` idiom): no corpus-wide window anywhere.
    *
    * Output: `(doc_id, n_bigrams, n_unseen, avg_logprob, bucket)` for
    * scored docs with ≥ 2 tokens; bucket ∈ head / middle / tail with
    * ties at a fence collapsing downward (both engines compare the
    * same bit-identical doubles, so the tie set is identical).
    *
    * Scale shape: model frames are train-vocabulary cardinality and
    * stay UNBROADCAST (a 100 TB reference corpus's bigram table is
    * itself large — the gram-key shuffle join is the honest plan, AQE
    * free to broadcast when a small reference fits); score-side
    * shuffles are keyed on distinct (doc, w1, w2) then gram keys; the
    * only forced broadcasts are the 1-row totals and fence frames.
    */
  def lmHeldOutFilter(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    lmHeldOutFilterWith(lmBigramModel(train, idCol, textCol),
      score, idCol, textCol)

  /** [[lmHeldOutFilter]] over a PRE-BUILT count model `c2` (the
    * [[lmBigramModel]] frame) — the production seam: a deployment
    * trains the model once (or loads a persisted one) and scores many
    * candidate sets against it. Callers whose model side is
    * independent of their score side can cut the model in a parallel
    * thread (Par, guide §2.6) — the frame is identical either way, so
    * results don't move.
    */
  def lmHeldOutFilterWith(
      model: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val scored = lmScored(model, score, idCol, textCol, DocGrouping.ByDoc)
    // Fence rank is ceil(n·p) (the cume_dist >= p contract), which
    // the oracle replays as CEIL(CAST(k·n AS DOUBLE)/3) — see
    // [[lmFences]] for the DOUBLE-percentage requirement.
    //
    // The scored frame is CUT before fencing: it feeds the fence
    // aggregate AND the output branch (CCNet's inherent
    // score-then-threshold two-pass shape), and uncut the entire
    // scoring chain — gram explode, model joins, micro-nat sums —
    // re-executes per branch (measured: the pretrain_prep_lm
    // composite carried a 2.6× sf1 slope from exactly this). The cut
    // lands one doc-cardinality (doc_id, counts, avg_logprob) frame,
    // which is what a production CCNet pass writes before taking
    // percentiles anyway.
    val scoredCut = org.apache.spark.sql.graft.CheckpointBlocks.cut(scored)
    lmBuckets(scoredCut, lmFences(scoredCut))
  }

  /** [[lmHeldOutFilterWith]]'s scoring half under any [[DocGrouping]]:
    * `(doc_id, n_bigrams, n_unseen, avg_logprob)` per scored doc (plus
    * the window key when streaming).
    */
  private[graft] def lmScored(
      model: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String,
      g: DocGrouping): DataFrame = {
    val c2 = model
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c")).as("ctx"))
    val totals = c2.agg(countDistinct(col("w2")).as("v"))
    g.counts(bigramStream(score, idCol, textCol, g),
        g.keys(col("doc_id"), col("w1"), col("w2")): _*)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lp_u",
        round(log((coalesce(col("c"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("ctx"), lit(0L)) + col("v")).cast("double")) * lit(1000000.0), 0)
          .cast("bigint"))
      .groupBy(g.keys(col("doc_id")): _*)
      .agg(sum(col("m")).as("n_bigrams"),
        sum(when(col("c").isNull, col("m")).otherwise(lit(0L))).as("n_unseen"),
        ((sum(col("m") * col("lp_u")).cast("double") /
          sum(col("m")).cast("double")) / lit(1000000.0)).as("avg_logprob"))
  }

  /** Bucket scored docs head / middle / tail against the 1-row
    * `(t_low, t_high)` [[lmFences]] frame — computed from the scored
    * frame in batch, frozen from an offline calibration in a stream.
    */
  private[graft] def lmBuckets(scored: DataFrame, fences: DataFrame): DataFrame =
    scored.crossJoin(broadcast(fences))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"), col("avg_logprob"),
        when(col("avg_logprob") <= col("t_low"), lit("tail"))
          .when(col("avg_logprob") <= col("t_high"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))

  /** The bigram LM's persistable artifact — the `(w1, w2, c)` count
    * table [[lmHeldOutFilter]] fits and the online scorer
    * ([[graft.streaming.StreamingOps.lmScoreStream]]) consumes. The
    * continuation counts and vocabulary size are DERIVED from it
    * (one aggregate each), so this one frame is the whole model:
    * `Sink.saveIndex` it offline, `Load.loadIndex` it in the server.
    */
  def lmBigramModel(train: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramStream(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** Interpolated Kneser-Ney bigram scoring — the smoothing
    * production LMs actually ship (KenLM, the LM inside CCNet, is
    * modified KN; add-one is the textbook baseline the rest of this
    * family uses):
    *
    *   p(w2|w1) = max(c(w1,w2) − d, 0)/c(w1·)
    *              + d·N1+(w1·)/c(w1·) · p_cont(w2)
    *
    * with discount d = 3/4, N1+(w1·) = distinct observed successors
    * of w1, and the CONTINUATION distribution p_cont(w2) =
    * (N1+(·w2) + 1)/(T + V) — how many distinct contexts w2 follows,
    * add-one smoothed over the T = |observed bigram types| mass so an
    * unseen w2 keeps a finite floor (an unseen CONTEXT backs off to
    * p_cont alone). The KN insight this encodes: "Francisco" may be
    * frequent but follows only "San", so its continuation probability
    * — not its raw frequency — is what a novel context should lend it.
    *
    * Cross-engine determinism, the family posture made EXACT for a
    * sum of two ratios: with d = 3/4 the whole probability is one
    * rational with integer terms —
    *
    *   p = [max(4c−3, 0)·(T+V) + 3·N1+(w1·)·(N1+(·w2)+1)]
    *       / [4·c(w1·)·(T+V)]
    *
    * — numerator and denominator computed in exact bigint arithmetic
    * (a web-corpus bound: 4c·(T+V) needs c·T ≲ 2⁶¹, fine until the
    * model itself outgrows a bigint, long past any real vocabulary),
    * ONE double division of identical integers, then the usual
    * ln → round-to-micro-nats → exact bigint doc sums.
    *
    * Scale shape identical to [[lmHeldOutFilter]]: model frames at
    * vocabulary/context cardinality, UNBROADCAST (AQE free to);
    * score side aggregates to distinct (doc, w1, w2) first; totals
    * ride a 1-row broadcast. Output
    * `(doc_id, n_bigrams, n_unseen, avg_logprob)` for scored docs
    * with ≥ 2 tokens.
    */
  def knBigramScore(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    knGramLp(train, score, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(when(col("c").isNull, col("m")).otherwise(lit(0L))).as("n_unseen"),
        ((sum(col("m") * col("lp_u")).cast("double") /
          sum(col("m")).cast("double")) / lit(1000000.0)).as("avg_logprob"))

  /** [[knBigramScore]]'s gram-level frame `(doc_id, m, c, lp_u)` —
    * see [[kn3GramLp]] for why it is exposed. */
  private[graft] def knGramLp(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    knGramLpFrom(
      lmBigramModel(train, idCol, textCol),
      bigramStream(score, idCol, textCol)
        .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("m")))

  /** [[knGramLp]] over a PRE-BUILT count model `c2` and scored-gram
    * frame `scoreG` (doc_id, w1, w2, m) — the lmHeldOutFilterWith
    * seam applied to the KN scorer (round 18): a multi-order curve
    * builds its models from one shared cut token frame and scores
    * against one shared cut gram frame. The frames are identical
    * either way, so results don't move.
    */
  private[graft] def knGramLpFrom(c2: DataFrame, scoreG: DataFrame): DataFrame = {
    // Per-context: total count AND distinct-successor count; per
    // word: distinct-context (continuation) count; one row each per
    // observed key — all map-side-combinable aggregates of the model.
    val ctx1 = c2.groupBy(col("w1"))
      .agg(sum(col("c")).as("ctx"), count(lit(1)).as("n1p"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val totals = c2.agg(count(lit(1)).as("t_types"), countDistinct(col("w2")).as("v"))
    scoreG
      .join(c2, Seq("w1", "w2"), "left")
      .join(ctx1, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__pc_num", coalesce(col("nc"), lit(0L)) + lit(1L))
      .withColumn("__num",
        when(col("ctx").isNull, lit(4L) * col("__pc_num"))
          .otherwise(
            greatest(lit(4L) * coalesce(col("c"), lit(0L)) - lit(3L), lit(0L)) *
              (col("t_types") + col("v")) +
              lit(3L) * col("n1p") * col("__pc_num")))
      .withColumn("__den",
        when(col("ctx").isNull, lit(4L) * (col("t_types") + col("v")))
          .otherwise(lit(4L) * col("ctx") * (col("t_types") + col("v"))))
      .withColumn("lp_u",
        round(log(col("__num").cast("double") / col("__den").cast("double")) *
          lit(1000000.0), 0).cast("bigint"))
      .select(col("doc_id"), col("m"), col("c"), col("lp_u"))
  }

  /** MODIFIED Kneser-Ney bigram scoring — the formulation KenLM
    * actually ships (Chen & Goodman 1999 §3: three count-band
    * discounts estimated from the model's own count-of-counts,
    * where [[knBigramScore]] fixes one d = 3/4):
    *
    *   D_k = k − (k+1)·Y·n_{k+1}/n_k,   Y = n₁/(n₁ + 2·n₂)
    *
    * with n_k = number of bigram TYPES observed exactly k times
    * (so D₁ = n₁/(n₁+2n₂) — the verdict's "D per count band"), and
    *
    *   p(w2|w1) = max(c − D_{band(c)}, 0)/c(w1·)
    *              + γ(w1)·p_cont(w2)
    *   γ(w1) = (D₁·N₁(w1·) + D₂·N₂(w1·) + D₃·N₃₊(w1·)) / c(w1·)
    *
    * where N_k(w1·) counts w1's successors in count band k, and
    * p_cont is the same add-one-floored continuation distribution as
    * T13d ((N₁₊(·w2)+1)/(T+V)), so the two KN variants differ ONLY
    * in the discount schedule and are directly comparable.
    *
    * == The micro-unit discount posture ==
    *
    * The three discounts are data-dependent RATIONALS of
    * count-of-counts; carrying them exactly would put n₁·n₂·n₃-scale
    * products in every denominator (bigint-overflowing at web-scale
    * count tables). Instead each D_k is rounded ONCE to an integer
    * count of micro-units — d_ku = round(10⁶·D_k), three global
    * numbers computed in the 1-row totals frame, clamped to
    * [1, k·10⁶] (≥ 1 keeps γ structurally positive so no ln(0) path
    * exists; ≤ k·10⁶ keeps max(c−D, 0) meaningful) — and EVERYTHING
    * after is exact bigint arithmetic over the common denominator
    * 10⁶:
    *
    *   num = max(c·10⁶ − d_ku, 0)·(T+V)
    *         + (d₁u·N₁ + d₂u·N₂ + d₃u·N₃₊)·(N₁₊(·w2)+1)
    *   den = 10⁶·c(w1·)·(T+V)
    *
    * one double division of identical integers, then the usual
    * ln → micro-nat rounding → exact per-doc sums. Count bands with
    * no mass (n_k = 0, or n₁+2n₂ = 0) fall back to the interpolated
    * variant's fixed d = 3/4 (750000 micro-units) — deterministic
    * and replayed by the oracle.
    *
    * Exact-long overflow bound (the T13d discipline, one decade
    * tighter for the 10⁶ scale): the binding term is c·10⁶·(T+V),
    * safe while c·(T+V) ≲ 9.2·10¹², e.g. any c at a 10⁹-type model
    * up to c ≈ 9000, or c ≈ 10⁹ ("of the" at web scale) while
    * T+V ≲ 10⁴. Past that tier, drop the discount resolution to
    * milli-units (10³ buys three decades; calibration error stays
    * below the ln rounding) or lift num/den to DECIMAL(38,0) — the
    * resolution is an explicit dial, not an assumption.
    *
    * Scale shape identical to [[knBigramScore]]: per-context band
    * counts ride the same ctx1 aggregate; count-of-counts are ONE
    * extra 1-row aggregate over the model (map-side combinable);
    * discounts fan out with the totals broadcast. Output
    * `(doc_id, n_bigrams, n_unseen, avg_logprob)`.
    */
  /** Per-trigram stream `(doc_id, w1, w2, w3)` — [[bigramStream]]'s
    * order-3 sibling; docs with < 3 tokens drop. */
  private[graft] def trigramStream(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    docs.select(col(idCol).as("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 2),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2"),
            element_at(col("t"), i + 2).as("w3")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
  }

  /** Token-ARRAY frame `(doc_id, t)` under the house tokenizer — the
    * shared input [[bigramsOfToks]]/[[trigramsOfToks]] explode, so a
    * multi-order query tokenizes the corpus ONCE (cut it) instead of
    * once per gram order per split (round 18; tokenization was the
    * measured bulk of text_lm_order_curve's 15 heavy stages). Same
    * tokenizer expression as [[bigramStream]]/[[trigramStream]], so
    * deriving grams from a doc_id-filtered slice of this frame is
    * arithmetically identical to tokenizing the filtered docs.
    */
  private[graft] def tokArrays(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "").as("t"))

  /** [[bigramStream]]'s explode over a prebuilt [[tokArrays]] frame. */
  private[graft] def bigramsOfToks(tk: DataFrame): DataFrame =
    tk.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))

  /** [[trigramStream]]'s explode over a prebuilt [[tokArrays]] frame. */
  private[graft] def trigramsOfToks(tk: DataFrame): DataFrame =
    tk.filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 2),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2"),
            element_at(col("t"), i + 2).as("w3")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))

  /** TRIGRAM interpolated Kneser-Ney — the n-gram ladder's next rung
    * (production LMs are 4-5-gram KN; this library's T13d/T13g stop
    * at bigrams), with the CONTINUATION-COUNT lower level the KN
    * construction actually prescribes (Chen & Goodman: every level
    * below the top estimates from how many distinct contexts an
    * n-gram continues, not raw frequency):
    *
    *   p(w3|w1w2) = max(c(w1w2w3) − d, 0)/c(w1w2·)
    *                + d·N1+(w1w2·)/c(w1w2·) · p_c(w3|w2)
    *   p_c(w3|w2) = max(N1+(·w2w3) − d, 0)/N1+(·w2·)
    *                + d·N1+(w2·)/N1+(·w2·) · p_cont(w3)
    *   p_cont(w3) = (N1+(·w3) + 1)/(T₂ + V)
    *
    * — N1+(·w2w3) counts the distinct w1 preceding (w2, w3), i.e.
    * trigram TYPES per (w2, w3); N1+(·w2·) the trigram types with
    * middle w2; N1+(w2·) the distinct w3 those types continue to;
    * the bottom level is T13d's add-one-floored bigram continuation
    * (T₂ = bigram types, V = distinct bigram successors). Backoff
    * paths are all REAL on a held-out split: unseen (w1, w2) context
    * → middle level alone; a w2 never seen as a trigram middle →
    * p_cont alone.
    *
    * Exactness — the T13d trick applied TWICE (d = 3/4 at both
    * levels): the middle level is one rational Ac/Bc with
    *   Ac = max(4·N1+(·w2w3) − 3, 0)·(T₂+V) + 3·N1+(w2·)·(N1+(·w3)+1)
    *   Bc = 4·N1+(·w2·)·(T₂+V)
    * and the top level substitutes it through:
    *   num = max(4·c₃ − 3, 0)·Bc + 3·N1+(w1w2·)·Ac,  den = 4·c₁₂·Bc
    * — exact bigint throughout, ONE double division, then micro-nat
    * rounding and exact per-doc sums. Overflow bound (one level
    * deeper than T13d's): den = 16·c₁₂·N1+(·w2·)·(T₂+V) needs
    * c₁₂·N1+(·w2·)·(T₂+V) ≲ 5.7·10¹⁷ — at a 10⁹-type web model a
    * frequent context (c₁₂ ≈ 10⁵) with a promiscuous middle
    * (N1+(·w2·) ≈ 10⁵) overflows, so the web-scale posture is
    * DECIMAL(38,0) for num/den (exactness preserved, ~2× the
    * arithmetic cost) or micro-unit rounding of the middle level
    * (the T13g dial); at this fixture's cardinalities longs are
    * exact and the oracle replays every integer.
    *
    * Scale shape — the family contract: all model frames
    * (trigram/context/continuation tables) are map-side-combinable
    * aggregates of ONE trigram-model frame, UNBROADCAST at their
    * joins (web-scale n-gram tables are large; AQE decides); the
    * score side aggregates to distinct (doc, w1, w2, w3) first;
    * totals ride a 1-row broadcast. Output
    * `(doc_id, n_trigrams, n_unseen, avg_logprob)` for docs with
    * ≥ 3 tokens.
    */
  def kn3TrigramScore(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    kn3GramLp(train, score, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_trigrams"),
        sum(when(col("c").isNull, col("m")).otherwise(lit(0L))).as("n_unseen"),
        ((sum(col("m") * col("lp_u")).cast("double") /
          sum(col("m")).cast("double")) / lit(1000000.0)).as("avg_logprob"))

  /** [[kn3TrigramScore]]'s gram-level frame `(doc_id, m, c, lp_u)` —
    * exposed so the order-ladder curve can take exact corpus-level
    * micro-nat sums over the same grams the per-doc artifact
    * aggregates. */
  private[graft] def kn3GramLp(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    kn3GramLpFrom(
      trigramStream(train, idCol, textCol)
        .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c")),
      lmBigramModel(train, idCol, textCol),
      trigramStream(score, idCol, textCol)
        .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("m")))

  /** [[kn3GramLp]] over PRE-BUILT trigram counts `c3`, bigram counts
    * `c2`, and scored-gram frame `score3G` (doc_id, w1, w2, w3, m) —
    * the [[knGramLpFrom]] seam one order up, same identical-frames
    * contract.
    */
  private[graft] def kn3GramLpFrom(
      c3: DataFrame, c2: DataFrame, score3G: DataFrame): DataFrame = {
    val c12 = c3.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c")).as("ctx12"), count(lit(1)).as("n1p12"))
    val cont3 = c3.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("nct"))
    val mid = cont3.groupBy(col("w2"))
      .agg(sum(col("nct")).as("nmid"), count(lit(1)).as("nsucc"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("ncb"))
      .select(col("w2").as("w3"), col("ncb"))
    val totals = c2.agg(count(lit(1)).as("t2"), countDistinct(col("w2")).as("v"))
    score3G
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(cont3, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(cont, Seq("w3"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__pc_num", coalesce(col("ncb"), lit(0L)) + lit(1L))
      .withColumn("__ac",
        greatest(lit(4L) * coalesce(col("nct"), lit(0L)) - lit(3L), lit(0L)) *
          (col("t2") + col("v")) +
          lit(3L) * coalesce(col("nsucc"), lit(0L)) * col("__pc_num"))
      .withColumn("__bc", lit(4L) * coalesce(col("nmid"), lit(0L)) * (col("t2") + col("v")))
      .withColumn("__num",
        when(col("ctx12").isNotNull,
          greatest(lit(4L) * coalesce(col("c"), lit(0L)) - lit(3L), lit(0L)) * col("__bc") +
            lit(3L) * col("n1p12") * col("__ac"))
          .when(col("nmid").isNotNull, col("__ac"))
          .otherwise(col("__pc_num")))
      .withColumn("__den",
        when(col("ctx12").isNotNull, lit(4L) * col("ctx12") * col("__bc"))
          .when(col("nmid").isNotNull, col("__bc"))
          .otherwise(col("t2") + col("v")))
      .withColumn("lp_u",
        round(log(col("__num").cast("double") / col("__den").cast("double")) *
          lit(1000000.0), 0).cast("bigint"))
      .select(col("doc_id"), col("m"), col("c"), col("lp_u"))
  }

  /** The modified-KN 1-row totals frame derived from a bigram count
    * model: type/vocabulary totals plus the three count-band
    * discounts in micro-units (`t_types, v, d1u, d2u, d3u`) — shared
    * by [[mknBigramScore]] and the sparsity-curve query so the
    * discount estimation exists exactly once.
    */
  private[graft] def mknTotals(c2: DataFrame): DataFrame = {
    def dscnt(k: Int, nnK: Column, nnK1: Column): Column = {
      val b = col("nn1") + lit(2L) * col("nn2")
      when(nnK > 0 && b > 0,
        least(greatest(
          round((lit(k) - (lit(k + 1) * col("nn1") * nnK1).cast("double") /
            (b * nnK).cast("double")) * lit(1000000.0), 0).cast("bigint"),
          lit(1L)), lit(k * 1000000L)))
        .otherwise(lit(750000L))
    }
    c2.agg(count(lit(1)).as("t_types"), countDistinct(col("w2")).as("v"),
        sum(when(col("c") === 1, lit(1L)).otherwise(lit(0L))).as("nn1"),
        sum(when(col("c") === 2, lit(1L)).otherwise(lit(0L))).as("nn2"),
        sum(when(col("c") === 3, lit(1L)).otherwise(lit(0L))).as("nn3"),
        sum(when(col("c") === 4, lit(1L)).otherwise(lit(0L))).as("nn4"))
      .select(col("t_types"), col("v"),
        dscnt(1, col("nn1"), col("nn2")).as("d1u"),
        dscnt(2, col("nn2"), col("nn3")).as("d2u"),
        dscnt(3, col("nn3"), col("nn4")).as("d3u"))
  }

  def mknBigramScore(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val c2 = lmBigramModel(train, idCol, textCol)
    val ctx1 = c2.groupBy(col("w1"))
      .agg(sum(col("c")).as("ctx"),
        sum(when(col("c") === 1, lit(1L)).otherwise(lit(0L))).as("nb1"),
        sum(when(col("c") === 2, lit(1L)).otherwise(lit(0L))).as("nb2"),
        sum(when(col("c") >= 3, lit(1L)).otherwise(lit(0L))).as("nb3"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val totals = mknTotals(c2)
    bigramStream(score, idCol, textCol)
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("m"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(ctx1, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__pc_num", coalesce(col("nc"), lit(0L)) + lit(1L))
      .withColumn("__du",
        when(col("c").isNull, lit(0L))
          .when(col("c") === 1, col("d1u"))
          .when(col("c") === 2, col("d2u"))
          .otherwise(col("d3u")))
      .withColumn("__gnum",
        col("d1u") * col("nb1") + col("d2u") * col("nb2") + col("d3u") * col("nb3"))
      .withColumn("__num",
        when(col("ctx").isNull, col("__pc_num") * lit(1000000L))
          .otherwise(
            greatest(coalesce(col("c"), lit(0L)) * lit(1000000L) - col("__du"), lit(0L)) *
              (col("t_types") + col("v")) +
              col("__gnum") * col("__pc_num")))
      .withColumn("__den",
        when(col("ctx").isNull, (col("t_types") + col("v")) * lit(1000000L))
          .otherwise(lit(1000000L) * col("ctx") * (col("t_types") + col("v"))))
      .withColumn("lp_u",
        round(log(col("__num").cast("double") / col("__den").cast("double")) *
          lit(1000000.0), 0).cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(when(col("c").isNull, col("m")).otherwise(lit(0L))).as("n_unseen"),
        ((sum(col("m") * col("lp_u")).cast("double") /
          sum(col("m")).cast("double")) / lit(1000000.0)).as("avg_logprob"))
  }

  /** The tertile fences as a standalone 1-row artifact `(t_low,
    * t_high)` — what a serving deployment FREEZES from an offline
    * calibration pass and applies to arriving documents (a stream
    * cannot take corpus percentiles). `scored` is any frame carrying
    * `avg_logprob` — typically [[lmHeldOutFilter]]'s output, whose
    * internal fences this reproduces exactly (same percentile over
    * the same bit-identical doubles). Same DOUBLE-percentage rule as
    * the filter (SQL-text `2.0/3` is a DECIMAL rounding past 2/3).
    */
  def lmFences(scored: DataFrame): DataFrame =
    scored.agg(
      expr("percentile_disc(cast(1 as double)/3) WITHIN GROUP (ORDER BY avg_logprob)").as("t_low"),
      expr("percentile_disc(cast(2 as double)/3) WITHIN GROUP (ORDER BY avg_logprob)").as("t_high"))

  /** Exact binary ROC AUC from a scored frame — the rank statistic a
    * classifier deployment reports beside the confusion matrix
    * (threshold-free: P(random positive outranks random negative),
    * ties at half credit). Computed WITHOUT a per-row global sort:
    * scores aggregate to per-distinct-score (n_pos, n_neg) first, the
    * cumulative negative count runs over THAT aggregate, and the
    * whole statistic is
    *
    *   AUC = Σ_k np_k·(2·nn_below_k + nn_k) / (2·N_pos·N_neg)
    *
    * — exact integers until one final double division (equal to the
    * mid-rank Mann-Whitney formula; both engines divide identical
    * longs, so the value is bit-identical with no rounding).
    *
    * Scale rule: the ordered cumulation is a partition-less window,
    * legitimate ONLY because its input is the per-distinct-score
    * aggregate — bounded by the eval cohort here, and by CONSTRUCTION
    * when `quantizeScale` is set (keys become floor(score·scale):
    * score-range × scale bins regardless of cohort size — the
    * production path for web-scale eval sets, with the binning error
    * measurable against the exact arm on cohorts small enough to run
    * both).
    */
  def binaryAuc(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      quantizeScale: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = quantizeScale
      .map(s0 => floor(col(scoreCol) * lit(s0)).cast("long").cast("double"))
      .getOrElse(col(scoreCol))
    val kb = scored.groupBy(key.as("k")).agg(
      sum(when(col(labelCol), lit(1L)).otherwise(lit(0L))).as("np"),
      sum(when(!col(labelCol), lit(1L)).otherwise(lit(0L))).as("nn"))
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)
    kb.select(col("np"), col("nn"),
        coalesce(sum(col("nn")).over(w), lit(0L)).as("nnb"))
      .agg(
        sum(col("np") * (lit(2L) * col("nnb") + col("nn"))).as("s2"),
        sum(col("np")).cast("bigint").as("n_pos"),
        sum(col("nn")).cast("bigint").as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("s2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** Reliability / calibration bins from a scored frame — the third
    * leg of the classifier evidence trio (confusion matrix → accuracy,
    * AUC → ranking, THIS → probability quality): docs bucketed by
    * PREDICTED probability, each bin reporting how many, the mean
    * predicted probability, and the EMPIRICAL positive rate. A
    * well-calibrated model has `mean_p ≈ frac_pos` per bin; the gap is
    * what a deployment reads before trusting the scores as
    * probabilities (naive Bayes is canonically OVER-confident — its
    * independence assumption multiplies correlated evidence — so this
    * artifact is where that shows up as a measured number).
    *
    * Determinism is the family's micro-unit posture applied to the
    * sigmoid: p_u = round(10⁶ · σ(score)) is ONE rounded transcendental
    * per doc (the same trust level as every ln in this file); the bin
    * key, the exact bigint p_u sums, and the count ratios are then
    * integer arithmetic with one final division each — bit-identical
    * cross-engine. Extreme log-odds saturate cleanly: exp overflow →
    * p_u = 0 (bin 0), exp underflow → p_u = 10⁶, clamped into the top
    * bin by the `least`.
    *
    * Scale rule — the binned-AUC key idiom: output cardinality is
    * `bins` BY CONSTRUCTION regardless of cohort size, via one
    * map-side-combinable aggregate. No window, no sort, no join.
    * Output: `(bin, n, n_pos, mean_p, frac_pos)`, bin ∈ [0, bins).
    */
  def calibrationBins(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    scored
      .withColumn("__p_u",
        round(lit(1000000.0) / (lit(1.0) + exp(-col(scoreCol))), 0).cast("bigint"))
      .withColumn("__bin",
        least(floor((col("__p_u") * lit(bins.toLong)).cast("double") / lit(1000000.0)),
          lit((bins - 1).toDouble)).cast("bigint"))
      .groupBy(col("__bin").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(labelCol), lit(1L)).otherwise(lit(0L))).as("n_pos"),
        ((sum(col("__p_u")).cast("double") / count(lit(1)).cast("double")) /
          lit(1000000.0)).as("mean_p"))
      .withColumn("frac_pos",
        round(col("n_pos").cast("double") / col("n").cast("double"), 6))
  }

  /** The calibration curve's 1-row SUMMARY — expected calibration
    * error and Brier score, the two scalars a deployment tracks over
    * time where [[calibrationBins]] is the diagnostic it reads when
    * they move:
    *
    *   ECE   = Σ_b (n_b/N)·|mean_p_b − pos_rate_b|
    *   Brier = (1/N)·Σ_docs (p − y)²
    *
    * Both are EXACT in the micro-unit posture with no per-bin or
    * per-doc rounding at all: the ECE bin term collapses to
    * |Σp_u − 10⁶·n_pos| / (10⁶·N) — an integer numerator per bin —
    * and the Brier per-doc square (p_u − 10⁶·y)² ≤ 10¹² is an exact
    * long whose SUM is carried in decimal(38,0)/HUGEINT (a bigint
    * sum would overflow past N ≈ 9·10⁶ docs; 38 digits hold any real
    * cohort), so each statistic is one double division of identical
    * exact integers. The only transcendental is the same single
    * rounded sigmoid the bins use.
    *
    * Scale shape: one `bins`-row aggregate (ECE) + one group-less
    * aggregate (Brier) over the scored frame, met by a 1-row cross
    * join. Callers feeding both this and [[calibrationBins]] from
    * one scored frame should checkpoint-cut it.
    * Output: `(n, ece, brier)`.
    */
  def calibrationSummary(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val pu = scored.select(
      round(lit(1000000.0) / (lit(1.0) + exp(-col(scoreCol))), 0).cast("bigint").as("p_u"),
      when(col(labelCol), lit(1L)).otherwise(lit(0L)).as("y"))
    val binned = pu
      .withColumn("__bin",
        least(floor((col("p_u") * lit(bins.toLong)).cast("double") / lit(1000000.0)),
          lit((bins - 1).toDouble)).cast("bigint"))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"), sum(col("p_u")).as("sp"))
      .agg(sum(col("n")).cast("bigint").as("n"),
        sum(abs(col("sp") - lit(1000000L) * col("n_pos"))).as("enum"))
      .select(col("n"),
        ((col("enum").cast("double") / col("n").cast("double")) /
          lit(1000000.0)).as("ece"))
    val brier = pu
      .agg(sum(((col("p_u") - lit(1000000L) * col("y")) *
        (col("p_u") - lit(1000000L) * col("y"))).cast("decimal(38,0)")).as("sq"),
        count(lit(1)).as("bn"))
      .select(((col("sq").cast("double") / col("bn").cast("double")) /
        lit(1.0e12)).as("brier"))
    binned.crossJoin(broadcast(brier))
  }

  // ------------------------------------- naive-Bayes text classifier

  /** Multinomial naive-Bayes word-count model — the trainable HALF of
    * the fastText-style linear classifier every production cleaning
    * pipeline runs after the heuristic and LM gates (CCNet/GPT-3
    * lineage: a linear bag-of-words model scoring "does this doc look
    * like the reference class"). One frame IS the model: `(w, c_pos,
    * c_neg)` token counts per class over the labeled training docs —
    * persistable via `Sink.saveIndex`, consumable by [[nbScore]] and
    * the stream twin. Priors and smoothing totals are DERIVED from it
    * plus [[nbPriors]] (one aggregate each).
    *
    * Training is ONE wide aggregate at vocabulary cardinality: tokens
    * explode narrow (no shuffle), then a single groupBy(w) with both
    * class counts as conditional sums — map-side combinable, no join,
    * no window. At 100 TB the shuffle carries one row per distinct
    * word per partition, not per token.
    */
  def nbModel(
      train: DataFrame, idCol: String, textCol: String, labelCol: String): DataFrame = {
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    train.select(col(labelCol).as("y"), explode(t).as("w"))
      .groupBy(col("w"))
      .agg(
        sum(when(col("y"), lit(1L)).otherwise(lit(0L))).as("c_pos"),
        sum(when(!col("y"), lit(1L)).otherwise(lit(0L))).as("c_neg"))
  }

  /** The classifier's 1-row prior frame: `prior_u` = the class-prior
    * log-odds in integer micro-nats (each class's ln rounded FIRST,
    * then subtracted — the exact-integer posture that keeps both
    * engines bit-identical). Counted over ALL labeled training docs,
    * token-less ones included (the prior is about documents, not
    * tokens).
    */
  def nbPriors(train: DataFrame, labelCol: String): DataFrame =
    train.agg(
      (round(log(sum(when(col(labelCol), lit(1L)).otherwise(lit(0L))).cast("double") /
        count(lit(1)).cast("double")) * lit(1000000.0), 0).cast("bigint") -
        round(log(sum(when(!col(labelCol), lit(1L)).otherwise(lit(0L))).cast("double") /
          count(lit(1)).cast("double")) * lit(1000000.0), 0).cast("bigint")).as("prior_u"))

  /** Score documents against a trained [[nbModel]]: per doc, the
    * naive-Bayes log-odds Σ_w m_w·(ln P(w|pos) − ln P(w|neg)) + prior,
    * add-one smoothed per class (`(c+1)/(T_class+V)` — a word unseen
    * in a class, or unseen anywhere, backs off to that class's floor
    * via the LEFT join's coalesce, so held-out scoring exercises the
    * smoothing for real). `pred` is decided on the INTEGER micro-nat
    * sum (`> 0`), never on a rounded double — the comparison both
    * engines get bit-identical by construction.
    *
    * Determinism is the [[unigramLogProb]] micro-nat posture: each
    * class-conditional ln rounds to integer micro-nats BEFORE the
    * subtraction and the per-doc weighted sum, so every intermediate
    * is an exact bigint and `log_odds` is a quotient of identical
    * integers.
    *
    * Scale shape: score side aggregates to distinct (doc, w) BEFORE
    * joining the model (serving CPU scales with distinct words per
    * doc, not tokens); the model stays UNBROADCAST at the word-key
    * shuffle join (a web-scale vocabulary is itself large; AQE may
    * broadcast a small one); the only forced broadcasts are the 1-row
    * totals and prior frames. Docs with zero tokens have no evidence
    * and drop (the LM filter's unjudgeable-doc posture).
    *
    * Output: `(doc_id, n_tok, n_oov, log_odds, pred)`.
    */
  def nbScore(
      model: DataFrame,
      priors: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    nbScoreBy(model, priors, docs, idCol, textCol, DocGrouping.ByDoc)

  /** [[nbScore]] under any [[DocGrouping]] — the body the streaming
    * serving entry calls with its window grouping.
    */
  private[graft] def nbScoreBy(
      model: DataFrame,
      priors: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      g: DocGrouping): DataFrame = {
    val totals = model.agg(
      sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"),
      count(lit(1)).as("v"))
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    g.counts(g.source(docs).select(g.keys(col(idCol).as("doc_id"), explode(t).as("w")): _*),
        g.keys(col("doc_id"), col("w")): _*)
      .join(model, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("llr_u",
        round(log((coalesce(col("c_pos"), lit(0L)) + lit(1)).cast("double") /
          (col("t_pos") + col("v")).cast("double")) * lit(1000000.0), 0).cast("bigint") -
          round(log((coalesce(col("c_neg"), lit(0L)) + lit(1)).cast("double") /
            (col("t_neg") + col("v")).cast("double")) * lit(1000000.0), 0).cast("bigint"))
      .groupBy(g.keys(col("doc_id")): _*)
      .agg(
        sum(col("m")).as("n_tok"),
        sum(when(col("c_pos").isNull, col("m")).otherwise(lit(0L))).as("n_oov"),
        sum(col("m") * col("llr_u")).as("s_u"))
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        ((col("s_u") + col("prior_u")).cast("double") / lit(1000000.0)).as("log_odds"),
        ((col("s_u") + col("prior_u")) > 0L).as("pred"))
  }

  // -------------------- trained language-ID (multiclass NB, T2's trained tier)

  /** Character n-gram occurrences of the whitespace-normalized,
    * case-folded text — the fastText-style language-ID featurization
    * (char n-grams cross word boundaries, which is where language
    * signal lives: function-word shapes, affixes, scripts). Empty
    * array below n chars.
    */
  def charNgrams(text: Column, n: Int): Column = {
    val norm = regexp_replace(trim(lower(coalesce(text, lit("")))), "\\s+", " ")
    when(length(norm) >= n,
      transform(sequence(lit(1), length(norm) - n + 1), i => norm.substr(i, lit(n))))
      .otherwise(expr("cast(array() as array<string>)"))
  }

  /** The [[charNgrams]] normalization as a standalone column (shared
    * by the kernel path so the two stay definitionally identical). */
  private def charNgramNorm(text: Column): Column =
    regexp_replace(trim(lower(coalesce(text, lit("")))), "\\s+", " ")

  /** mapPartitions KERNEL for per-key distinct char-n-gram counts —
    * the language-ID hot path's measured fix (round 17; the
    * minhash-signature/winnowing kernel posture: measurement-
    * justified, bit-parity-pinned against the Column twin below).
    *
    * The Column path (`explode(charNgrams(...))` → groupBy) is
    * codegen'd but MATERIALIZES one row per char position — one
    * n-char substring allocation plus one hash-aggregate probe per
    * corpus character; the r16 sf1 tour measured the trained
    * language-ID at 23.6 s, ~all of it this stage. This kernel folds
    * the per-occurrence counting into a tight per-row loop (one
    * HashMap per document, one substring per occurrence, NO
    * per-occurrence row), emitting only the per-(key, gram) DISTINCT
    * counts — the exact frame the downstream md5-bucket hashing
    * needs. Grams are sliced by CODE POINT (what both Spark's
    * `substr` and DuckDB's `substr` count), so parity holds beyond
    * ASCII; the normalization runs as the shared codegen'd Column
    * BEFORE the kernel.
    *
    * Output: (key, __g, __cg) — one row per distinct (key, gram).
    */
  private[graft] def charNgramCountsKernel(
      df: DataFrame, keyCol: Column, textCol: Column, n: Int): DataFrame = {
    val src = df.select(keyCol.cast("string").as("__k"),
      charNgramNorm(textCol).as("__s"))
    src.as(Encoders.product[(String, String)]).mapPartitions { it =>
      it.flatMap { case (k, s) =>
        // Char offsets of each code-point boundary: gram i spans
        // offsets(i) until offsets(i + n) in UTF-16 space.
        val L = s.length
        val offs = new scala.collection.mutable.ArrayBuffer[Int](L + 1)
        var o = 0
        while (o < L) { offs += o; o += Character.charCount(s.codePointAt(o)) }
        offs += L
        val cps = offs.length - 1
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        while (i + n <= cps) {
          val g = s.substring(offs(i), offs(i + n))
          m.update(g, m.getOrElse(g, 0L) + 1L)
          i += 1
        }
        m.iterator.map { case (g, c) => (k, g, c) }
      }
    }(Encoders.product[(String, String, Long)])
      .toDF("__k", "__g", "__cg")
  }

  /** TRAINED language-ID model — the round-15 verdict's ask #3: a
    * multiclass multinomial naive Bayes over HASHED char-trigram
    * buckets (the hashing trick at 256 buckets, the knee
    * `text_lr_capacity_curve` measured for this corpus), i.e. the
    * fastText-classifier shape with NB's closed form instead of
    * gradient descent — closed-form counts are exact integers, so the
    * whole artifact stays bit-portable where trained float weights
    * would not be. The model is ONE frame, (lang, b, c): trigram
    * bucket counts per class — map-side-combinable aggregate at
    * (|langs| × buckets) cardinality, persistable via Sink.saveIndex.
    */
  def langIdModel(
      train: DataFrame,
      textCol: String,
      labelCol: String,
      n: Int = 3,
      buckets: Int = 256): DataFrame =
    // Per-(class, gram) counts via the mapPartitions kernel
    // ([[charNgramCountsKernel]] — round 17, replacing the
    // per-char-position explode): md5 costs one call per DISTINCT
    // gram per class (the r16 fix, kept), and the per-occurrence
    // counting now never materializes rows at all. Kernel rows are
    // per-(train DOC, gram); the groupBy below folds docs into the
    // class — map-side-combinable at distinct-gram cardinality.
    charNgramCountsKernel(train, col(labelCol), col(textCol), n)
      .groupBy(col("__k").as("lang"), col("__g"))
      .agg(sum(col("__cg")).cast("long").as("__cg"))
      .select(col("lang"),
        graft.functions.Hashing.md5Bucket(col("__g"), buckets.toLong).as("b"),
        col("__cg"))
      .groupBy(col("lang"), col("b"))
      .agg(sum(col("__cg")).cast("long").as("c"))

  /** Per-class document priors in integer micro-nats ([[nbPriors]]'
    * multiclass twin): (lang, prior_u = round(ln(n_lang/N)·10⁶)).
    */
  def langIdPriors(train: DataFrame, labelCol: String): DataFrame =
    train.groupBy(col(labelCol).as("lang"))
      .agg(count(lit(1)).cast("long").as("__nl"))
      .crossJoin(broadcast(train.agg(count(lit(1)).cast("long").as("__n"))))
      .select(col("lang"),
        round(log(col("__nl").cast("double") / col("__n").cast("double"))
          * lit(1000000.0), 0).cast("bigint").as("prior_u"))

  /** Score documents against a trained [[langIdModel]]: per doc, the
    * add-one-smoothed class log-likelihood Σ_b m_b·ln((c_{lang,b}+1)
    * /(T_lang+buckets)) + prior, every ln rounded to integer
    * micro-nats FIRST (the [[nbScore]] posture — sums and the argmax
    * comparison are exact bigints, bit-identical cross-engine). The
    * argmax ties break lang-ascending via an integer struct min.
    *
    * Scale shape: the doc side aggregates to distinct (doc, bucket)
    * pairs before anything joins; the per-class fan-out is a
    * broadcast of the |langs|-row (totals × priors) frame (enum
    * domain); the model joins UNBROADCAST on (b, lang) — at 256
    * buckets it is tiny and AQE broadcasts it, but the plan does not
    * force that assumption. Docs with zero n-grams drop (the
    * unjudgeable-doc posture).
    *
    * Output: (doc_id, pred).
    */
  def langIdScore(
      model: DataFrame,
      priors: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      buckets: Int = 256): DataFrame = {
    val langs = model.groupBy(col("lang")).agg(sum(col("c")).cast("long").as("t"))
      .join(priors, Seq("lang"))
    // Same kernel + distinct-before-hash shape as [[langIdModel]]:
    // per-(doc, gram) counts in-row, md5 per distinct (doc, gram),
    // never per occurrence. The kernel stringifies the key; longs
    // round-trip the cast exactly.
    val db = charNgramCountsKernel(docs, col(idCol), col(textCol), n)
      .select(col("__k").cast("long").as("doc_id"),
        graft.functions.Hashing.md5Bucket(col("__g"), buckets.toLong).as("b"),
        col("__cg").as("__mg"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("__mg")).cast("long").as("m"))
    db.crossJoin(broadcast(langs))
      .join(model, Seq("b", "lang"), "left")
      .withColumn("lp_u",
        round(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("t") + lit(buckets.toLong)).cast("double")) * lit(1000000.0), 0)
          .cast("bigint"))
      .groupBy(col("doc_id"), col("lang"))
      .agg((sum(col("m") * col("lp_u")) + first(col("prior_u"))).as("s_u"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("s_u")).as("ns"), col("lang").as("l"))).as("__b"))
      .select(col("doc_id"), col("__b").getField("l").as("pred"))
  }

  /** Hashed bag-of-words features for the linear-classifier family:
    * one (doc_id, b, m) row per document × feature bucket, where
    * b = md5-bucket(token) over `buckets` buckets (the hashing
    * trick — the fastText/DSIR featurization; collisions are the
    * method, keeping the model a fixed-size vector regardless of
    * vocabulary) and m the token count. Narrow explode + one
    * aggregate; docs with no tokens emit no rows (they score z = 0 —
    * the unjudgeable-doc posture, stated at the scorer).
    */
  def lrHashedFeatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame =
    lrHashedFeaturesBy(docs, idCol, textCol, buckets, DocGrouping.ByDoc)

  private def lrHashedFeaturesBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      g: DocGrouping): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    g.counts(
      g.source(docs).select(g.keys(col(idCol).cast("long").as("doc_id"), explode(t).as("__w")): _*)
        .select(g.keys(col("doc_id"),
          graft.functions.Hashing.md5Bucket(col("__w"), buckets.toLong).as("b")): _*),
      g.keys(col("doc_id"), col("b")): _*)
  }

  /** LOGISTIC-REGRESSION quality classifier, trained in-engine by
    * fixed-iteration full-batch gradient descent over hashed
    * bag-of-words features — the GPT-3/WebText-style trained quality
    * gate, completing the classifier family beside naive Bayes
    * (T19): NB is the closed-form generative member; this is the
    * discriminative member with the SAME featurization idea the
    * production filters use (fastText is exactly a hashed linear
    * model).
    *
    * Determinism contract (the calibration-curve posture, compounded
    * across iterations): weights live in integer micro-units. Each
    * iteration computes per-doc logits z_u = Σ_b m·w_u exactly
    * (bigint), takes ONE rounded sigmoid per doc
    * (p_u = round(10⁶·σ(z_u/10⁶)) — the only float op; 6-dp rounding
    * absorbs libm-vs-JVM exp ulp noise except measure-zero knife
    * edges, the documented micro-nat posture), then the residual
    * r = y_u − p_u, the per-bucket gradient g_b = Σ m·r, and the
    * update w_u += g_b DIV (etaDen·N) run in PURE bigints — Spark
    * `DIV` and DuckDB `//` both truncate toward zero on signed
    * values (verified), so the oracle replays every iteration as an
    * unrolled CTE chain bit-for-bit. Step size 1/etaDen of the mean
    * gradient: the mean (not sum) makes the step scale-free in
    * corpus size, and etaDen = 32 keeps |Δw| ≤ ~3·10⁴ micro-units
    * per iteration at count-scale features — logits stay O(1), the
    * sigmoid never saturates during training.
    *
    * Scale shape: the feature frame is built ONCE and checkpoint-cut
    * (one tokenize of the corpus; `iters` readers — the semDedup
    * one-cut/N-readers posture). Each iteration is two bounded
    * shuffles (per-doc logit aggregate; per-bucket gradient
    * aggregate) plus a `buckets`-row broadcast of the weight vector
    * — iters and buckets are constants, so the whole trainer is a
    * fixed-depth plan, no driver-side iteration over data.
    *
    * Returns the model: (b, w_u) — one row per feature bucket seen
    * in training.
    */
  def lrTrain(
      train: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int = 64,
      iters: Int = 3,
      etaDen: Int = 32): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(etaDen >= 1, s"etaDen must be >= 1, got $etaDen")
    import org.apache.spark.sql.graft.CheckpointBlocks
    val xs = CheckpointBlocks.cut(
      lrHashedFeatures(train, idCol, textCol, buckets))
    val lab = train.select(col(idCol).cast("long").as("doc_id"),
      when(col(labelCol), lit(1000000L)).otherwise(lit(0L)).as("y_u"))
    val nT = lab.agg(count(lit(1)).cast("bigint").as("n_train"))
    var w = xs.select(col("b")).distinct()
      .select(col("b"), lit(0L).as("w_u"))
    // Each iteration's weight frame is CUT (buckets rows — tiny):
    // iteration i's lazy plan referenced w_{i-1} TWICE (inside z and
    // in the update join), and the two references canonicalize
    // differently (broadcast vs join input), so ReuseExchange could
    // not dedupe them — the uncut chain re-executed each prior
    // iteration's whole subtree ~2× per level (r17 Diag:
    // text_lr_capacity_curve warm ran 167 stages for 9 logical
    // iterations). The cut makes iteration i read k rows of
    // checkpoint blocks instead — the kmeansFit loop posture.
    var wCut: DataFrame = null
    for (_ <- 1 to iters) {
      val z = xs.join(broadcast(w), Seq("b"))
        .groupBy(col("doc_id")).agg(sum(col("m") * col("w_u")).as("z_u"))
      val resid = lab.join(z, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("y_u") - round(lit(1000000.0) /
            (lit(1.0) + exp(-(coalesce(col("z_u"), lit(0L)).cast("double")
              / lit(1000000.0)))), 0).cast("long")).as("r"))
      val g = xs.join(resid, Seq("doc_id"))
        .groupBy(col("b")).agg(sum(col("m") * col("r")).as("g"))
      val next = CheckpointBlocks.cut(
        w.join(g, Seq("b"), "left").crossJoin(broadcast(nT))
          .select(col("b"),
            (col("w_u") + expr(
              s"coalesce(g, CAST(0 AS BIGINT)) DIV ($etaDen * n_train)"))
              .as("w_u")))
      // Superseded iterations' blocks free eagerly; the LAST cut is
      // the returned model and outlives the call (GC frees it — the
      // Bpe.train lifecycle).
      if (wCut != null) CheckpointBlocks.release(wCut)
      wCut = next
      w = next
    }
    w
  }

  /** Score documents against an [[lrTrain]] model: exact-bigint
    * logit z_u = Σ_b m·w_u (buckets unseen in training contribute 0
    * via the left join), shipped as the raw quotient z = z_u/10⁶
    * (identical integers → identical double, no final round) with
    * the integer-threshold decision `pred` = z_u > 0 — the decision
    * boundary is bit-identical cross-engine, the nbScore contract.
    * Docs with no tokens score z = 0, pred = false (no evidence —
    * the unjudgeable-doc posture). One narrow featurize + one
    * aggregate; the model rides a `buckets`-row broadcast.
    */
  def lrScore(
      model: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame =
    lrOutput(docs.select(col(idCol).cast("long").as("doc_id"))
      .join(lrLogits(model, docs, idCol, textCol, buckets, DocGrouping.ByDoc),
        Seq("doc_id"), "left"))

  /** [[lrScore]]'s per-doc exact logit `(doc_id, n_tok, z_u)` under any
    * [[DocGrouping]]; only docs with tokens have a row.
    */
  private[graft] def lrLogits(
      model: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      g: DocGrouping): DataFrame =
    lrHashedFeaturesBy(docs, idCol, textCol, buckets, g)
      .join(broadcast(model), Seq("b"), "left")
      .groupBy(g.keys(col("doc_id")): _*)
      .agg(sum(col("m")).cast("bigint").as("n_tok"),
        sum(col("m") * coalesce(col("w_u"), lit(0L))).as("z_u"))

  /** `(doc_id, n_tok, z, pred)` from [[lrLogits]] rows. */
  private[graft] def lrOutput(zs: DataFrame): DataFrame =
    zs.select(col("doc_id"),
      coalesce(col("n_tok"), lit(0L)).as("n_tok"),
      (coalesce(col("z_u"), lit(0L)).cast("double") / lit(1000000.0)).as("z"),
      (coalesce(col("z_u"), lit(0L)) > 0L).as("pred"))

  /** TextRank corpus keyword salience (Mihalcea & Tarau 2004, the
    * PageRank family): rank every vocabulary term by a damped random
    * walk over the word co-occurrence graph — the classic
    * unsupervised keyword extractor, run at CORPUS granularity (the
    * paper runs per document; the corpus graph is the same
    * construction summed over docs and is the distributable shape:
    * one graph, vocabulary-sized, instead of millions of
    * driver-invisible per-doc graphs — per-doc salience composes
    * downstream as tf × corpus-rank, the tf-idf posture).
    *
    * Graph: nodes = lowercased whitespace tokens; undirected edges
    * between tokens co-occurring within `window` positions in a doc
    * (self-loops dropped), weight = corpus co-occurrence count. The
    * walk runs `iters` rounds of the weighted PageRank recurrence
    *
    *   r_{k+1}(v) = (1−d) + d · Σ_{u→v} r_k(u) · w(u,v) / wout(u)
    *
    * in mean-1 micro-units and PURE INTEGERS: ranks start at 10⁶,
    * each edge contribution is the bigint floor division
    * (dampNum·r·w) DIV (100·wout) — Spark `DIV` and DuckDB `//`
    * truncate identically on non-negatives — and the damping base
    * (100−dampNum)·10⁴ adds back exactly. No floating point touches
    * the recurrence, so both engines agree bit-for-bit at every
    * iteration; the floor loses < 1 micro-unit per in-edge per round
    * (bounded, documented — resolution is the 10⁶ dial).
    *
    * Scale shape: the edge frame is a corpus AGGREGATE (bounded by
    * distinct co-occurring pairs, not corpus size) built from one
    * narrow in-row pair explode + one groupBy; it is checkpoint-cut
    * once and re-read by all `iters` rounds (the semDedup
    * one-cut/N-readers posture). Each round is ONE equi-join of the
    * vocabulary-sized rank frame against the cut edges + ONE groupBy
    * — iters is a constant, so the whole walk is a fixed-depth plan
    * with no driver-side data movement. Every node of the symmetric
    * graph has an in-edge, so the groupBy covers the node set.
    *
    * Output: (term, w_degree, rank_u) — weighted degree and the
    * iteration-`iters` rank in micro-units; terms that never
    * co-occur (single-token docs) have no edges and are absent, the
    * graph's own domain.
    */
  def textRank(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2,
      iters: Int = 5,
      dampNum: Int = 85): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum in [0,100], got $dampNum")
    import org.apache.spark.sql.graft.CheckpointBlocks
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    val pairs = docs
      .select(t.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => transform(
          sequence(i + 1, least(i + window, size(col("__t")))),
          j => struct(element_at(col("__t"), i).as("a"),
            element_at(col("__t"), j).as("b")))))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val e = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val edgesW = CheckpointBlocks.cut(e.join(wout, Seq("src")))
    val base = (100L - dampNum) * 10000L
    var ranks = edgesW.select(col("src")).distinct()
      .select(col("src"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      ranks = edgesW.join(ranks, Seq("src"))
        .withColumn("__c",
          // The edge product rides decimal(38,0): r (micro-units) × w
          // (corpus-wide co-occurrence count) × dampNum can exceed
          // bigint for hub terms at large corpus scale, where Spark's
          // non-ANSI bigint would WRAP silently while the DuckDB
          // oracle promotes to HUGEINT — decimal(38,0) keeps the two
          // engines bit-aligned up to 38 digits (the house
          // exact-integer posture; see the OLS/moment oracles).
          expr(s"(CAST($dampNum AS DECIMAL(38,0)) * r * w) DIV (100 * wout)"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__cin"))
        .select(col("dst").as("src"), (lit(base) + col("__cin")).as("r"))
    }
    ranks.join(edgesW.groupBy(col("src")).agg(first(col("wout")).as("w_degree")),
        Seq("src"))
      .select(col("src").as("term"), col("w_degree"), col("r").as("rank_u"))
  }

  /** Per-document keywords: each doc's top-`k` terms by the exact
    * bigint tf × corpus salience `m · rank_u` (term asc on ties), with
    * `ranks` a `(term, rank_u)` [[textRank]] table. Unranked terms have
    * no salience and cannot be keywords (inner join). The tf count is
    * a real aggregate in both modes, so a stream chains two stateful
    * aggregates here. Output: `(doc_id, term, score_u)`.
    */
  private[graft] def keywordsBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ranks: DataFrame,
      k: Int,
      g: DocGrouping): DataFrame =
    g.source(docs)
      .select(g.keys(col(idCol).as("doc_id"), explode(filter(tokens(
        lower(coalesce(col(textCol), lit("")))), x => x =!= "")).as("term")): _*)
      .groupBy(g.keys(col("doc_id"), col("term")): _*).agg(count(lit(1)).as("m"))
      .join(ranks, Seq("term"))
      .select(g.keys(col("doc_id"), col("term"),
        (col("m") * col("rank_u")).as("score_u")): _*)
      .groupBy(g.keys(col("doc_id")): _*)
      .agg(graft.functions.TopK.smallestK(
        struct((-col("score_u")).as("ns"), col("term").as("t")), k)
        .as("__top"))
      .select(col("doc_id"), explode(col("__top")).as("__k"))
      .select(col("doc_id"), col("__k.t").as("term"),
        (-col("__k.ns")).as("score_u"))

  /** [[textRank]]'s CONVERGENCE curve — per-iteration L1 and max
    * rank movement Σ|r_k − r_{k−1}| / max|r_k − r_{k−1}| in
    * micro-units, the diagnostic that answers "how many damped-walk
    * rounds does THIS corpus need" with a number instead of a
    * convention (the damping factor bounds the contraction at ~0.85
    * per round; the measured curve shows the actual rate). Same
    * integer recurrence as [[textRank]] — identical arithmetic,
    * identical cut-edge frame, one extra vocabulary-sized aggregate
    * per round. The per-round delta uses the tag-union-group idiom
    * (next and previous ranks union with a tag, one groupBy
    * re-pairs them) rather than a self-join — the rank frames share
    * lineage and a direct join would trip DetectAmbiguousSelfJoin.
    *
    * Output: (iter, l1_delta_u, max_delta_u), one row per iteration
    * 1..iters.
    */
  def textRankConvergence(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2,
      iters: Int = 5,
      dampNum: Int = 85): DataFrame = {
    require(window >= 1 && iters >= 1 && dampNum >= 0 && dampNum <= 100,
      s"bad args ($window, $iters, $dampNum)")
    import org.apache.spark.sql.graft.CheckpointBlocks
    val t = filter(tokens(lower(coalesce(col(textCol), lit("")))), x => x =!= "")
    val pairs = docs
      .select(t.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => transform(
          sequence(i + 1, least(i + window, size(col("__t")))),
          j => struct(element_at(col("__t"), i).as("a"),
            element_at(col("__t"), j).as("b")))))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val e = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val edgesW = CheckpointBlocks.cut(e.join(wout, Seq("src")))
    val base = (100L - dampNum) * 10000L
    var ranks = edgesW.select(col("src")).distinct()
      .select(col("src"), lit(1000000L).as("r"))
    val rows = (1 to iters).map { k =>
      val next = edgesW.join(ranks, Seq("src"))
        // decimal(38,0) product — same overflow argument as [[textRank]].
        .withColumn("__c",
          expr(s"(CAST($dampNum AS DECIMAL(38,0)) * r * w) DIV (100 * wout)"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__cin"))
        .select(col("dst").as("src"), (lit(base) + col("__cin")).as("r"))
      val u = next.select(col("src"), col("r").as("rv"), lit(1L).as("__isn"))
        .unionByName(
          ranks.select(col("src"), col("r").as("rv"), lit(0L).as("__isn")))
      val delta = u.groupBy(col("src"))
        .agg(sum(when(col("__isn") === 1L, col("rv"))).as("rn"),
          sum(when(col("__isn") === 0L, col("rv"))).as("rp"))
        .agg(lit(k).as("iter"),
          sum(abs(col("rn") - col("rp"))).cast("long").as("l1_delta_u"),
          max(abs(col("rn") - col("rp"))).cast("long").as("max_delta_u"))
      ranks = next
      delta
    }
    rows.reduce(_.unionByName(_))
  }
}
