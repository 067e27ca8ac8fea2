package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBlocks

/** Kernel output row: one doc's distinct HASHED shingles (md5-derived
  * 60-bit ints — see [[Dedup.shingleHashes]]) + MinHash signature
  * (empty signature when the doc is too short to shingle).
  *
  * Hashes, not strings, on purpose: the verify join re-attaches both
  * sides' shingle sets to every candidate pair, and at corpus scale
  * that shuffle is the pipeline's dominant byte volume — 8 bytes per
  * shingle instead of a 5-40 char string is a 3-10× cut, and the
  * Jaccard set-intersection compares longs instead of strings. Both
  * engines (Spark and the DuckDB oracle) intersect the SAME md5 hash
  * sets, so results agree bit-for-bit BY CONSTRUCTION — even a hash
  * collision (≈|sh|²/2³² per doc, vanishing) changes both identically.
  */
final case class DocShingles(id: Long, sh: Seq[Long], sg: Seq[Long])

/** Candidate pair with both hashed-shingle sets attached, for the
  * verify step.
  */
final case class CandPair(id_a: Long, id_b: Long, sh_a: Seq[Long], sh_b: Seq[Long])

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every method here avoids the O(n²) all-pairs trap —
  * exact dedup is a hash groupBy; MinHash/SimHash reduce candidate
  * generation to an equi-join on band/bucket keys, which Spark
  * executes as a shuffle join on the (small) candidate space rather
  * than a cross join. Only candidates get the exact verification.
  *
  * Hashing is md5-based (not Spark's murmur/xxhash) so signatures are
  * engine-portable — any system with md5 reproduces the same buckets,
  * which is what lets the DuckDB oracle (and any future backfill
  * engine) agree bit-for-bit.
  *
  * Caching contract: the pairing operators persist their signature
  * intermediates (MEMORY_AND_DISK) while they run — each is read 2+
  * times by the candidate/verify joins — and RELEASE them before
  * returning (see `eagerRelease`): the result is computed eagerly
  * into lineage-truncated block storage, and the internal caches die
  * with the call. Long-lived ingest sessions accumulate nothing;
  * checkpoint blocks free themselves when the returned frame is GC'd.
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Exact dedup groups: one row per distinct normalized text, with
    * the representative (minimum) id and the member count. Keep the
    * representative by joining back on `fingerprint`.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  // ---------------------------------------------------------- shingles

  /** Distinct k-word shingles. Empty array when fewer than k tokens.
    * `toks` MUST be a materialized token column (an attribute projected
    * beforehand), not an inline `split(...)` expression: the shingle
    * slice references it inside a `transform` lambda, and
    * `ArrayTransform` is interpreted, so an inline expression re-splits
    * the whole document once per shingle — O(tokens²) per document.
    * Explode the result rather than filter on it: predicate pushdown
    * moves such a filter below the token projection and inlines the
    * split into the lambda again.
    */
  def wordShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(expr("array()").cast("array<string>"))

  /** Distinct character n-grams. Empty array for short strings. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(expr("array()").cast("array<string>"))

  /** Jaccard similarity of two pre-distinct shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }

  // ----------------------------------------------------------- minhash

  /** One strong hash per shingle: md5 → 60-bit int → mod 2^31.
    * EXPENSIVE relative to the per-seed arithmetic — materialize this
    * as a column before fanning out seeds (inlining it under a
    * higher-order function re-evaluates the md5 pass per seed).
    */
  def shingleHashes(shingles: Column): Column =
    transform(shingles,
      s => graft.functions.Hashing.md5Bits60(s) % lit(2147483648L))

  /** MinHash signature from precomputed shingle hashes: seed i takes
    * the minimum of the universal-hash family
    * `(h·(2i+1) + i·1000003 + 12345) mod 2^31` — the classic
    * one-strong-hash + affine-rehash construction, so the md5 pass
    * happens once per shingle, not once per (shingle × seed). All
    * intermediates stay < 2^36: safe under ANSI overflow checking.
    */
  def minhashFromHashes(hashes: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hashes,
        h => pmod(h * (i * 2 + 1) + i * lit(1000003L) + lit(12345L), lit(2147483648L)))))

  /** LSH band keys: the signature split into `bands` contiguous bands
    * of `rows` entries, each hashed to one key. Docs sharing ANY band
    * key become candidate pairs.
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        md5(concat_ws("|",
          transform(slice(sig, b * rows + 1, lit(rows)), x => x.cast("string")))).as("key")))

  /** Candidate near-duplicate pairs via MinHash+LSH, verified with
    * word-shingle Jaccard >= `threshold`. Returns (id_a, id_b, jac)
    * with id_a < id_b.
    *
    * Plan shape: per-doc signature (narrow) → explode bands (×bands) →
    * self equi-join on the band key (shuffle on key, no cross join) →
    * distinct pairs → exact verify. At 100 TB the join input is
    * |docs|×bands rows of (key, id) — the heavy text/shingle columns
    * are re-attached only for the surviving candidates.
    */
  // ------------------------------------------------ JVM signature kernel
  //
  // The shingle→hash→signature stage is pure per-row compute, but
  // Spark higher-order functions run INTERPRETED (outside whole-stage
  // codegen) and nested lambdas re-evaluate their argument expressions
  // per outer element — measured 5-20× slowdowns. So the hot kernel is
  // a typed mapPartitions (the brief's option (d), justified by
  // measurement); semantics are IDENTICAL to the Column expressions
  // above (md5-based, engine-portable — the DuckDB oracle reproduces
  // every value), pinned by DedupSpec's kernel-vs-Column tests. The
  // distributed structure — band equi-join, verify join — stays
  // declarative.

  /** Spark `trim` semantics: strips ' ' only (Java `trim` also strips
    * control chars — a divergence the oracle would see).
    */
  private def trimSpaces(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** Mirrors Spark's `lower()` exactly (UTF8String.toLowerCase):
    * full-ASCII strings take a locale-INDEPENDENT fast path; anything
    * else falls back to default-locale `String.toLowerCase`. Without
    * the ASCII branch, a tr/az-locale JVM would lower ASCII "I" to the
    * dotless "ı" here while Spark's fast path yields "i", silently
    * desynchronizing kernel and Column signatures.
    */
  private def lowerLikeSpark(s: String): String = {
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) s.toLowerCase(java.util.Locale.ROOT) else s.toLowerCase()
  }

  /** JVM mirror of [[wordShingles]] ∘ [[TextAnalysis.tokens]] ∘ lower.
    * split limit -1 keeps trailing empty tokens, exactly like Spark's
    * `split(col, "\\s+")` (Java's default limit 0 would drop them and
    * silently change shingle sets for texts ending in non-space
    * whitespace).
    */
  private[operators] def wordShinglesJvm(text: String, k: Int): Array[String] = {
    if (text == null) return Array.empty // Column twin yields [] for null text
    val toks = trimSpaces(lowerLikeSpark(text)).split("\\s+", -1)
    if (toks.length < k) Array.empty
    else toks.sliding(k).map(_.mkString(" ")).toArray.distinct
  }

  /** JVM mirror of [[charShingles]] ∘ lower. Works on CODEPOINTS, like
    * Spark's `length`/`substr` (UTF-16 `String.length` would split
    * surrogate pairs for non-BMP text).
    */
  private[operators] def charShinglesJvm(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty // Column twin yields [] for null text
    val cps = lowerLikeSpark(text).codePoints().toArray
    if (cps.length < n) Array.empty
    else Array.tabulate(cps.length - n + 1)(i => new String(cps, i, n)).distinct
  }

  /** One strong hash per shingle — md5 → 60-bit → mod 2^31,
    * bit-identical to the [[shingleHashes]] Column twin — DISTINCT'd
    * after hashing (shingle strings are already distinct; hashing can
    * only merge, and both engines dedup the hash list the same way).
    */
  private def shingleHashesJvm(
      sh: Array[String],
      md: java.security.MessageDigest): Array[Long] =
    sh.map { s =>
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 } // 64 bits
      (h >>> 4) % 2147483648L // top 60 bits = first 15 hex chars
    }.distinct

  /** One doc's signature from its precomputed shingle hashes: the
    * per-seed affine family, bit-identical to [[minhashFromHashes]].
    */
  private def signatureFromHashes(hs: Array[Long], numHashes: Int): Array[Long] = {
    if (hs.isEmpty) return Array.empty
    Array.tabulate(numHashes) { i =>
      var min = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = (hs(j) * (2 * i + 1) + i * 1000003L + 12345L) % 2147483648L
        if (v < min) min = v
        j += 1
      }
      min
    }
  }

  /** Per-doc hashed shingles + MinHash signature in ONE narrow JVM
    * pass. `mode` is "word" (k-word shingles of the lowered text) or
    * "char" (character n-grams). `sh` holds the distinct md5-derived
    * shingle hashes (see [[DocShingles]]), hashed once and reused for
    * both the signature and the verify step.
    */
  def shingleSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      mode: String,
      k: Int,
      numHashes: Int): DataFrame = {
    val in = docs.select(col(idCol).cast("long").as("_1"), col(textCol).as("_2"))
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) =>
        val sh =
          if (mode == "word") wordShinglesJvm(text, k) else charShinglesJvm(text, k)
        val hs = shingleHashesJvm(sh, md)
        DocShingles(id, hs.toSeq, signatureFromHashes(hs, numHashes).toSeq)
      }
    }(Encoders.product[DocShingles]).toDF()
  }

  /** Default operating point `numHashes = 16, bands = 4` (4 bands ×
    * 4 rows) is CHOSEN FROM the measured [[lshTuningCurve]]
    * (`dedup_lsh_band_curve`, sf0.01, jac ≥ 0.4 truth): candidate
    * recall across the 2×8 / 4×4 / 8×2 / 16×1 splits of the same
    * 16-hash signature is 0.96 / 1.0 / 1.0 / 1.0 while candidate
    * precision falls 0.96 → 0.017 — so 4×4 is the knee: the first
    * split with full recall, after which every extra band only
    * multiplies verify work (16×1 emitted 1480 candidates for 25
    * true pairs). Recall is the axis that matters here — a missed
    * candidate is a duplicate kept forever, while a false candidate
    * only costs the exact-Jaccard verify join that follows — which is
    * why the default does NOT sit at 2×8's symmetric 0.96/0.96
    * point. Callers with a different threshold or shingle mode should
    * re-run the curve; the S-curve knee moves with the target
    * Jaccard.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.4,
      maxBucket: Int = LshMaxBucket): DataFrame =
    minhashPairsKernel(docs, idCol, textCol, "word", shingleK, numHashes, bands, threshold,
      maxBucket)

  /** MinHash+LSH near-dup pairs with the JVM signature kernel and a
    * JVM set-intersection verify; candidate generation and the verify
    * re-attach remain declarative joins. See [[minhashPairs]] for the
    * plan-shape notes and `splitBuckets` for the hot-bucket guard.
    */
  def minhashPairsKernel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      mode: String,
      k: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    val (caches, pairs) =
      minhashPairsKernelLazy(docs, idCol, textCol, mode, k, numHashes, bands, threshold,
        maxBucket)
    eagerRelease(caches, pairs)
  }

  /** Eager cache-lifecycle tail shared by the pair pipelines: compute
    * the (pair-cardinality) result ONCE into executor block storage via
    * an eager [[CheckpointBlocks.cut]] — which TRUNCATES its lineage —
    * then release every INTERNAL cache. The lineage cut is
    * load-bearing: `persist() + count()` then unpersisting the
    * internals LOOKS equivalent, but CacheManager's cascade=false
    * recache CLEARS any materialized cache whose plan still references
    * an unpersisted relation, so the "cached" result would silently
    * recompute the whole pipeline on every later read — without its
    * internal caches, i.e. re-shingling each self-join side from
    * scratch (measured: dedup_ngram 3 s warm → 29 s under that
    * version of this helper). The checkpointed blocks are freed by
    * ContextCleaner when the returned frame is garbage-collected, so
    * callers need no explicit cleanup handle; long-lived ingest
    * sessions accumulate nothing.
    */
  private[graft] def eagerRelease(caches: Seq[DataFrame], pairs: DataFrame): DataFrame =
    // finally: a checkpoint that throws (OOM, cancelled job, bad
    // input) must still release the internal caches, or every failed
    // call leaks a fresh partially-materialized corpus-sized entry
    // (fresh kernel closures never canonicalize equal, so CacheManager
    // can't dedup them) — the exact leak this helper exists to fix.
    try CheckpointBlocks.cut(pairs)
    finally caches.foreach(_.unpersist())

  /** Lazy plan builder behind [[minhashPairsKernel]], exposed so
    * plan-shape tests can pin the candidate join before the eager
    * wrapper hides it in an InMemoryRelation. Returns (internal
    * persist-marked caches, pairs).
    */
  /** Default LSH bucket-size cap — see `splitBuckets`. Interpolated
    * into the DuckDB oracle SQL (PipelineQueries.minhashOracle) so the
    * two engines apply the identical cut.
    */
  val LshMaxBucket: Int = 2000

  /** SPLIT every (band, key) bucket holding more than `maxBucket`
    * docs into rank chunks of `maxBucket` before the candidate
    * self-join, by appending a `__sub` chunk column (0 everywhere a
    * bucket is under the cap) — the candidate joins then require
    * equal `(band, key, __sub)`.
    *
    * Why a cap is load-bearing at scale: the self-join emits
    * n·(n−1)/2 pairs PER BUCKET, so one boilerplate-heavy key
    * (license headers, templated pages — every real web corpus has
    * them) turns the candidate space quadratic. Measured on the 10×
    * sf1 fixture: a max bucket of 2,365 docs pushed candidates from
    * 36 k to 40.7 M (1,136× at 10× data) and dedup_ngram from 5.6 s
    * to 74.8 s.
    *
    * Why SPLIT, not drop (the round-15 posture change, closing that
    * round's only engine-design weak flag): dropping a hot bucket
    * forfeits exactly the duplicates boilerplate concentrates —
    * recall-lossy on adversarial hot keys even though the docs keep
    * bands−1 further chances. The rank-chunk rule proven on the
    * semantic family ([[semDedupScoredPairs]]' `maxCell`) keeps every
    * member eligible within its chunk: members order by the
    * deterministic total order (id asc), consecutive chunks of
    * `maxBucket` become sub-buckets, and pairs are sought within
    * (band, key, chunk) only. Candidates per bucket drop from |b|²
    * to ⌈|b|/cap⌉·cap² — linear in |b| at fixed cap — and only pairs
    * straddling a chunk boundary in EVERY collision band are lost
    * (priced by the `dedup_minhash_capped` fixture query). A TRUE
    * dup crowd larger than the cap still clusters chunk-locally, and
    * exact-dedup (which runs before near-dup) removes verbatim crowds
    * first.
    *
    * Cost: one map-side-combinable count over the banded frame; the
    * hot-key set (≤ |banded|/cap keys — thousands, not millions)
    * broadcasts back as a flag; UNDER-cap rows take the broadcast
    * probe only (`__sub` = 0, no shuffle), and only hot-bucket rows —
    * exactly the pathological mass — pay the rank window, partitioned
    * by (band, key) so partitions are bucket-sized and spillable. The
    * split is deterministic (a pure function of the data), so the
    * DuckDB oracle replays it exactly.
    */
  private[graft] def splitBuckets(
      banded: DataFrame,
      maxBucket: Int,
      idCol: String = "id"): DataFrame =
    if (maxBucket <= 0) banded.withColumn("__sub", lit(0L))
    else {
      // Opt-in observability (`graft.lsh.logHotBuckets=true`): the
      // split still changes recall for chunk-straddling pairs, so
      // production runs need a way to SEE when it is active. Gated
      // because the probe is one extra (map-side-combinable) aggregate
      // job per dedup call — cheap, but not free, and the default path
      // must stay zero-overhead.
      if (banded.sparkSession.conf
            .get("graft.lsh.logHotBuckets", "false") == "true") {
        val (nHot, maxSize) = hotBucketStats(banded, maxBucket)
        System.err.println(
          s"[graft.lsh] hot-bucket cap $maxBucket: split $nHot bucket(s), " +
            s"largest $maxSize doc(s)")
      }
      val hot = banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket)
        .select(col("band"), col("key"), lit(true).as("__hot"))
      val flagged = banded.join(broadcast(hot), Seq("band", "key"), "left")
      val cold = flagged.filter(col("__hot").isNull).drop("__hot")
        .withColumn("__sub", lit(0L))
      val hotRows = flagged.filter(col("__hot").isNotNull).drop("__hot")
        .withColumn("__sub",
          ((row_number().over(Window.partitionBy(col("band"), col("key"))
            .orderBy(col(idCol))) - 1) / maxBucket).cast("long"))
      cold.unionByName(hotRows)
    }

  /** [[splitBuckets]]' BATCH×CORPUS twin, for the incremental paths
    * where only the corpus side is capped: returns
    * (corpus banded + `__sub`, hot frame `(band, key, __nchunks)`).
    * The corpus side rank-chunks exactly as [[splitBuckets]]; each
    * BATCH row is then ROUTED to one chunk by [[routeToChunks]], so
    * per-batch-row fan-out into a hot bucket is bounded by
    * `maxBucket` instead of the bucket's full size (the guard that
    * keeps one boilerplate band key in a billion-doc corpus from
    * multiplying every matching batch row by millions), while every
    * corpus member stays eligible — the drop posture zeroed recall
    * on hot buckets; routing retains ≈ 1−(1−1/nchunks)^bands of true
    * pairs whose every band is hot (each band keys independently, so
    * each gives an independent 1/nchunks routing chance).
    */
  private[graft] def splitBucketsWithRouting(
      banded: DataFrame,
      maxBucket: Int,
      idCol: String = "id"): (DataFrame, DataFrame) =
    if (maxBucket <= 0)
      (banded.withColumn("__sub", lit(0L)),
        banded.select(col("band"), col("key"), lit(1L).as("__nchunks")).limit(0))
    else {
      val hot = banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket)
        .select(col("band"), col("key"),
          (((col("n") - 1) / maxBucket).cast("long") + 1L).as("__nchunks"))
      val flagged = banded.join(broadcast(hot), Seq("band", "key"), "left")
      val cold = flagged.filter(col("__nchunks").isNull).drop("__nchunks")
        .withColumn("__sub", lit(0L))
      val hotRows = flagged.filter(col("__nchunks").isNotNull).drop("__nchunks")
        .withColumn("__sub",
          ((row_number().over(Window.partitionBy(col("band"), col("key"))
            .orderBy(col(idCol))) - 1) / maxBucket).cast("long"))
      (cold.unionByName(hotRows), hot)
    }

  /** Attach the routing `__sub` to a BATCH band-key frame: rows
    * probing an under-cap bucket get chunk 0; rows probing a hot
    * bucket route to one of its `__nchunks` corpus chunks by the
    * house md5 hash of their own id — deterministic, uniform, and
    * replayed bit-for-bit by the DuckDB oracle
    * (`('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT % nchunks`,
    * the dedup_minhash shingle-hash idiom). The hot frame broadcasts
    * (≤ |corpus banded|/cap keys).
    */
  private[graft] def routeToChunks(
      batchKeyed: DataFrame,
      hot: DataFrame,
      idCol: String): DataFrame =
    batchKeyed.join(broadcast(hot), Seq("band", "key"), "left")
      .withColumn("__sub",
        when(col("__nchunks").isNull, lit(0L))
          .otherwise(pmod(
            conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
              .cast("long"),
            col("__nchunks"))))
      .drop("__nchunks")

  /** (number of buckets over `maxBucket`, size of the largest bucket)
    * for a banded `(band, key)` frame — the measurement behind the
    * opt-in `splitBuckets` logging, exposed so callers (and the unit
    * test) can audit what the cap would split without enabling the log.
    * One map-side-combinable aggregate; the grouped frame is bucket
    * cardinality, never doc cardinality.
    */
  def hotBucketStats(banded: DataFrame, maxBucket: Int): (Long, Long) = {
    val row = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > maxBucket, 1L).otherwise(0L)).as("n_hot"),
        max(col("n")).as("max_n"))
      .head()
    (if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  private[graft] def minhashPairsKernelLazy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      mode: String,
      k: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = LshMaxBucket): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val rows = numHashes / bands
    // Signatures materialized once; read by banding + both verify sides.
    val sigs = shingleSignatures(docs, idCol, textCol, mode, k, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Docs too short to shingle have an empty signature; unfiltered
    // they would all share the same (empty-slice) band keys and the
    // self-join would emit |shortDocs|² candidates — a quadratic
    // explosion at web-corpus scale. They can never pass the Jaccard
    // verify anyway (empty ∩ anything = 0), so drop them up front.
    // Persisted: read 3× below (hot-bucket count + both self-join
    // sides), and each read would otherwise re-run the band-key md5
    // over the cached signatures.
    val banded = sigs
      .filter(size(col("sg")) > 0)
      .select(col("id"), explode(lshBandKeys(col("sg"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val capped = splitBuckets(banded, maxBucket)

    val cand = capped.as("a")
      .join(capped.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.__sub") === col("b.__sub") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    val joined = cand
      .join(sigs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .as[CandPair](Encoders.product[CandPair])

    // Set-intersection verify in the JVM: interpreted array_intersect
    // over large shingle arrays was the second-largest cost at sf0.1.
    // Operates on the HASHED shingle sets (see [[DocShingles]]) — long
    // equality, 8-byte shuffle rows. Rounding mirrors Spark's round()
    // (BigDecimal HALF_UP).
    val verified = joined.mapPartitions { it =>
      it.map { p =>
        val setA = p.sh_a.toSet
        var inter = 0
        p.sh_b.foreach(s => if (setA.contains(s)) inter += 1)
        val union = p.sh_a.size.toDouble + p.sh_b.size.toDouble - inter
        val jac = if (union == 0.0) 0.0 else inter / union
        (p.id_a, p.id_b,
          BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("id_a", "id_b", "jac")
    (Seq(sigs, banded), verified.filter(col("jac") >= threshold))
  }

  /** The shingle-agnostic MinHash+LSH pairing pipeline: takes any
    * `(id, sh: array<string>)` frame (word shingles, char n-grams, …)
    * and returns verified near-dup pairs. See [[minhashPairs]] for the
    * plan-shape notes. Eager — see `eagerRelease`.
    */
  def pairsFromShingles(
      withShingles: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    val (caches, pairs) =
      pairsFromShinglesLazy(withShingles, numHashes, bands, threshold, maxBucket)
    eagerRelease(caches, pairs)
  }

  private[graft] def pairsFromShinglesLazy(
      withShingles: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = LshMaxBucket): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val rows = numHashes / bands
    // Materialize shingles and band keys ONCE: both frames are read
    // 2×+ below (self-join sides, verify re-attach), and Spark
    // re-executes uncached subplans per reference — recomputing the
    // md5 signature pipeline 4-8× dominates runtime (higher-order
    // functions run interpreted, outside whole-stage codegen). This is
    // the "write signatures, then join them" step every production
    // MinHash pipeline has; MEMORY_AND_DISK spills at the 100 TB tier.
    // The md5 shingle-hash pass is materialized INSIDE the cached
    // frame: a plain projection would be collapsed back into the
    // per-seed lambda by CollapseProject and re-run once per seed; the
    // InMemoryRelation boundary is what guarantees one md5 pass per row.
    val withSh = withShingles
      .select(col("id"), col("sh"), shingleHashes(col("sh")).as("hs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Empty shingle sets are excluded from banding (they all share the
    // empty band key — quadratic candidates — and can never verify).
    val banded = withSh
      .filter(size(col("sh")) > 0)
      .select(col("id"), explode(lshBandKeys(minhashFromHashes(col("hs"), numHashes), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val capped = splitBuckets(banded, maxBucket)

    val cand = capped.as("a")
      .join(capped.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.__sub") === col("b.__sub") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    // Verify on the distinct HASH sets (not the shingle strings) so
    // the per-candidate re-attach ships 8-byte longs — identical to
    // the kernel path's contract; both engines intersect the same md5
    // hash sets, so agreement is by construction.
    val hv = withSh.select(col("id"), array_distinct(col("hs")).as("hv"))
    val pairs = cand
      .join(hv.select(col("id").as("id_a"), col("hv").as("hv_a")), Seq("id_a"))
      .join(hv.select(col("id").as("id_b"), col("hv").as("hv_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(jaccard(col("hv_a"), col("hv_b")), 6).as("jac"))
      .filter(col("jac") >= threshold)
    (Seq(withSh, banded), pairs)
  }

  /** Connected components over a near-dup pair graph: each doc in any
    * pair → (id, cluster_rep) where the representative is the minimum
    * id in its component. Keep `cluster_rep`, drop the rest — the
    * final step of every near-dup pipeline.
    *
    * Iterative min-label propagation: each round every node takes the
    * min of its own label and its neighbors'; converges in O(component
    * diameter) rounds (near-dup components are small and dense, so
    * typically 2-3). Each round is one shuffle join at EDGE cardinality
    * — the same schedule GraphX/Pregel would run, without the
    * dependency. The driver only sees the one-number convergence check
    * per round, never the data.
    */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    // Small-edge-set fast path (conf graft.dedup.smallEdgeThreshold,
    // default 1M edges): the iterative schedule below costs ~3 jobs
    // PER ROUND (join+agg, convergence count, lineage cut) — the right
    // shape when the edge set is corpus-sized, but pure fixed overhead
    // when it is a few thousand rows (round 5: dedup_incr_assign spent
    // 8 s of job launches on a 17-row result). Below the threshold the
    // whole edge set fits one task, so CC runs as a SINGLE distributed
    // job: coalesce(1) — narrow, no shuffle — then union-find inside
    // mapPartitions. Collect-free (the driver sees only the count
    // guard, which reads the already-checkpointed edge blocks), exact
    // (union-by-min root ⇒ every root is its component's min id), and
    // semantics-neutral at scale (big edge sets take the iterative
    // path unchanged). Long-id frames only — every graft dedup
    // pipeline keys on bigint ids; other key types use the generic
    // iterative path.
    //
    // Each round's label frame is lineage-cut (CheckpointBlocks.cut;
    // reliable checkpoint on clusters with a checkpoint dir, local
    // checkpoint in single-JVM mode), not persisted:
    // a persist keeps the blocks hot but the LOGICAL plan still nests
    // one join deeper per round, and because the label frame is
    // referenced twice per round (nbrMin + convergence check) the
    // plan is a DAG whose shared subtrees Catalyst's tree traversals
    // re-walk once per PATH — formatted-explain (posted by AQE on
    // every job) went exponential once [[assignToClusters]] composed
    // several CC outputs in one plan (round 5: a unit test sat at
    // 1,890 CPU-s inside ExplainUtils.generateOperatorIDs). The
    // checkpoint materializes the same blocks AND flattens the plan
    // to a scan, so every round's plan — and every downstream
    // consumer's — stays constant-size. Same medicine as
    // [[Similarity.kmeansFit]]'s per-iteration cut.
    val edges = CheckpointBlocks.cut(
      pairs.select(col("id_a").as("s"), col("id_b").as("t"))
        .union(pairs.select(col("id_b").as("s"), col("id_a").as("t")))
        .distinct())
    val spark = pairs.sparkSession
    val smallThreshold = spark.conf
      .getOption("graft.dedup.smallEdgeThreshold").map(_.toLong).getOrElse(1000000L)
    val longKeyed = edges.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (longKeyed && edges.count() <= smallThreshold) {
      val small = edges.coalesce(1)
        .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (s, t) =>
            if (!parent.contains(s)) parent.update(s, s)
            if (!parent.contains(t)) parent.update(t, t)
            val rs = find(s); val rt = find(t)
            // Attach the larger root under the smaller: the root of
            // every tree is then the min id of its component.
            if (rs != rt) { if (rs < rt) parent.update(rt, rs) else parent.update(rs, rt) }
          }
          parent.keysIterator.map(id => (id, find(id))).toSeq.iterator
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .toDF("id", "cluster_rep")
      // Cut before releasing the edge blocks the lazy frame reads —
      // same return contract as the iterative path (single
      // checkpointed leaf; assignToClusters releases it when done).
      try return CheckpointBlocks.cut(small)
      finally CheckpointBlocks.release(edges)
    }
    var labels = CheckpointBlocks.cut(
      edges.select(col("s").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    var converged = false
    while (!converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("t"), col("label").as("t_label")), Seq("t"))
        .groupBy(col("s").as("id"))
        .agg(min("t_label").as("nbr_min"))
      val next = CheckpointBlocks.cut(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label")))
      // Both sides of the convergence check read checkpointed blocks,
      // so this join is label-cardinality work, no lineage replay.
      converged = next.join(labels.select(col("id"), col("label").as("old")), Seq("id"))
        .filter(col("label") =!= col("old"))
        .count() == 0
      // The superseded round's CHECKPOINT blocks are freed directly
      // (Dataset.unpersist would be a no-op here: it only clears
      // CacheManager entries, and checkpoint blocks are RDD-level —
      // without this, a long CC run holds rounds × label-size blocks
      // hostage to driver GC timing). `next` is materialized and the
      // convergence check above has read both sides, so nothing
      // references the old round's blocks anymore.
      CheckpointBlocks.release(labels)
      labels = next
    }
    // The loop no longer reads the edge frame; the final labels'
    // blocks stay — the returned frame reads them.
    CheckpointBlocks.release(edges)
    labels.select(col("id"), col("label").as("cluster_rep"))
  }

  // ----------------------------------------------------------- simhash

  /** 60-bit SimHash over the token multiset: per-bit majority vote of
    * md5-derived token hashes (15 hex chars = 60 bits keeps the value
    * positive in a signed 64-bit integer). Near-duplicates differ in
    * few bits; pair candidates come from exact-matching any of the
    * `bands` bit-slices (each 60/bands bits), hamming-verified after.
    */
  /** 60-bit token hashes: first 15 hex chars of md5 parsed as a bigint
    * (60 bits keeps the value positive in a signed 64-bit integer, and
    * md5 keeps it portable across engines — DuckDB reproduces it with
    * the same substring+from-hex pipeline).
    */
  def tokenHashes(toks: Column): Column =
    transform(toks, t => graft.functions.Hashing.md5Bits60(t))

  /** The 60-bit SimHash fold over a token-hash array column: per-bit
    * majority vote, one SQL higher-order-function expression. The
    * input column MUST be a materialized attribute (cached or shuffled
    * boundary below it): the fold references it once per bit, and an
    * inlined [[tokenHashes]] expression would re-run its md5 pass 60×
    * per row (CollapseProject merges plain projections into lambdas).
    */
  def simhashFromHashCol(hsCol: String): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, 59), j ->
       |    CASE WHEN aggregate(`$hsCol`, cast(0 as bigint),
       |                        (acc, h) -> acc + CASE WHEN (shiftright(h, j) % 2) = 1
       |                                             THEN 1 ELSE -1 END) > 0
       |         THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END),
       |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin)

  /** Adds `outCol` = 60-bit SimHash of the token-array column
    * `toksCol`. Convenience form for small frames/tests; production
    * pipelines ([[simhashPairs]]) put a persist boundary between the
    * hash pass and the fold — see [[simhashFromHashCol]].
    */
  def withSimhash(df: DataFrame, toksCol: String, outCol: String): DataFrame = {
    val hs = outCol + "__hs"
    df.withColumn(hs, tokenHashes(col(toksCol)))
      .withColumn(outCol, simhashFromHashCol(hs))
      .drop(hs)
  }

  /** Bit-slice keys for SimHash banding: `bands` keys of `bitsPerBand`
    * bits each; docs sharing any key are candidate pairs. Unrolled on
    * the Scala side so each shift amount is a literal.
    */
  def simhashBandKeys(sim: Column, bands: Int = 4, bitsPerBand: Int = 15): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        (shiftright(sim, b * bitsPerBand) % lit(1L << bitsPerBand)).as("key"))
    }: _*)

  /** SimHash near-dup pairs: per-doc 60-bit SimHash → explode bit-slice
    * band keys → self equi-join on (band, key) → Hamming-distance
    * verify. Same no-cross-join plan shape as [[pairsFromShingles]],
    * with an integer signature instead of a shingle set — the cheapest
    * of the near-dup families (one bigint per doc survives the shuffle).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 6,
      bands: Int = 4,
      bitsPerBand: Int = 15,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    val (caches, pairs) =
      simhashPairsLazy(docs, idCol, textCol, maxHamming, bands, bitsPerBand, maxBucket)
    eagerRelease(caches, pairs)
  }

  private[graft] def simhashPairsLazy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bands: Int,
      bitsPerBand: Int,
      maxBucket: Int = LshMaxBucket): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    // md5 token hashes materialized behind a cache boundary so the
    // 60-bit fold reads an attribute (one md5 pass per row, not 60);
    // the signature frame is persisted because the self-join reads it
    // twice and the majority vote (interpreted HOF) is the hot part.
    val withHs = docs.select(col(idCol).as("id"),
        tokenHashes(TextAnalysis.tokens(lower(col(textCol)))).as("hs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withSim = withHs.select(col("id"), simhashFromHashCol("hs").as("sim"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = withSim
      .select(col("id"), col("sim"),
        explode(simhashBandKeys(col("sim"), bands, bitsPerBand)).as("bk"))
      .select(col("id"), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
    // Same hot-bucket guard as the MinHash path ([[splitBuckets]]): a
    // bit-slice key shared by thousands of docs (boilerplate) would
    // make the self-join quadratic in that bucket.
    val capped = splitBuckets(banded, maxBucket)
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.__sub") === col("b.__sub") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    (Seq(withHs, withSim), pairs)
  }

  // ---------------------------------- incremental (new batch vs corpus)

  /** Incremental EXACT dedup — the arrival-time shape of LLM ingest:
    * rows of `batch` whose normalized-text fingerprint does not already
    * appear in `corpus`, with the fingerprint attached for downstream
    * registration. The standing corpus contributes only its DISTINCT
    * fingerprint set (map-side partial aggregation shrinks it before
    * the shuffle; one 32-char key per distinct text), and the match is
    * a LEFT ANTI hash join on that key — no text payload crosses the
    * shuffle from either side, and the corpus is never re-joined to
    * itself. At 100 TB the fingerprint set is the small side and can
    * be maintained as a bucketed table across ingest runs.
    */
  def newAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val corpusFps = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
    batch
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .join(corpusFps, Seq("fingerprint"), "left_anti")
  }

  /** Bloom-prefiltered incremental exact dedup — [[newAgainstCorpus]]
    * with a runtime-filter-style semi-join reduction in front, for the
    * regime where the corpus fingerprint set is too large to broadcast
    * as a hash relation (billions of keys): the anti-join would have
    * to SHUFFLE the batch against the corpus key set. Instead the
    * corpus keys aggregate into one bloom sketch (mergeable map-side
    * partials — each partition emits one sketch, the driver-side
    * result is a single few-hundred-KB scalar), which ships to the
    * batch scan as a scalar subquery; batch rows whose fingerprint the
    * bloom DEFINITELY hasn't seen pass straight through with no join
    * at all, and only the maybe-present rows (true dups + the FP rate)
    * pay the exact anti-join. Result is IDENTICAL to
    * [[newAgainstCorpus]] by construction — the bloom has no false
    * negatives and every positive is verified — which is exactly what
    * the oracle checks. This is the same shape Spark's optimizer
    * injects autonomously (`InjectRuntimeFilter`), built deliberately
    * here because the optimizer only fires it under join-cost
    * conditions it can estimate.
    *
    * For a typical ingest (dup fraction ≪ 1), the expensive join's
    * probe side shrinks from |batch| to |dups| + fpp·|batch| — with
    * the default ~3% fpp, a ~30× reduction of shuffled rows at 5% dup
    * rate. `expectedItems` should be sized at the corpus's distinct
    * fingerprint count; undersizing only raises the FP rate (more
    * rows verified exactly), never changes the result.
    */
  def newAgainstCorpusBloom(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.graft.BloomFunctions
    val corpusFps = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
    val bloom = corpusFps
      .agg(BloomFunctions.bloomFilterAgg(xxhash64(col("fingerprint")), expectedItems).as("bf"))
    val b = batch.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    val maybeSeen = BloomFunctions.mightContainOrFalse(
      bloom.scalar(), xxhash64(col("fingerprint")))
    val definitelyNew = b.filter(!maybeSeen)
    val verifiedNew = b.filter(maybeSeen)
      .join(corpusFps, Seq("fingerprint"), "left_anti")
    definitelyNew.unionByName(verifiedNew)
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct k-word shingles with any document of an
    * evaluation set, as `(doc_id, eval_id, n_shared)` pairs — the
    * standard pretraining hygiene step (eval/test material must be
    * found and excluded from training data, or benchmark numbers are
    * memorized, not earned; the n-gram-overlap definition follows the
    * published GPT-3/PaLM appendix methodology).
    *
    * Shape at scale — this join is deliberately ASYMMETRIC, unlike the
    * dedup self-joins: an eval set is thousands of docs against a
    * corpus of billions, so the eval side's exploded (gram, eval_id)
    * frame is BROADCAST. The corpus side is one scan: shingle →
    * explode → broadcast hash join → map-side-combined count per
    * (doc, eval) pair. One shuffle, sized by the HITS (corpus rows
    * sharing ≥ 1 gram), not the corpus. If the eval set ever outgrows
    * broadcast range the same plan downgrades to a shuffled hash join
    * on the gram key — remove the hint, nothing else changes.
    *
    * Filter training data with
    * `corpus.join(result.select("doc_id").distinct(), Seq(idCol), "left_anti")`.
    */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      minShared: Long = 5): DataFrame =
    decontaminate(corpus, evalSet, idCol, textCol, Seq(shingleK), minShared)
      .select(col("doc_id"), col("eval_id"), col("n_shared"))

  /** `decontaminate` at several shingle orders in ONE pass, as
    * `(n_gram, doc_id, eval_id, n_shared)` pairs tagged with their
    * order. Each document is tokenized once; one explode emits the
    * distinct grams of every order, and the eval side, broadcast, join
    * and pair aggregate all key on `(n_gram, gram)`, so a parameter
    * curve over orders pays one corpus pass instead of one per order.
    * Filtered to one `n_gram`, the rows equal the single-order call.
    */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      shingleKs: Seq[Int],
      minShared: Long): DataFrame = {
    require(shingleKs.nonEmpty && shingleKs.distinct == shingleKs,
      s"shingle orders must be non-empty and distinct: got $shingleKs")
    def grams(df: DataFrame, outId: String): DataFrame = df
      .select(col(idCol).as(outId),
        TextAnalysis.tokens(lower(coalesce(col(textCol), lit("")))).as("__toks"))
      .select(col(outId), inline(flatten(array(shingleKs.map(k =>
        transform(wordShingles(col("__toks"), k),
          g => struct(lit(k).as("n_gram"), g.as("gram")))): _*))))
    // The eval side is PRE-AGGREGATED to (n_gram, gram, eval_id,
    // multiplicity) before the broadcast (round 17, guide §2.3
    // "aggregate before you shuffle" / §3.3 "explode before a join
    // multiplies"): joining raw occurrence rows multiplied the matched-pair frame by the eval
    // side's within-doc gram multiplicity and broadcast one relation
    // row per eval occurrence. n_shared is unchanged — the occurrence-
    // pair count equals Σ_gram (corpus occurrences × eval multiplicity),
    // which the sum below computes exactly (probed: the decontaminate
    // noop dropped 3.7 s → ~1 s warm at sf0.1 and every pretrain
    // composite carries this node).
    val evalGramCounts = grams(evalSet, "eval_id")
      .groupBy(col("n_gram"), col("gram"), col("eval_id"))
      .agg(count(lit(1)).as("__me"))
    grams(corpus, "doc_id")
      .join(broadcast(evalGramCounts), Seq("n_gram", "gram"))
      .groupBy(col("n_gram"), col("doc_id"), col("eval_id"))
      .agg(sum(col("__me")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental NEAR-dup: batch rows that SimHash-near-match (hamming
    * <= `maxHamming`) something already in the corpus, as
    * `(id_b = batch id, id_c = corpus id, hamming)` pairs. Candidates
    * come from the same bit-slice band keys as [[simhashPairs]], but
    * the equi-join runs batch-banded × corpus-banded — arrival-time
    * dedup never pays a corpus self-join, the candidate space scales
    * with |batch| (not |corpus|²), and the shuffle carries one bigint
    * signature + band key per (row × band) from each side. Eager — see
    * `eagerRelease`. Filter `batch` down to
    * `batch.join(pairs.select("id_b"), ..., "left_anti")` to keep only
    * genuinely-new docs.
    */
  def nearDupsAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 6,
      bands: Int = 4,
      bitsPerBand: Int = 15,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    val (caches, pairs) =
      nearDupsAgainstCorpusLazy(corpus, batch, idCol, textCol, maxHamming, bands, bitsPerBand,
        maxBucket)
    eagerRelease(caches, pairs)
  }

  private[graft] def nearDupsAgainstCorpusLazy(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bands: Int,
      bitsPerBand: Int,
      maxBucket: Int = LshMaxBucket): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    // Per side: md5 token hashes behind a cache boundary (the majority-
    // vote fold reads the attribute once per bit — an inlined hash
    // expression would re-run the md5 pass 60× per row). The sim frames
    // themselves are each read once, so they need no persist here.
    def sideSim(df: DataFrame): (DataFrame, DataFrame) = {
      val withHs = df.select(col(idCol).as("id"),
          tokenHashes(TextAnalysis.tokens(lower(col(textCol)))).as("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (withHs, withHs.select(col("id"), simhashFromHashCol("hs").as("sim")))
    }
    def bandedOf(sim: DataFrame): DataFrame = sim
      .select(col("id"), col("sim"),
        explode(simhashBandKeys(col("sim"), bands, bitsPerBand)).as("bk"))
      .select(col("id"), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
    val (hsC, simC) = sideSim(corpus)
    val (hsB, simB) = sideSim(batch)
    // Corpus-side hot-bucket SPLIT + batch ROUTING
    // ([[splitBucketsWithRouting]]): candidates are bounded by
    // |batch| × bands × maxBucket instead of |batch| × bands ×
    // largest-corpus-bucket — the guard that keeps one boilerplate
    // band key in a billion-doc corpus from multiplying every
    // matching batch row by millions — while every corpus member
    // stays reachable (the round-15 drop posture zeroed hot-bucket
    // recall). The batch side stays unchunked (it is small by the
    // operator's contract) and routes to one corpus chunk per band.
    // Persisted: the split's bucket count and the join both read it,
    // and the 60-bit majority-vote fold behind it is the expensive
    // part.
    val bandedC = bandedOf(simC)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cappedC, hotC) = splitBucketsWithRouting(bandedC, maxBucket)
    val pairs = routeToChunks(bandedOf(simB), hotC, "id").as("b")
      .join(cappedC.as("c"),
        col("b.band") === col("c.band") && col("b.key") === col("c.key") &&
          col("b.__sub") === col("c.__sub"))
      .select(col("b.id").as("id_b"), col("c.id").as("id_c"),
        bit_count(col("b.sim").bitwiseXOR(col("c.sim"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    (Seq(hsC, hsB, bandedC), pairs)
  }

  /** Incremental cluster maintenance: fold a batch's near-dup pairs
    * into a STANDING cluster assignment without re-running global
    * connected components over the corpus (round-4 "What's missing"
    * #2 — [[newAgainstCorpus]]/[[nearDupsAgainstCorpus]] emit the
    * pairs; this is the operator that consumes them).
    *
    * Inputs: `pairs` is (id_a, id_b) — within-batch matches plus
    * batch-vs-corpus matches, in any mix; an id counts as a CORPUS doc
    * iff it appears in `existing` (id, cluster_rep), which should
    * cover EVERY corpus doc (singletons as id → id), the shape a
    * maintained assignment table naturally has. Corpus-×-corpus pairs
    * are ignored: the standing assignment is immutable here.
    *
    * Rule (and its one deliberate divergence from a full recompute):
    *   1. batch docs connected to each other cluster first — CC over
    *      the batch-only pair subset, batch-cardinality;
    *   2. a batch COMPONENT any member of which matched a corpus doc
    *      adopts the smallest matched `cluster_rep` (transitive: a doc
    *      linked only through batch edges to the matcher adopts too,
    *      exactly as a full recompute would);
    *   3. an unmatched component keeps its smallest batch id as rep.
    * A batch doc bridging TWO standing clusters adopts the smaller rep
    * but does NOT merge them — reps are sticky by design (merging is
    * global CC's job on the next full rebuild). Equivalently: results
    * equal a full recompute whenever the batch neither bridges
    * standing clusters nor carries ids smaller than a standing rep
    * (arrival-order ids satisfy the latter by construction).
    *
    * Scale: every shuffle is bounded by the batch pair set — two
    * (batch-cardinality) joins against `existing` for endpoint
    * classification, CC on batch-only edges, and a component-sized
    * min. The corpus itself never moves; `existing` joins as the
    * small(er) side, bucketable across ingest runs.
    */
  def assignToClusters(pairs: DataFrame, existing: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val ex = existing.select(col("id"), col("cluster_rep"))
    // Classify each endpoint: rep_a/rep_b non-null = corpus side.
    val classified = pairs.select(col("id_a"), col("id_b"))
      .join(ex.select(col("id").as("id_a"), col("cluster_rep").as("rep_a")), Seq("id_a"), "left")
      .join(ex.select(col("id").as("id_b"), col("cluster_rep").as("rep_b")), Seq("id_b"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bb = classified.filter(col("rep_a").isNull && col("rep_b").isNull)
      .select(col("id_a"), col("id_b"))
    // (batch id, standing rep it matched) — both edge orientations.
    val adoptions = classified.filter(col("rep_a").isNull && col("rep_b").isNotNull)
      .select(col("id_a").as("id"), col("rep_b").as("rep"))
      .union(classified.filter(col("rep_b").isNull && col("rep_a").isNotNull)
        .select(col("id_b").as("id"), col("rep_a").as("rep")))
    // The CC below runs EAGER jobs, so the guard must already cover it:
    // a failure mid-CC would otherwise leak the persisted `classified`
    // for the session lifetime (the partially-materialized-entry leak
    // eagerRelease exists to prevent — but eagerRelease only guards
    // the final checkpoint, which hasn't started yet at that point).
    try {
      // Batch-only components (min-id labels); docs with no batch edge
      // are their own singleton component.
      val comps = dedupClusters(bb)
      val allBatch = bb.select(col("id_a").as("id"))
        .union(bb.select(col("id_b").as("id")))
        .union(adoptions.select(col("id")))
        .distinct()
      val withComp = allBatch
        .join(comps.select(col("id"), col("cluster_rep").as("comp")), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      val compAdopt = withComp.join(adoptions, Seq("id"), "left")
        .groupBy(col("comp"))
        .agg(min(col("rep")).as("adopted"))
      val result = withComp.join(compAdopt, Seq("comp"))
        .select(col("id"), coalesce(col("adopted"), col("comp")).as("cluster_rep"))
      // comps' storage is CHECKPOINT blocks (the CC labels), which
      // Dataset.unpersist cannot free — release them directly once the
      // result checkpoint has materialized.
      try CheckpointBlocks.cut(result)
      finally CheckpointBlocks.release(comps)
    } finally classified.unpersist()
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * prune documents whose EMBEDDINGS are near-identical — paraphrases,
    * templated boilerplate, machine translations — that no lexical
    * method (MinHash/SimHash/n-gram) can see. The paper's recipe,
    * re-expressed Spark-first:
    *
    *   1. Assign every vector to its nearest trained centroid
    *      (broadcast argmax over k cells — the [[Similarity.ivfAssign]]
    *      shape, all-double rounded-6dp cosine with lowest-centroid-id
    *      tie-break, `sim_c` = the winning similarity captured in the
    *      SAME aggregate, no second pass).
    *   2. Within each cell only, score all pairs (the equi-join on
    *      `cell` — NEVER corpus all-pairs; the cluster count k is the
    *      knob that bounds the quadratic: sizing k ∝ corpus keeps
    *      Σ|cell|² ≈ N·(N/k) linear in N, exactly how the paper runs
    *      32 TB of LAION). Pairs at rounded-6dp cosine ≥ `minCosine`
    *      are semantic duplicates.
    *   3. Duplicate GROUPS are the connected components of the pair
    *      graph ([[dedupClusters]] — min-label, checkpoint-cut rounds).
    *   4. Keep ONE representative per group: the member with the
    *      LOWEST similarity to its centroid (the paper's
    *      diversity-preserving choice — keep the outlier, drop the
    *      redundant core; ties break to the lower id).
    *
    * Returns one row per vector that belongs to some duplicate group:
    * (`id`, `cell`, `cluster_rep`, `sim_c`, `keep` ∈ {0, 1}) — the
    * removal list is `keep = 0`; vectors in no group are implicitly
    * kept and don't appear (their "group" is themselves).
    *
    * Exactness contract: `centroids` are [[Similarity.kmeansFit]]
    * output (6-dp decimal means, ~9 significant digits), so every
    * cosine here runs the all-double
    * [[graft.functions.VectorFunctions.cosineFastD]] path — the same
    * expression the training loop assigns by — and an all-double
    * oracle replays bit-identically; `keep` is an integer, not a
    * boolean, per the engine-portability house rule.
    *
    * Scale: the assignment is one broadcast (k × dim) crossJoin +
    * corpus-cardinality argmax; the member frame is checkpoint-cut
    * ONCE (it feeds both self-join sides AND the output re-attach —
    * the branch re-execution idiom); the pair join shuffles on `cell`
    * (k keys — pick k ≥ shuffle parallelism at scale, which the
    * k ∝ corpus sizing gives for free); CC is edge-cardinality; the
    * keep rule is one component-cardinality aggregate joined back on
    * its own unique key. The corpus vectors ride only the
    * within-cell pair join, nothing corpus² ever materializes.
    * `maxCell > 0` additionally bounds any single DEGENERATE cell's
    * |cell|² term by rank-splitting over-cap cells into sub-cells —
    * see `semDedupScoredPairs` for the split rule and its recall
    * contract, [[hotCellStats]] for the audit.
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      minCosine: Double,
      maxCell: Int = 0): DataFrame = {
    // One materialization, three readers (both pair-join sides + the
    // output re-attach) — uncut, the whole assignment (a corpus × k
    // scoring pass, with max(sim) = the winning cell's similarity
    // captured in the same aggregate) would re-execute per branch.
    val members = semDedupMembers(emb, idCol, vecCol, centroids)
    val pairs = semDedupScoredPairs(members, minCosine, maxCell)
      .select(col("id_a"), col("id_b"))
    val groups = dedupClusters(pairs)
    val out = groups
      .join(members.select(col("id"), col("cell"), col("sim_c")), Seq("id"))
    // Keep the member FARTHEST from its centroid (min sim_c, tie → min
    // id): one row per component, joined back on the component key.
    val keepers = out.groupBy(col("cluster_rep"))
      .agg(min_by(col("id"), struct(col("sim_c"), col("id"))).as("__keep_id"))
    out.join(keepers, Seq("cluster_rep"))
      .select(col("id"), col("cell"), col("cluster_rep"), col("sim_c"),
        (col("id") === col("__keep_id")).cast("int").as("keep"))
  }

  /** The within-cell scored pair join shared by [[semDedup]] and the
    * θ tuning curve: `members` is an assigned (id, cell, vec) frame
    * (cut by the caller — BOTH join sides read it); emits
    * `(id_a, id_b, cos)` for within-cell pairs at rounded-6dp cosine
    * ≥ `minCosine`. The filter compares the SAME rounded value the
    * column carries, so a curve computed once at its loosest θ and
    * re-filtered per arm is bit-identical to running each arm alone.
    *
    * `maxCell > 0` arms the HOT-CELL occupancy cap (the round-14
    * watch item): k ∝ √N bounds Σ|cell|² only when occupancy is
    * roughly balanced — one degenerate cell (a boilerplate embedding
    * crowd, a zero-vector sink) re-quadratizes its own |cell|² term
    * regardless of k. Over-cap cells are SPLIT, not dropped (the
    * round-15 drop posture would forfeit exactly the dups a hot
    * cell concentrates): members rank within their cell by
    * (`sim_c` asc, id asc) — the SAME total order the keep rule uses,
    * deterministic and oracle-replayable — and consecutive rank
    * chunks of `maxCell` become sub-cells; pairs are scored within
    * (cell, sub-cell) only. Candidates per cell drop from |c|² to
    * ⌈|c|/cap⌉·cap², linear in |c| at fixed cap. The recall trade is
    * principled: near-duplicate vectors have near-equal centroid
    * similarity (cos(a,c) and cos(b,c) differ by at most the angular
    * diameter of the dup pair), so dup groups sit CONTIGUOUS in the
    * sim_c ranking and only groups straddling a chunk boundary lose
    * pairs — the same lossy-by-decree class as [[splitBuckets]], but
    * split-not-drop keeps every member eligible within its chunk.
    * The rank is one sort-based window partitioned BY CELL (occupancy-
    * sized partitions, spillable — the honest linear cost that
    * replaces the quadratic join). Default 0 = off: the uncapped plan
    * is byte-identical to round 14's.
    */
  private[graft] def semDedupScoredPairs(
      members: DataFrame,
      minCosine: Double,
      maxCell: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions
    val left =
      if (maxCell <= 0) members
      else members.withColumn("__sub",
        ((row_number().over(Window.partitionBy(col("cell"))
          .orderBy(col("sim_c"), col("id"))) - 1) / maxCell).cast("long"))
    val a = left.select(Seq(col("id").as("id_a"), col("cell"),
      col("vec").as("__va")) ++
      (if (maxCell > 0) Seq(col("__sub").as("__sa")) else Nil): _*)
    val b = left.select(Seq(col("id").as("id_b"), col("cell").as("__cb"),
      col("vec").as("__vb")) ++
      (if (maxCell > 0) Seq(col("__sub").as("__sb")) else Nil): _*)
    val cond0 = col("cell") === col("__cb") && col("id_a") < col("id_b")
    val cond = if (maxCell > 0) cond0 && col("__sa") === col("__sb") else cond0
    a.join(b, cond)
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosineFastD(col("__va"), col("__vb")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** (cells over `maxCell`, largest cell) for an assigned member
    * frame — [[hotBucketStats]]' semantic-family twin, the
    * observability half of the hot-cell cap: audits what
    * `semDedupScoredPairs(maxCell)` would split without running the
    * join. One map-side-combinable aggregate at cell cardinality.
    */
  def hotCellStats(members: DataFrame, maxCell: Int): (Long, Long) = {
    val row = members.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > maxCell, 1L).otherwise(0L)).as("n_hot"),
        max(col("n")).as("max_n"))
      .head()
    (if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** [[semDedup]]'s assignment stage, factored for the θ curve: one
    * broadcast argmax pass over `centroids`, emitting the CUT
    * (id, cell, sim_c, vec) member frame.
    */
  private[graft] def semDedupMembers(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    val cents = broadcast(centroids.select(col("c_id"),
      col("c_vec").cast("array<double>").as("c_vec")))
    CheckpointBlocks.cut(emb
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
      .crossJoin(cents)
      .select(col("id"), col("vec"), col("c_id"),
        round(VectorFunctions.cosineFastD(col("vec"), col("c_vec")), 6).as("sim"))
      .groupBy("id")
      .agg(
        max_by(col("c_id"), struct(col("sim"), (col("c_id") * -1).as("tb"))).as("cell"),
        max(col("sim")).as("sim_c"),
        first(col("vec")).as("vec")))
  }

  /** Incremental SEMANTIC near-dup — [[semDedup]]'s arrival-time
    * sibling, completing the incremental family (SimHash
    * [[newAgainstCorpus]], embedding-LSH
    * [[Similarity.nearDupsAgainstCorpusEmbed]], and now the
    * centroid-routed semantic modality): batch vectors that
    * semantically duplicate something in the STANDING corpus, as
    * `(id_b, id_c, cos)` pairs at rounded-6dp cosine ≥ `minCosine`.
    * `centroids` is the frozen training artifact and `members` the
    * offline-assigned corpus (`semDedupMembers` output or its
    * parquet round-trip) — arrival-time checking never re-trains and
    * never pays a corpus self-join: the batch assigns with one
    * broadcast argmax pass and candidates come from the cell
    * equi-join, batch-assignment-row × cell-occupancy work. Same
    * candidate discipline as the offline pass, so online and offline
    * agree on where duplicates can hide; the streaming twin
    * [[graft.streaming.StreamingOps.semDedupStream]] runs the same
    * `semDedupCorpusPairs` join. All-double
    * scoring (the trained-centroid exactDouble contract).
    */
  def semDedupAgainstCorpus(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      members: DataFrame,
      minCosine: Double): DataFrame =
    semDedupCorpusPairs(
      semDedupMembers(batch, idCol, vecCol, centroids), members, minCosine,
      DocGrouping.ByDoc)
      .select(col("id_b"), col("id_c"), col("cos"))

  /** The batch-assigned × standing-members scored cell join shared by
    * [[semDedupAgainstCorpus]], [[semDedupAdmit]] and the streaming
    * admission gate: `b` is an assigned (id, cell, vec) frame
    * ([[semDedupMembers]] output — already cut, both batch callers read
    * it once here), `members` the standing corpus assignment; emits
    * `(id_b, cell, id_c, cos)` at rounded-6dp cosine ≥ `minCosine`.
    */
  private[graft] def semDedupCorpusPairs(
      b: DataFrame,
      members: DataFrame,
      minCosine: Double,
      g: DocGrouping): DataFrame = {
    import graft.functions.VectorFunctions
    b.select(g.keys(col("id").as("id_b"), col("cell"), col("vec").as("__vb")): _*)
      .join(members.select(col("id").as("id_c"), col("cell").as("__cc"),
          col("vec").as("__vc")),
        col("cell") === col("__cc") && col("id_b") =!= col("id_c"))
      .select(g.keys(col("id_b"), col("cell"), col("id_c"),
        round(VectorFunctions.cosineFastD(col("__vb"), col("__vc")), 6).as("cos")): _*)
      .filter(col("cos") >= minCosine)
  }

  /** The ADMITTED rows of an arrival batch, as member rows ready to
    * join the standing corpus: assign the batch once (one broadcast
    * argmax — the [[semDedupAgainstCorpus]] discipline), find
    * arrivals with a standing semantic dup via the cell equi-join,
    * and return the batch-member rows (`id`, `cell`, `sim_c`, `vec`)
    * that matched NOTHING. Within-batch duplicates are admitted
    * TOGETHER by contract — the arrival gate checks the STANDING
    * corpus only (exactly what [[semDedupAgainstCorpus]] and the
    * streaming twin verify), and intra-batch redundancy is resolved
    * by the next full offline [[semDedup]] — the [[assignToClusters]]
    * "merges deferred to the next full rebuild" posture, stated
    * rather than hidden.
    *
    * Scale: the batch assigns once (cut inside `semDedupMembers` —
    * the pair join and the anti-join both read the same blocks);
    * candidates ride the cell equi-join at batch × cell-occupancy
    * cardinality; the anti-join is batch-sized. The corpus is never
    * re-trained, never self-joined.
    */
  def semDedupAdmit(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      members: DataFrame,
      minCosine: Double): DataFrame = {
    val b = semDedupMembers(batch, idCol, vecCol, centroids)
    val dupIds = semDedupCorpusPairs(b, members, minCosine, DocGrouping.ByDoc)
      .select(col("id_b").as("id")).distinct()
    b.join(dupIds, Seq("id"), "left_anti")
  }

  /** Complete the D25d ingest loop: the standing `members` frame plus
    * the batch's [[semDedupAdmit]]ted rows — the semantic family's
    * [[assignToClusters]] analog (corpus maintenance without
    * retraining or recomputing anything corpus-sized). Because
    * assignment is per-row under FROZEN centroids, folding is exact:
    * fold(members(C), B) ≡ members(C ∪ admitted(B)) — a full rebuild
    * over the grown corpus, unit-pinned. Persistence of the grown
    * frame is [[graft.streaming.StreamingOps.upsertBatch]] on key
    * `id` (admitted ids are new, so the merge is a pure append) —
    * the D20 write-then-swap posture, idempotent under replays.
    */
  def semDedupFoldBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      members: DataFrame,
      minCosine: Double): DataFrame =
    members.unionByName(
      semDedupAdmit(batch, idCol, vecCol, centroids, members, minCosine))

  /** EXACT similarity self-join with prefix filtering (the AllPairs /
    * PPJoin candidate rule — Bayardo et al. WWW'07, Xiao et al.
    * ICDE'08): the recall-1.0 complement of MinHash banding. Order
    * every doc's distinct shingle set by ONE global rarity order
    * (document frequency asc, shingle asc — a total order both
    * engines sort identically), and index only each doc's PREFIX of
    * length |d| − ⌈t·|d|⌉ + 1. Completeness is the pigeonhole
    * argument, not a probability: for any pair with jac ≥ t, the
    * globally-earliest shared shingle m has at most |A| − ⌈t·|A|⌉
    * tokens of A\B before it (everything earlier than m that A holds
    * is outside A∩B), so m sits inside BOTH prefixes — every
    * qualifying pair shares an indexed shingle. MinHash banding
    * misses pairs at measured rates (D24: 0.96 recall at 2×8); this
    * join cannot, and it prunes WITHOUT the lossy hot-bucket cap:
    * prefixes hold each doc's RAREST shingles, so posting lists are
    * short by construction rather than by decree.
    *
    * The threshold is a RATIONAL (`tNum`/`tDen`), and both the prefix
    * length (⌈tNum·|d|/tDen⌉ via integer (2n + den − 1) div den) and
    * the verify test (|∩|·tDen ≥ |∪|·tNum) run in pure integers — no
    * floating threshold anywhere, so the cross-engine agreement is
    * arithmetic identity, stronger than the rounded-double ≥ tests
    * the probabilistic family needs. The emitted `jac` is display
    * only.
    *
    * Scale: one corpus shingle pass; the df aggregate is
    * shingle-vocabulary-sized; the candidate join shuffles prefix
    * postings (≈ 0.6·Σ|d| rows, each keyed by a rare shingle); the
    * verify re-attaches full sets at candidate cardinality. The
    * ordered-set frame is cut ONCE (posting side ×2 + verify side
    * ×2 read it).
    */
  def prefixFilterPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      tNum: Int,
      tDen: Int): DataFrame = {
    require(tNum >= 1 && tDen > tNum,
      s"threshold must be a rational in (0,1): got $tNum/$tDen")
    val sets = docs
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(lower(coalesce(col(textCol), lit("")))).as("__toks"))
      .select(col("id"), explode(wordShingles(col("__toks"), shingleK)).as("s"))
    val dfc = sets.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ordered = CheckpointBlocks.cut(sets.join(dfc, Seq("s"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
        t => t.getField("s")).as("osh"))
      .select(col("id"), col("osh"),
        slice(col("osh"), lit(1), expr(
          s"size(osh) - (($tNum * size(osh) + ${tDen - 1}) div $tDen) + 1"))
          .as("pre")))
    val post = ordered.select(col("id"), explode(col("pre")).as("s"))
    val cand = post.select(col("id").as("id_a"), col("s"))
      .join(post.select(col("id").as("id_b"), col("s")),
        Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(ordered.select(col("id").as("id_a"), col("osh").as("__sa")), Seq("id_a"))
      .join(ordered.select(col("id").as("id_b"), col("osh").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("__i"),
        (size(col("__sa")) + size(col("__sb"))).cast("long").as("__ab"))
      .filter(col("__i") * tDen >= (col("__ab") - col("__i")) * tNum &&
        (col("__ab") - col("__i")) > 0)
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / (col("__ab") - col("__i")).cast("double"), 6)
          .as("jac"))
  }

  /** LSH band-configuration tuning curve: for a FIXED `numHashes`-long
    * MinHash signature, measure what each (bands × rowsPerBand) split
    * buys — candidate-pair recall and precision against exact-Jaccard
    * ground truth at `threshold` — one row per configuration. This is
    * the dedup family's deployment tuning table, the analog of the ANN
    * nprobe/ncells curves (reference behavior: the pipeline dedups at
    * one fixed band split; this query prices that choice): the
    * theoretical S-curve P(candidate | jac = s) = 1 − (1 − s^r)^b says
    * more bands → higher recall and more (wasted) candidates; the
    * curve measures it on the real corpus, and the oracle replays
    * every hash, so a wrong band slice anywhere hash-fails.
    *
    * Ground truth is COMPLETE, not sampled, and never all-pairs: any
    * pair with jac ≥ threshold > 0 shares at least one shingle, so the
    * shingle-hash inverted-index self-join (posting lists over
    * `maxBucket` docs dropped — deliberately a DROP, unlike the
    * `splitBuckets` production posture, because here the posting
    * join only builds ground TRUTH and a hot shingle
    * that frequent carries no pair evidence a rarer shared shingle
    * doesn't also carry) is a superset of truth, then exact Jaccard
    * verifies. At 100 TB that join is Σ|posting|² bounded by the cap —
    * corpus-linear for natural shingle distributions — while all-pairs
    * truth would be |corpus|² and is exactly what this query exists to
    * avoid pricing.
    *
    * Plan shape: shingle hashes materialized ONCE (persist; every
    * config and the truth side reuse them), truth pairs checkpointed
    * ONCE (read per config), then per config: band keys → capped
    * self-join → distinct candidates → tag-union-group intersection
    * with truth ([[Similarity.recallVsTruth]]'s join-free idiom —
    * candidates and truth share the corpus lineage, so a direct join
    * trips DetectAmbiguousSelfJoin) → one global aggregate row. Rows
    * union at |configs| cardinality.
    */
  def lshTuningCurve(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int,
      threshold: Double,
      configs: Seq[(Int, Int)],
      maxBucket: Int = LshMaxBucket): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // One kernel pass computes both the hash sets (truth side) and the
    // fixed numHashes-long signature every config slices differently.
    val sigs = shingleSignatures(docs, idCol, textCol, "word", shingleK, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val hv = sigs.select(col("id"), array_distinct(col("sh")).as("hv"))
      val posting = hv.select(col("id"), explode(col("hv")).as("h"))
      val hotShingles = posting.groupBy(col("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket)
        .select(col("h"))
      val cappedPost = posting.join(hotShingles, Seq("h"), "left_anti")
      // Truth verify by COUNTING, not per-pair array_intersect (round
      // 18, guide §2.3 "aggregate before you shuffle"): the posting
      // self-join emits one row per SHARED shingle, so grouping it
      // counts |hv_a ∩ hv_b| over the capped postings directly —
      // map-side combinable, no signature arrays shipped per pair
      // (the array_intersect verify over every shingle-sharing pair
      // was the measured bulk of this query: 35 s CPU in one stage at
      // sf0.1). Hot shingles are excluded from candidates (the
      // documented drop) but still count toward the full-array
      // intersection the old verify computed, so candidate pairs get
      // a hot-shared correction joined back (candidate × per-doc hot
      // postings — both sides small by the cap's own argument). The
      // jaccard is then the IDENTICAL division of identical integers:
      // i / (|hv_a| + |hv_b| − i), same 6-dp round, same >= compare.
      val interCapped = cappedPost.as("a")
        .join(cappedPost.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("__ic"))
      val hotPost = posting.join(hotShingles, Seq("h"))
      val hotShared = interCapped.select(col("id_a"), col("id_b"))
        .join(hotPost.select(col("id").as("id_a"), col("h")), Seq("id_a"))
        .join(hotPost.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("__ih"))
      val hvSizes = hv.select(col("id"), size(col("hv")).as("__n"))
      val truth = interCapped
        .join(hotShared, Seq("id_a", "id_b"), "left")
        .join(hvSizes.select(col("id").as("id_a"), col("__n").as("__na")), Seq("id_a"))
        .join(hvSizes.select(col("id").as("id_b"), col("__n").as("__nb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (col("__ic") + coalesce(col("__ih"), lit(0L))).cast("double").as("__i"),
          (col("__na") + col("__nb")).cast("double").as("__ab"))
        .filter(round(
          when(col("__ab") - col("__i") === 0.0, lit(0.0))
            .otherwise(col("__i") / (col("__ab") - col("__i"))), 6) >= threshold)
        .select(col("id_a"), col("id_b"))
      val truthCut = CheckpointBlocks.cut(truth)
      try {
        val rows = configs.map { case (b, r) =>
          require(b * r == numHashes, s"bands($b) x rows($r) != $numHashes")
          val banded = sigs.filter(size(col("sg")) > 0)
            .select(col("id"), explode(lshBandKeys(col("sg"), b, r)).as("bk"))
            .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
          val capped = splitBuckets(banded, maxBucket)
          val cand = capped.as("a")
            .join(capped.as("b"),
              col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
                col("a.__sub") === col("b.__sub") && col("a.id") < col("b.id"))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
            .distinct()
          // Tag-union-group intersection (recallVsTruth's join-free
          // idiom): candidates and truth share the corpus lineage, so
          // a direct join would trip DetectAmbiguousSelfJoin.
          val t = truthCut.select(col("id_a"), col("id_b"),
            lit(1L).as("__t"), lit(0L).as("__a"))
          val a = cand.select(col("id_a"), col("id_b"),
            lit(0L).as("__t"), lit(1L).as("__a"))
          t.unionByName(a)
            .groupBy(col("id_a"), col("id_b"))
            .agg(max(col("__t")).as("__in_t"), max(col("__a")).as("__in_a"))
            .agg(
              sum(col("__in_a")).cast("bigint").as("n_cand"),
              sum(col("__in_t")).cast("bigint").as("n_truth"),
              sum(col("__in_t") * col("__in_a")).cast("bigint").as("n_hit"))
            .select(
              lit(b).as("bands"), lit(r).as("rows_per_band"),
              col("n_cand"), col("n_truth"), col("n_hit"),
              round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
                .as("recall"),
              when(col("n_cand") === 0L, lit(null).cast("double"))
                .otherwise(round(col("n_hit").cast("double") / col("n_cand").cast("double"), 6))
                .as("precision"))
        }
        // The curve is |configs| rows -- cut it eagerly so the cache
        // and the truth checkpoint can be released here (the
        // eagerRelease posture: materialize the small output, free the
        // corpus-sized internals).
        CheckpointBlocks.cut(rows.reduce(_.unionByName(_)))
      } finally CheckpointBlocks.release(truthCut)
    } finally sigs.unpersist()
  }

  /** Cross-document EXACT-SUBSTRING dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr variant): CUT from every document each token
    * span that also appears VERBATIM in another document, keeping
    * one canonical copy corpus-wide. This is the dedup tier the
    * fuzzy family (MinHash D2, SimHash D7, SemDeDup D25) cannot
    * express — those drop or cluster whole DOCUMENTS; production
    * pipelines additionally excise repeated passages (licenses,
    * quoted boilerplate, syndicated paragraphs) from documents that
    * are otherwise unique, which the paper shows measurably improves
    * the trained LM.
    *
    * The paper builds one corpus-wide suffix array — a single-machine
    * data structure with no distributed equivalent. The Spark-native
    * re-expression indexes every n-token window by a 128-bit md5
    * fingerprint of its space-joined tokens (case-SENSITIVE — "exact"
    * means exact; whitespace runs normalize to single spaces, the
    * [[TextAnalysis.dupNgramCoverage]] tokenizer contract, so output
    * text is whitespace-normalized BY CONTRACT even for untouched
    * docs):
    *
    *   1. gram windows: one (doc_id, pos, fp) row per n-token window
    *      (in-row transform over the token array, then ONE explode —
    *      the token array never rides the exploded rows);
    *   2. gram index: fp → (n_docs, keep_doc=min doc_id) via the
    *      two-step distinct-doc count (rows of the (fp, doc) frame
    *      ARE distinct docs — no count-distinct Expand), filtered to
    *      n_docs ≥ 2;
    *   3. flagged windows: windows equi-join the index on fp where
    *      doc_id > keep_doc — every occurrence OUTSIDE the gram's
    *      minimum doc is removed, so exactly the copy in the
    *      globally-first document survives (the paper's
    *      keep-one-occurrence rule with doc_id as the total order).
    *      Within-doc repeats of a doc's OWN text are not touched —
    *      that is T23c's within-doc metric, a different knob;
    *   4. per-doc interval UNION: token p is cut iff some flagged
    *      start i satisfies i ≤ p ≤ i+n−1. Maximal duplicated spans
    *      LONGER than n fall out by construction — every length-n
    *      window inside them is flagged and the union excises the
    *      whole span, the suffix-array outcome at granularity n.
    *      Kept tokens re-join with single spaces in document order.
    *
    * Determinism: both engines group/join on the SAME md5 hex of the
    * SAME gram string, so results agree bit-for-bit by construction;
    * a 128-bit collision (≈ |grams|²·2⁻¹²⁸, vanishing at any corpus
    * size) would change both engines identically.
    *
    * Scale shape (the reason this beats a literal suffix-array port):
    * the gram explode is narrow (recomputed per reader from the scan
    * — cheaper than checkpointing a corpus×n frame); the index
    * aggregate is partial-aggregatable (min + count combine
    * map-side), so a boilerplate gram in 10⁶ docs is ONE index row —
    * and the flag join fans each window row to AT MOST ONE row.
    * Unlike LSH bucket self-joins there is NO posting-list n² term
    * anywhere, hence no hot-gram cap is needed. The only per-doc
    * materialization is the flagged-starts list, bounded by
    * tokens-per-doc (length-bounded upstream — the
    * [[TextAnalysis.chunkDocs]] gate contract).
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text) — one row per
    * input doc; docs shorter than n tokens (or with null/empty text)
    * pass through uncut with their whitespace normalized.
    */
  def exactSubstrDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val toks = substrToks(docs, idCol, textCol)
    // Two readers (index aggregate, flag join) RECOMPUTE the gram
    // explode on purpose: a checkpoint cut was measured cost-neutral
    // at sf1 (6.7 vs 6.9 s) and at 100 TB it would materialize a
    // corpus x tokens x 44-byte frame — recompute is the scale call.
    val grams = substrGrams(toks, n)
    val idx = grams
      .groupBy(col("fp"), col("doc_id")).agg(count(lit(1)).as("__m"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("fp"), col("keep_doc"))
    val flagged = grams.join(idx, Seq("fp"))
      .filter(col("doc_id") > col("keep_doc"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    substrCut(toks, flagged, n)
  }

  /** [[exactSubstrDedup]]'s tokenizer: (doc_id, token array). */
  private[graft] def substrToks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      g: DocGrouping = DocGrouping.ByDoc): DataFrame = {
    val t = filter(TextAnalysis.tokens(coalesce(col(textCol), lit(""))),
      x => x =!= "")
    g.source(docs).select(g.keys(col(idCol).cast("long").as("doc_id"), t.as("__t")): _*)
  }

  /** The n-token windows of token array `t` as (pos, fp) structs —
    * `fp` the md5 of the space-joined window; empty below n tokens.
    */
  private[graft] def substrGramArray(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => struct(i.as("pos"), md5(concat_ws(" ", slice(t, i, lit(n)))).as("fp"))))
      .otherwise(expr("array()").cast("array<struct<pos:int,fp:string>>"))

  /** [[exactSubstrDedup]]'s gram windows: one (doc_id, pos, fp) row
    * per n-token window — in-row transform then ONE explode, the
    * token array never rides the exploded rows.
    */
  private[graft] def substrGrams(toks: DataFrame, n: Int): DataFrame =
    toks
      .select(col("doc_id"), substrGramArray(col("__t"), n).as("__g"))
      .select(col("doc_id"), explode(col("__g")).as("__w"))
      .select(col("doc_id"), col("__w.pos").as("pos"), col("__w.fp").as("fp"))

  /** [[exactSubstrDedup]]'s interval-union cut: remove every token
    * covered by a flagged window start, re-join survivors.
    */
  private[graft] def substrCut(
      toks: DataFrame, flagged: DataFrame, n: Int): DataFrame =
    substrKeep(toks.join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__t"),
        coalesce(col("__starts"), expr("array()").cast("array<int>"))
          .as("__s")), n, DocGrouping.ByDoc)

  /** The cut itself, on rows holding a doc's tokens `__t` and its
    * sorted flagged starts `__s`: `(doc_id, n_tokens, n_removed,
    * clean_text)` plus the grouping keys.
    */
  private[graft] def substrKeep(df: DataFrame, n: Int, g: DocGrouping): DataFrame =
    df.withColumn("__kept",
        filter(col("__t"), (tok, i0) => !exists(col("__s"),
          st => st <= i0 + 1 && i0 + 1 <= st + (n - 1))))
      .select(g.keys(
        col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("__kept")).as("clean_text")): _*)

  /** The standing corpus's distinct gram-fingerprint index — the
    * persistable artifact [[exactSubstrAgainstCorpus]] and the
    * streaming scrubber serve against (`Sink.saveIndex` /
    * `Load.loadIndex` round-trip, the frozen-artifact posture of the
    * LM fences / PSI reference / BM25 postings).
    */
  def substrGramIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame =
    substrGrams(substrToks(corpus, idCol, textCol), n)
      .select(col("fp")).distinct()

  /** Fold a scrubbed-and-admitted batch into the standing
    * [[substrGramIndex]] — the D28 ingest loop's maintenance step
    * (the D20/D25f posture at span granularity): the index is a
    * DISTINCT fp set, so the fold is union + distinct and
    * fold(index(C), B) ≡ rebuild(index(C ∪ B)) exactly — distinct
    * sets compose associatively, no global statistic to refresh
    * (unlike BM25's scored layer). Re-folding the same batch is a
    * no-op by the same identity. Unit-pinned (fold = rebuild +
    * idempotent replay).
    */
  def foldSubstrIndex(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame =
    index.select(col("fp"))
      .unionByName(substrGramIndex(batch, idCol, textCol, n))
      .distinct()

  /** Incremental EXACT-SUBSTRING scrub — the arrival-time member of
    * the D28 family (the D9/D21/D25d incremental-ingest posture
    * applied to the span tier): cut from each BATCH document every
    * n-token span that appears verbatim anywhere in the STANDING
    * CORPUS. The corpus never self-joins and never re-tokenizes per
    * batch when the index is persisted ([[substrGramIndex]]);
    * candidates ride one equi-join of batch windows against the
    * distinct-fp index, so work scales with the batch, not the
    * corpus². Unlike the full [[exactSubstrDedup]] there is no
    * keep-first rule to arbitrate — the corpus copy IS the keeper by
    * definition (it is already ingested); batch-internal duplication
    * is the next full pass's job (the semDedupAdmit "merges
    * deferred" posture, stated).
    *
    * Output: the [[exactSubstrDedup]] shape over the batch docs.
    */
  def exactSubstrAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val bToks = substrToks(batch, idCol, textCol)
    val flagged = substrGrams(bToks, n)
      .join(substrGramIndex(corpus, idCol, textCol, n), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    substrCut(bToks, flagged, n)
  }
}
